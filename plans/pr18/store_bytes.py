#!/usr/bin/env python3
"""Where an indexed store's bytes go: bytes per stored row, split into each
column's chunks, the footers, and the rest of each file.

    python3 plans/pr18/store_bytes.py <store> [<store> ...]

A store is a directory of `index=<i>/*.parquet` data files (a sync's sink,
or its `_failed` log). Rows are the footers' row counts. A column's bytes
are its chunks' compressed sizes, page headers included; a footer is the
thrift footer plus its 8-byte trailer; the rest is every other byte of the
files (leading magic, page indexes). The codec and statistics columns name
what the chunks of each column carry. Reads footers only; writes nothing.
"""
import glob
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def attribute(store):
    files = sorted(glob.glob(os.path.join(store, "index=*", "*.parquet")))
    rows = total = footers = 0
    cols = defaultdict(int)
    codecs = defaultdict(set)
    stats = defaultdict(set)
    for f in files:
        size = os.path.getsize(f)
        with open(f, "rb") as fh:
            fh.seek(size - 8)
            footer = int.from_bytes(fh.read(4), "little") + 8
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        total += size
        footers += footer
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                ch = rg.column(c)
                cols[ch.path_in_schema] += ch.total_compressed_size
                codecs[ch.path_in_schema].add(ch.compression)
                st = ch.statistics
                stats[ch.path_in_schema].add(
                    "min/max" if st is not None and st.has_min_max else "none")
    return files, rows, total, footers, cols, codecs, stats


def main(stores):
    for store in stores:
        files, rows, total, footers, cols, codecs, stats = attribute(store)
        if not files:
            print(f"{store}: no index=*/*.parquet data file")
            continue
        per = lambda b: b / max(1, rows)
        rest = total - footers - sum(cols.values())
        print(f"{store}: {len(files)} files, {rows} rows, {total} B, "
              f"{per(total):.1f} B/row")
        print(f"  {'part':<16} {'B/row':>8} {'share':>7}  codec       statistics")
        for name, b in sorted(cols.items(), key=lambda kv: -kv[1]):
            print(f"  {name:<16} {per(b):>8.1f} {b / total:>7.1%}  "
                  f"{','.join(sorted(codecs[name])):<11} {','.join(sorted(stats[name]))}")
        print(f"  {'(footers)':<16} {per(footers):>8.1f} {footers / total:>7.1%}")
        print(f"  {'(rest)':<16} {per(rest):>8.1f} {rest / total:>7.1%}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    main(sys.argv[1:])
