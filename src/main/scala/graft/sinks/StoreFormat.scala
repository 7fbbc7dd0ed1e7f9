package graft.sinks

import org.apache.parquet.hadoop.metadata.CompressionCodecName

import java.util.Locale

/** The file format of the indexed store, the one definition every writer
  * of its data files uses: the store's commits and their `_failed` log
  * ([[IndexedParquetSink.commitBatch]]), [[Compaction]] and the sync's
  * metrics store. Pages are zstd at parquet's default level (3). The
  * store's `data` column, the raw message payload, is written without
  * statistics: no reader filters on it, and its min/max only filled
  * footers (a third of each compacted file's footer in syncbench's
  * stores). A `data` predicate still answers correctly; it only loses
  * row-group skipping. Readers need no setting:
  * parquet records the codec per column chunk, so a store's older snappy
  * files keep serving until the next compaction rewrites them. */
object StoreFormat {

  /** Page codec of every store data file. */
  val codec: CompressionCodecName = CompressionCodecName.ZSTD

  /** Options of a Spark write of store data files:
    * [[ForklessLocalFileSystem.options]] plus the codec and the `data`
    * statistics switch. Pass them with `.write.options(...)`. */
  private[graft] val writeOptions: Map[String, String] =
    ForklessLocalFileSystem.options ++ Map(
      "compression" -> codec.name.toLowerCase(Locale.ROOT),
      "parquet.column.statistics.enabled#data" -> "false")
}
