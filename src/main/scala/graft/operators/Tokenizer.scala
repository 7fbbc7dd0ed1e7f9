package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** BPE tokenizer training (Sennrich et al. '16): iteratively merge the
  * most frequent adjacent symbol pair. The missing piece of the
  * training-data story — the corpus pipeline CURATES text, this trains
  * the vocabulary the export is tokenized against.
  *
  * Representation: each word occurrence is one row holding its symbol
  * sequence encoded as a single string with a unit-separator (U+001F)
  * between symbols (symbols never contain it — they are substrings of
  * whitespace tokens). A merge of pair (l, r) is then the GREEDY
  * left-to-right BPE merge expressed as a sequential string fold: when
  * the accumulator's last symbol is exactly `l` and the next symbol is
  * `r`, append `r` WITHOUT a separator (the two symbols fuse); the
  * self-overlap case ("a a a" under pair (a,a) → [aa, a]) is correct by
  * construction because the fused symbol no longer equals `l`. The
  * identical fold runs in the DuckDB oracle (scalar string accumulator —
  * DuckDB's list_reduce cannot seed a list), so every round — pair
  * counts, argmax, rewrite — is engine-exact.
  *
  * Scale: the CC-iteration pattern (materialized rounds) over the
  * DISTINCT-WORD count table — the standard BPE training shape
  * (Sennrich's learn_bpe collapses the corpus to a word-frequency dict
  * first): pair counts weight each word's pairs by its occurrence
  * count, so every round is EXACTLY the occurrence-table computation on
  * a Zipf-compressed input (distinct words ≪ occurrences — measured
  * ~10× fewer rows and ~7× faster at sf0.1, identical output, same
  * oracle). Each round = ONE narrow per-row rewrite + ONE
  * map-side-combined weighted pair-count agg whose key space is
  * vocab²-bounded (in practice the live-pair set, far smaller); the
  * argmax is a TakeOrdered(1) — model-state to the driver, exactly like
  * the IVF centroids. The per-occurrence view the audit needs is a join
  * of the occurrence table back to the final encoded vocab — lazy, so
  * merge-table-only callers never pay it. */
object Tokenizer {

  val Sep = ""

  /** The training loop over the per-occurrence word stream: returns
    * (merge rows, final encoded distinct-word vocab `(w, wt, enc, n0)`,
    * the occurrence stream). Rounds stop early if no pair remains. */
  private def trainState(docs: DataFrame, rounds: Int, textCol: String,
      idCol: String): (Seq[(Int, String, String, Long)], DataFrame, DataFrame) = {
    val occurrences = docs
      .select(col(idCol), explode(Portable.tokens(col(textCol))).as("w"))
    var vocab = Materialize(occurrences
      .groupBy(col("w")).agg(count(lit(1)).as("wt"))
      .select(col("w"), col("wt"),
        array_join(Portable.chars(col("w")), Sep).as("enc"),
        size(Portable.chars(col("w"))).cast("long").as("n0")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = adjacentPairsWeighted(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (bl, br) = (best(0).getString(0), best(0).getString(1))
        merges += ((r, bl, br, best(0).getLong(2)))
        vocab = Materialize(vocab.select(col("w"), col("wt"),
          mergePair(col("enc"), bl, br).as("enc"), col("n0")))
        r += 1
      }
    }
    (merges.result(), vocab, occurrences)
  }

  /** Train `rounds` merges; returns (merge table rows, final encoded
    * corpus with doc_id and the round-0 symbol count per occurrence).
    * Rounds stop early if no adjacent pair remains. */
  def bpeTrain(docs: DataFrame, rounds: Int, textCol: String = "text",
      idCol: String = "doc_id"): (Seq[(Int, String, String, Long)], DataFrame) = {
    val (merges, vocab, occurrences) = trainState(docs, rounds, textCol, idCol)
    // lazy per-occurrence view: occurrences ⋈ final vocab (the vocab is
    // model-state sized, so AQE broadcasts it); merge-only callers never
    // trigger this join
    (merges,
      occurrences.join(vocab.drop("wt"), "w")
        .select(col(idCol), col("enc"), col("n0")))
  }

  /** The merge table a BPE tokenizer ships: one row per
    * (round, left_sym, right_sym, cnt). */
  def bpeMerges(docs: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, rounds, textCol)._1
      .toDF("round", "left_sym", "right_sym", "cnt")
  }

  /** Per-doc compression audit of the trained tokenizer: symbol count
    * before (chars) and after the merges — one map-side-combined agg
    * over the final materialized corpus. Token-less docs have no word
    * occurrences and drop out (the oracle's join does the same). */
  def bpeCompressionAudit(docs: DataFrame, rounds: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (_, corpus) = bpeTrain(docs, rounds, textCol, idCol)
    corpus.groupBy(col(idCol))
      .agg(sum(col("n0")).as("n_chars"),
        sum(size(split(col("enc"), Sep)).cast("long")).as("n_symbols"))
  }

  /** The id-level export a training pipeline actually consumes: apply the
    * trained merge table to every word occurrence and emit the per-doc
    * TOKEN-ID sequence — one row per (doc, position) with the dense
    * vocab id and the surface symbol. Ids are 0-based in symbol sort
    * order (the shipped vocab file's layout); `pos` is the token's
    * 0-based position within its document (word order, then symbol order
    * within the word — both deterministic).
    *
    * Scale: the encode itself is the occurrence stream joined to the
    * final distinct-word vocab (model-state sized → AQE broadcast) plus
    * ONE doc-partitioned window for positions; the id table is built
    * from the VOCAB's symbols (bounded by chars + merge rounds), so its
    * global row_number window is model-state, exactly like the IVF
    * centroid collects — never corpus-sized. */
  def bpeEncode(docs: DataFrame, rounds: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (_, vocab, _) = trainState(docs, rounds, textCol, idCol)
    val occ = docs
      .select(col(idCol), posexplode(Portable.tokens(col(textCol))))
      .toDF(idCol, "wpos", "w")
    val symed = occ.join(vocab.select(col("w"), col("enc")), "w")
      .select(col(idCol), col("wpos"), posexplode(split(col("enc"), Sep)))
      .toDF(idCol, "wpos", "spos", "sym")
    symed.join(broadcast(vocabIds(vocab)), "sym")
      .withColumn("pos", (row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("wpos"), col("spos")))
        - 1).cast("long"))
      .select(col(idCol), col("pos"), col("tok_id"), col("sym"))
  }

  /** The shipped vocab ARTIFACT of a trained tokenizer: (sym, tok_id)
    * over the final merged symbol set — what [[bpeEncode]] assigns ids
    * from and what a serving-side decoder loads. */
  def bpeVocab(docs: DataFrame, rounds: Int,
      textCol: String = "text"): DataFrame = {
    val (_, vocab, _) = trainState(docs, rounds, textCol, "doc_id")
    vocabIds(vocab)
  }

  /** BOTH frozen artifacts from ONE training run — the ordered merge
    * list and the (sym, tok_id) vocab ids. Callers that need the pair
    * (the sampled trainer, the streamed encoder) use this seam so the
    * merge table and the id map don't pay two trainings. */
  def bpeArtifacts(docs: DataFrame, rounds: Int,
      textCol: String = "text")
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val (merges, vocab, _) = trainState(docs, rounds, textCol, "doc_id")
    (merges, vocabIds(vocab))
  }

  /** Dense 0-based id per distinct final symbol of a trained vocab, in
    * symbol sort order — the id↔symbol mapping a tokenizer ships. The
    * single-partition ordering window is over the model-state-sized
    * symbol set (≤ initial chars + merge rounds), not the corpus. */
  def vocabIds(vocab: DataFrame): DataFrame =
    vocab.select(explode(split(col("enc"), Sep)).as("sym")).distinct()
      .withColumn("tok_id",
        (row_number().over(Window.orderBy(col("sym"))) - 1).cast("long"))

  /** The INGEST-side encoder: apply FROZEN artifacts (the ordered merge
    * list + the sym→id map — exactly what [[bpeMerges]]/[[bpeVocab]]
    * train offline) to a text column as ONE narrow expression — per
    * word, the char encoding folds through each merge in training
    * order, then symbols map to ids. No join, no window, no shuffle:
    * safe inside a streaming projection, the same
    * offline-trained/online-applied pattern as the PQ code assignment
    * (C61). Returns array<long> ids in document order; unknown symbols
    * (impossible when artifacts come from this corpus's training, the
    * OOV story of a real deployment) map to null.
    *
    * Scale: the artifacts ride ONE native expression's
    * constructor ([[graft.plans.BpeEncodeExpr]] → a single BpeModel
    * reference object, the HilbertKeyExpr pattern) — the earlier
    * per-merge HOF unroll + `typedLit` map would put a 30k-entry
    * literal chain in the expression tree at a production vocab, the
    * CollapseProject/codegen blowup class C173 measured. The unrolled
    * formulation survives as [[encodeWithHof]] for the parity spec;
    * TokenizerSpec guards plan+execute time at a 30k-merge vocab. */
  def encodeWith(text: Column, merges: Seq[(String, String)],
      ids: Map[String, Long]): Column =
    graft.plans.native.bpe_encode(text, merges, ids)

  /** Reference HOF formulation of [[encodeWith]] (parity tests only —
    * unrolls one merge fold per round; do not use past toy vocabs). */
  def encodeWithHof(text: Column, merges: Seq[(String, String)],
      ids: Map[String, Long]): Column = {
    val idMap = typedLit(ids)
    def wordEnc(w: Column): Column =
      merges.foldLeft(array_join(Portable.chars(w), Sep)) {
        case (enc, (l, r)) => mergePair(enc, l, r)
      }
    flatten(transform(Portable.tokens(text),
      w => transform(split(wordEnc(w), Sep), s => element_at(idMap, s))))
  }

  /** Decode-side of [[bpeEncode]]: reassemble each document from its
    * token stream (syms concatenated in pos order). Composing
    * encode→decode must reproduce the whitespace-stripped text exactly —
    * the losslessness CONTRACT of an id-level export, checkable against
    * a trivial oracle. One doc-keyed agg over the encode output. */
  def bpeRoundTrip(docs: DataFrame, rounds: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    bpeEncode(docs, rounds, textCol, idCol)
      .groupBy(col(idCol))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("pos"), col("sym")))),
        x => x.getField("sym"))).as("rebuilt"))

  /** Packs [[bpeEncode]]'s id sequences into fixed `seqLen`-id training
    * sequences with DOCUMENT-BOUNDARY offsets — the attention-mask seam
    * [[Curation.packEfficiency]] audits, now at id granularity: one row
    * per (stream, sequence, contributing doc) holding where the doc's
    * slice starts inside the sequence (`off_start`), how many of its ids
    * land there (`n_ids`), and the ids themselves in order
    * (comma-joined). Concatenating a sequence's slices in `off_start`
    * order reconstructs the training row exactly.
    *
    * Scale: the layout is the SAME single stream-partitioned running-sum
    * window as [[Curation.packSequences]] (over per-doc id counts — doc
    * rows, not tokens), then one token-granular group-by on
    * (stream, seq, doc) — O(total ids) rows through one shuffle, the
    * floor a physical id-level export cannot beat. Docs with zero
    * tokens drop out (same admission as the packer). */
  def packIds(docs: DataFrame, rounds: Int, seqLen: Int,
      streamCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val enc = bpeEncode(docs, rounds, textCol, idCol)
    val perDoc = enc.groupBy(col(idCol)).agg(count(lit(1)).as("n_ids"))
    val w = Window.partitionBy(col(streamCol)).orderBy(col(idCol))
    val laid = docs.select(col(idCol), col(streamCol)).join(perDoc, idCol)
      .withColumn("tok_end", sum(col("n_ids")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_ids"))
      .select(col(idCol), col(streamCol), col("tok_start"))
    enc.join(laid, idCol)
      .withColumn("gpos", col("tok_start") + col("pos"))
      .withColumn("seq_id", floor(col("gpos") / seqLen))
      .groupBy(col(streamCol), col("seq_id"), col(idCol))
      .agg(min(col("gpos")).as("mn"),
        count(lit(1)).as("n_ids"),
        array_join(transform(
          array_sort(collect_list(struct(col("gpos"), col("tok_id")))),
          x => x.getField("tok_id").cast("string")), ",").as("ids"))
      .withColumn("off_start", col("mn") - col("seq_id") * seqLen)
      .select(col(streamCol), col("seq_id"), col(idCol), col("off_start"),
        col("n_ids"), col("ids"))
  }

  /** Adjacent symbol-pair counts over an encoded per-occurrence corpus
    * (the explode fans out to n_syms−1 rows per word but combines
    * map-side to the live-pair universe before the shuffle). */
  def adjacentPairs(corpus: DataFrame): DataFrame =
    adjacentPairsWeighted(corpus.withColumn("wt", lit(1L)))

  /** [[adjacentPairs]] over the distinct-word table: each word's pairs
    * count `wt` times — exactly the occurrence-table counts on the
    * Zipf-compressed input. */
  def adjacentPairsWeighted(vocab: DataFrame): DataFrame = {
    val syms = split(col("enc"), Sep)
    vocab.select(col("wt"), explode(when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("l"),
            element_at(syms, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wt")).as("cnt"))
  }

  /** Greedy left-to-right merge of (l, r) in an encoded symbol string —
    * the sequential fold described in the class doc; pure narrow
    * expression, no shuffle. */
  def mergePair(enc: Column, l: String, r: String): Column =
    aggregate(split(enc, Sep), lit(""),
      (acc, s) => when(acc === "", s)
        .when((acc === l || acc.endsWith(Sep + l)) && s === r, concat(acc, s))
        .otherwise(concat(acc, lit(Sep), s)))
}
