package graft.operators

import graft.functions.Portable
import graft.plans.native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines (SURVEY.md §2.C):
  * sequence packing, unigram-LM quality scoring, a feature-hashed linear
  * classifier, deterministic shard export, and prefix-containment dedup.
  * Every operator is a declarative plan; the only shuffles are the ones the
  * semantics require (one window per packing stream, one word-count agg,
  * one stats agg per shard, one blocked self-join).
  */
/** Configuration of a corpus-curation pipeline — the C-block analog of
  * [[SyncConfig]]: the reference's identity is a CONFIG-DRIVEN pipeline
  * (args.rs), and curation composes the same way: language allowlist →
  * near-dup removal → quality gate → benchmark holdout + rare-gram
  * decontamination → deterministic sharding, every stage driven by a
  * flag rather than code. */
final case class CurateConfig(
    langs: Seq[String] = Nil,
    minQuality: Double = 0.0,
    dedup: Boolean = true,
    minhashK: Int = 16,
    minhashBands: Int = 4,
    decontaminate: Boolean = true,
    benchMod: Int = 97,
    decontaminateN: Int = 8,
    maxDf: Int = 2,
    nShards: Int = 16,
    // when non-empty, the cleaned corpus is split via [[Curation
    // .splitAssign]] and the manifest is per (split, shard) — the full
    // train/valid/test export in one configured pipeline
    splits: Seq[(String, Double)] = Nil)

object Curation {

  /** The config-driven curation pipeline: applies each enabled stage of
    * [[CurateConfig]] and returns the per-shard export manifest (doc +
    * token counts). All stages are set-semantics filters over the
    * lang-restricted corpus, so the composition is one declarative plan
    * reusing the already-audited operator plans — no new shuffle beyond
    * its parts (the train_export posture, now configurable). */
  def curate(cfg: CurateConfig, stopwords: Seq[String])
      (docs: DataFrame): DataFrame = {
    val inLang =
      if (cfg.langs.isEmpty) docs
      else docs.filter(col("lang").isin(cfg.langs: _*))
    val deduped =
      if (!cfg.dedup) inLang
      else Dedup.applyDedup(inLang, Dedup.connectedComponents(
        Dedup.minhashCandidates(inLang, cfg.minhashK, cfg.minhashBands)))
    val scored = graft.operators.TextAnalysis.quality(deduped, stopwords)
      .filter(col("quality") >= cfg.minQuality)
    val isBench = pmod(col("doc_id"), lit(cfg.benchMod)) === 0
    val cleaned =
      if (!cfg.decontaminate) scored
      else {
        val cont = Dedup.rareGramContaminated(inLang,
            pmod(col("doc_id"), lit(cfg.benchMod)) === 0,
            cfg.decontaminateN, cfg.maxDf)
          .select(col("doc_id").as("__cont"))
        scored.filter(!isBench)
          .join(cont, col("doc_id") === col("__cont"), "left_anti")
      }
    val sharded = shardAssign(cleaned, cfg.nShards)
    if (cfg.splits.isEmpty)
      sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(native.token_count(col("text"))).as("tok_sum"))
    else
      splitAssign(sharded, cfg.splits)
        .groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(native.token_count(col("text"))).as("tok_sum"))
  }

  /** GPT-style sequence-packing manifest: per packing stream (`streamCol`),
    * documents are concatenated in deterministic `idCol` order and split
    * into fixed `seqLen`-token training sequences. Returns one row per
    * (stream, sequence) with the number of contributing docs and the token
    * fill (the last sequence of a stream may be short).
    *
    * Scale: ONE shuffle — the window partitioned by the stream column.
    * Streams are independent, so parallelism = #streams; for a corpus where
    * one stream dominates, pass a finer stream key (e.g. source+shard from
    * [[shardAssign]]) — packing quality is unaffected because sequence ids
    * are per-stream. The explode fan-out is bounded: a doc spans at most
    * n_tok/seqLen + 1 sequences, so the exploded row count is
    * O(total_tokens / seqLen + n_docs). */
  def packSequences(docs: DataFrame, seqLen: Int,
      streamCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(idCol))
    docs
      .withColumn("n_tok", native.token_count(col(textCol)))
      .filter(col("n_tok") > 0)
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tok"))
      .withColumn("seq_id", explode(sequence(
        floor(col("tok_start") / seqLen),
        floor((col("tok_end") - 1) / seqLen))))
      .groupBy(col(streamCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("tok_end"), (col("seq_id") + 1) * seqLen)
          - greatest(col("tok_start"), col("seq_id") * seqLen))
          .as("n_tokens"))
  }

  /** Packing-efficiency audit over [[packSequences]]'s layout — the
    * numbers a training team reads before a run: per stream, the doc and
    * sequence counts, total tokens, the fill rate (tokens / (n_seqs ×
    * seqLen); contiguous-concat packing wastes only the final partial
    * sequence, so this is ≈1 − waste), and how many docs are SPLIT
    * across a sequence boundary (attention-masking / document-bleed
    * exposure). NOTE `n_docs` counts PACKED docs only — zero-token docs
    * fail the packer's admission (`n_tok > 0`, same as
    * [[packSequences]]) and are excluded here too; corpus-level doc
    * counts come from curate_dq_report, not this audit. Same single
    * stream-partitioned window as the packer — one shuffle, then a
    * per-stream agg. */
  def packEfficiency(docs: DataFrame, seqLen: Int,
      streamCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(idCol))
    docs
      .withColumn("n_tok", native.token_count(col(textCol)))
      .filter(col("n_tok") > 0)
      .withColumn("tok_end", sum(col("n_tok")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tok"))
      .withColumn("first_seq", floor(col("tok_start") / seqLen))
      .withColumn("last_seq", floor((col("tok_end") - 1) / seqLen))
      .groupBy(col(streamCol))
      .agg(count(lit(1)).as("n_docs"),
        max(col("tok_end")).as("total_tokens"),
        (floor((max(col("tok_end")) - 1) / seqLen) + 1).as("n_seqs"),
        sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
          .as("n_split_docs"))
      .withColumn("fill_rate",
        round(col("total_tokens") / (col("n_seqs") * seqLen), 6))
  }

  /** Unigram-LM quality proxy (the CCNet/KenLM-filter shape with a
    * corpus-trained unigram model): per doc, the average corpus frequency
    * of its tokens and the count of rare tokens (frequency below the
    * corpus mean — an integer comparison, `cnt * n_types < n_total`, so
    * the flag is engine-exact). Low avg_freq / high n_rare = gibberish.
    *
    * Scale: word counts are a map-side-combined agg on a Zipf-spread key;
    * the count table is O(vocab) so AQE broadcasts the score join here.
    * On web-scale vocabularies too big to broadcast, the join shuffles by
    * word and the Zipf head ("the") concentrates in single partitions —
    * the shape AQE skew-join splits (the build side is one row per word,
    * so the hot partition splits freely). Caveat proven in
    * ScaleTechniquesSpec: OptimizeSkewedJoin only matches a sort-merge
    * join whose Sort children sit DIRECTLY on shuffle stages, so the
    * count table must be materialized ([[Materialize]], or read from a
    * stored vocab artifact — the norm at web scale) rather than kept as
    * an inline aggregate under the join. The token explode is
    * evaluated twice (count pass + score pass) — a cheap split, not worth
    * materializing O(corpus) tokens to avoid. */
  def lmUnigramScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    freqScore(docs, 1, gramCounts(docs, 1, textCol), "n_tok", idCol, textCol)

  /** Bigram-LM quality proxy — one order up from [[lmUnigramScore]]
    * (closer to the KenLM-style filters, which condition on context):
    * per doc, the average corpus frequency of its token BIGRAMS and the
    * count of rare bigrams (frequency below the corpus mean, integer-
    * exact). Docs with < 2 tokens have no bigrams and drop out.
    *
    * Scale: same shape as the unigram scorer — a map-side-combined count
    * agg on the bigram key and a score join. The bigram table is
    * O(vocab²)-bounded but Zipf-concentrated in practice; at web scale it
    * must be MATERIALIZED (stored artifact) for AQE's skew-join split to
    * apply to the score join (see the caveat on [[lmUnigramScore]]). */
  def lmBigramScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    freqScore(docs, 2, gramCounts(docs, 2, textCol), "n_bigrams", idCol,
      textCol)

  /** The body of every frequency scorer: joins each doc's order-`n`
    * grams to a (gram, cnt) table (the corpus counts, or a stored vocab)
    * and aggregates per doc the gram count (`nCol`), the frequency sum,
    * the rare grams (`cnt * n_types < n_total`, integer-exact, with
    * n_types and n_total the table's type and occurrence totals,
    * broadcast) and `avg_freq`. Grams absent from the table drop out of
    * the inner join. */
  private def freqScore(docs: DataFrame, n: Int, counts: DataFrame,
      nCol: String, idCol: String, textCol: String): DataFrame = {
    val table = counts.select(col(gramName(n)), col("cnt"))
    val totals = table.agg(count(lit(1)).as("n_types"),
      sum(col("cnt")).as("n_total"))
    docGrams(docs, n, idCol, textCol).join(table, gramName(n))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(nCol),
        sum(col("cnt")).as("freq_sum"),
        sum(when(col("cnt") * col("n_types") < col("n_total"), 1L)
          .otherwise(0L)).as("n_rare"))
      .withColumn("avg_freq", col("freq_sum") / col(nCol))
  }

  /** The column of `text`'s token n-grams of order `n` (1 to 3): the
    * tokens, or the native single-pass bigram / trigram expression (the
    * HOF spelling, `element_at(tokens(text), i)` per element, re-tokenizes
    * the doc for every gram — O(n²·len) per row, measured 10× slower). */
  private def grams(text: Column, n: Int): Column = n match {
    case 1 => Portable.tokens(text)
    case 2 => native.word_bigrams(text)
    case 3 => native.word_trigrams(text)
  }

  /** The gram column's name for order `n`: word, bigram or trigram. */
  private def gramName(n: Int): String = Seq("word", "bigram", "trigram")(n - 1)

  /** Every doc's order-`n` grams, one (idCol, gram) row each. */
  private def docGrams(docs: DataFrame, n: Int, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), explode(grams(col(textCol), n)).as(gramName(n)))

  /** The (gram, `cnt`) corpus count table of order-`n` grams — one
    * map-side-combined agg on the gram key. Every count table in this
    * object (the inline LM scorers, the vocab artifacts, the KN tables)
    * is this one. */
  private def gramCounts(docs: DataFrame, n: Int, textCol: String,
      cnt: String = "cnt"): DataFrame =
    docs.select(explode(grams(col(textCol), n)).as(gramName(n)))
      .groupBy(col(gramName(n))).agg(count(lit(1)).as(cnt))

  /** INTERPOLATED bigram⊕unigram LM score on the milli-probability
    * lattice — the Jelinek–Mercer mixture (λ=0.7) that backs off where
    * the bigram table is sparse, between [[lmBigramScore]] (no backoff)
    * and the KN model (full discounting): per bigram,
    * p = (7·((c(w1,w2)·1000) div c(w1)) + 3·((c(w2)·1000) div N)) div 10
    * — all integer div on non-negatives, so both engines agree exactly.
    * Per doc: bigram count, Σp (milli), and the count of improbable
    * transitions (p < 1%). Docs with < 2 tokens drop (no bigrams).
    *
    * Scale: the same Zipf-keyed score joins as the other LM scorers
    * (materialize + AQE skew-split caveat applies); totals broadcast. */
  def lmInterpScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val uni = gramCounts(docs, 1, textCol, "ucnt")
    val tot = uni.agg(sum(col("ucnt")).as("n_total"))
    val bigrams = docGrams(docs, 2, idCol, textCol)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val bi = gramCounts(docs, 2, textCol, "bcnt")
    bigrams.join(bi, "bigram")
      .join(uni.select(col("word").as("w1"), col("ucnt").as("c1")), "w1")
      .join(uni.select(col("word").as("w2"), col("ucnt").as("c2")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("p_milli", expr(
        "(7 * ((bcnt * 1000) div c1) + 3 * ((c2 * 1000) div n_total)) div 10"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_milli")).as("interp_sum_milli"),
        sum(when(col("p_milli") < 10, 1L).otherwise(0L)).as("n_improbable"))
  }

  /** Cross-document repeated token spans — the chunk-hash approximation
    * of exact-substring dedup (the "dedup training data" span pass):
    * each doc is cut into NON-OVERLAPPING `w`-token chunks (full chunks
    * only), each chunk poly-hashed; spans appearing in ≥ `minDocs`
    * distinct documents are reported with occurrence counts. A repeated
    * span of length ≥ 2w−1 tokens is guaranteed to produce at least one
    * matching full chunk pair when the docs share chunk alignment (the
    * exact-dup / prefix-dup case this targets); sliding-window winnowing
    * ([[Dedup.winnowCandidates]]) covers unaligned overlap.
    *
    * Scale: explode fan-out is n_tok/w per doc; ONE shuffle on the
    * well-spread span hash with map-side partial aggregation. */
  def repeatedSpans(docs: DataFrame, w: Int = 16, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hotSpans(spanHashes(docs, w, w, idCol, textCol), minDocs, idCol)

  /** Poly-hashes of the full `w`-token chunks of `toks` that start every
    * `stride` tokens (starts 0, stride, … ≤ size − w). A doc shorter than
    * one chunk yields none: the guard keeps `sequence` from running
    * backwards to a negative start. */
  private def spanChunks(toks: Column, w: Int, stride: Int): Column =
    when(size(toks) < w, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(toks) - w, lit(stride)),
        st => native.poly_hash(concat_ws(" ", slice(toks, st + 1, lit(w))))))

  /** One (idCol, span_hash) row per chunk of every doc. */
  private def spanHashes(docs: DataFrame, w: Int, stride: Int, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(spanChunks(Portable.tokens(col(textCol)), w, stride))
        .as("span_hash"))

  /** Chunk hashes seen in ≥ `minDocs` distinct docs, with their doc count,
    * occurrence count and smallest doc id. */
  private def hotSpans(spans: DataFrame, minDocs: Int,
      idCol: String): DataFrame =
    spans.groupBy(col("span_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col(idCol)).as("min_doc"))
      .filter(col("n_docs") >= minDocs)

  /** [[repeatedSpans]] with a HALF-CHUNK STRIDE — the boundary-gap
    * closer: chunks start every w/2 tokens instead of every w, so a
    * repeated region that straddles an aligned-chunk boundary (the case
    * the non-overlapping pass provably misses) still yields a complete
    * matching chunk. Recall semantics: a repeated region of
    * ≥ w + stride − 1 = 1.5w − 1 tokens is guaranteed to contain a full
    * stride-aligned chunk in BOTH docs whenever the two copies start at
    * offsets congruent mod stride (the aligned pass needed 2w − 1 AND
    * whole-chunk alignment); winnowing ([[Dedup.winnowCandidates]])
    * remains the net for arbitrary offsets. Cost: exactly 2× the explode
    * fan-out of the aligned pass — still n_tok·2/w rows per doc — and
    * the same single map-side-combined shuffle on the span hash. */
  def repeatedSpansOverlap(docs: DataFrame, w: Int = 16, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hotSpans(spanHashes(docs, w, math.max(w / 2, 1), idCol, textCol),
      minDocs, idCol)

  /** EXACT repeated-span pass with TRUE boundaries — the verify-extend
    * stage above the [[repeatedSpans]]/[[repeatedSpansOverlap]] chunk
    * screens (the Lee et al. '22 exact-substring
    * semantics in relational form): a `w`-token window slides at EVERY
    * token position (stride 1), a position is MARKED when its window's
    * exact text occurs in ≥ `minDocs` distinct documents, and each
    * doc's maximal runs of consecutive marked positions merge into
    * spans — `[span_start, span_end]` token bounds (inclusive,
    * 0-based), exactly the duplicated region the paper's suffix-array
    * pass would cut. This closes both chunk-screen gaps at once:
    * arbitrary (non-congruent) copy offsets and lengths down to w
    * (the aligned pass needs ≥ 2w−1 + alignment; half-stride needs
    * ≥ 1.5w−1 + offset congruence mod w/2 — a 20-token copy at
    * offsets 0 and 3 is invisible to both, spec-proven).
    *
    * Verify-extend shape: stage 1 shuffles only (pos, 8-byte window
    * hash) — the n_tok-row screen — and keeps hashes seen in ≥
    * `minDocs` docs; stage 2 re-slices the CANDIDATE positions' window
    * text and verifies exact-text support, so a 2^31-hash collision
    * can never mark a span (the relation is hash-free: "window text
    * shared by ≥ minDocs docs"); stage 3 is the per-doc island merge.
    *
    * Scale: stride 1 costs n_tok rows through the screen shuffle —
    * the honest O(total tokens) of exact-substring dedup (Lee et al.
    * pay it in suffix arrays). The wide text-carrying shuffle is paid
    * only by verified-candidate positions; at 100 TB run the chunk
    * screens first and feed this pass the candidate partitions. Both
    * relations consumed twice — `base` (tokenize) by the window
    * explode and the verify re-slice, `wins` (the stride-1 explode +
    * poly-hash, the dominant cost) by the screen groupBy and the
    * candidate join — are [[Materialize]]d so each scan runs ONCE;
    * without it the differing exchanges (partial-agg child vs raw
    * child) defeat ReuseExchange and the corpus is tokenized + hashed
    * twice. */
  def repeatedSpansExact(docs: DataFrame, w: Int = 16, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w > 0 && minDocs > 1, s"need w > 0, minDocs > 1; got $w, $minDocs")
    val base = Materialize(docs
      .select(col(idCol).as("doc_id"), Portable.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= w))
    val wins = Materialize(base.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), size(col("t")) - w),
        p => native.poly_hash(concat_ws(" ", slice(col("t"), p + 1, lit(w)))))))
      .toDF("doc_id", "pos", "whash"))
    // screen: 8-byte hashes only; distinct-doc support is map-side
    // partially aggregated on the well-spread hash key
    val cand = wins.groupBy(col("whash"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("whash"))
    // verify: re-slice candidate windows' TEXT and require exact-text
    // support — hash collisions die here, so the output relation is
    // hash-independent
    val candWins = wins.join(cand, "whash")
      .join(base, "doc_id")
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("t"), col("pos") + 1, lit(w))).as("wtext"))
    val sharedText = candWins.groupBy(col("wtext"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("wtext"))
    val verified = candWins.join(sharedText, "wtext")
      .select(col("doc_id"), col("pos"))
    // extend: gaps-and-islands over consecutive marked positions
    val isl = verified.withColumn("g",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    isl.groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + w - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_wins"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_wins"))
  }

  /** The 100 TB POSTURE of [[repeatedSpansExact]]: the cheap
    * half-stride chunk screen nominates CANDIDATE DOCUMENTS (any doc
    * holding a stride-grid chunk shared by ≥ `minDocs` docs), and the
    * exact stride-1 verify-extend pass runs only over that slice — true
    * span boundaries at screen-bounded cost. The trade is explicit:
    * recall is the SCREEN's (copies ≥ 1.5w−1 tokens at offsets
    * congruent mod w/2 nominate both members; shorter/unaligned copies
    * need the full-recall [[repeatedSpansExact]] face), and shared-
    * window support is counted WITHIN the nominated slice. One extra
    * n_tok·2/w-row screen shuffle in front of the exact pass's
    * candidate-bounded work. The screen's chunk explode `ch` is
    * consumed by both the hot-hash groupBy and the candidate join, so
    * it is [[Materialize]]d — the half-stride tokenize + hash of the
    * whole corpus runs once. */
  def repeatedSpansCascade(docs: DataFrame, w: Int = 16, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ch = Materialize(
      spanHashes(docs, w, math.max(w / 2, 1), idCol, textCol))
    val hot = hotSpans(ch, minDocs, idCol).select(col("span_hash"))
    val cand = ch.join(hot, "span_hash").select(col(idCol)).distinct()
    repeatedSpansExact(docs.join(cand, idCol), w, minDocs, idCol, textCol)
  }

  /** [[lmUnigramScore]] against a STORED vocab artifact — the web-scale
    * shape the inline version's caveat documents: `vocab` is the
    * [[vocabBuild]] table read back from storage (word, cnt, vocab_id),
    * so the score join's build side sits DIRECTLY on a shuffle stage and
    * AQE's skew-join split applies to the Zipf head when the vocab is
    * too big to broadcast (proven in ScaleTechniquesSpec against a
    * written parquet artifact). Scores are identical to the inline
    * version when the vocab was built with minCount = 1 over the same
    * corpus; tokens absent from the vocab drop out of the scoring join
    * (inner join — the stored-artifact contract). */
  def lmUnigramScoreVocab(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    freqScore(docs, 1, vocab, "n_tok", idCol, textCol)

  /** [[lmBigramScore]] against the STORED [[bigramVocabBuild]] artifact —
    * the same web-scale wiring as [[lmUnigramScoreVocab]]: the bigram
    * count table is read from storage, so the score join's build side
    * sits directly on a shuffle stage and AQE's skew split applies to
    * the Zipf head. Scores ≡ the inline formulation for a minCount = 1
    * vocab over the same corpus. */
  def lmBigramScoreVocab(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    freqScore(docs, 2, vocab, "n_bigrams", idCol, textCol)

  /** Epoch-style source upsampling — the data-mixture counterpart of
    * temperature DOWNsampling: each source gets a repeat factor r (its
    * "epochs"); every doc is emitted floor(r) times plus one more with
    * probability frac(r), decided by a deterministic per-doc hash draw
    * (reproducible across engines and reruns — no rand()). Output rows
    * carry `copy` (1..n_copies), the repeat index a downstream packer or
    * shuffler treats as distinct examples.
    *
    * Scale: one narrow pass; the explode fan-out is Σ r(source)·n_docs
    * by construction — the exact size increase the mixture asked for. */
  def mixUpsample(docs: DataFrame, weights: Map[String, Double],
      sourceCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val r = weights.foldRight(lit(1.0)) { case ((s, x), acc) =>
      when(col(sourceCol) === s, lit(x)).otherwise(acc)
    }
    docs.withColumn("__r", r)
      .withColumn("__full", floor(col("__r")))
      // affine rehash (as [[splitAssign]]): the raw poly hash of
      // "mix:<sequential id>" is prefix-banded, which silently turned
      // Bernoulli(frac(r)) into "always for frac ≥ 0.2, never below" —
      // measured: ×2.5 upsampling emitted ×3.0
      .withColumn("__u",
        ((native.poly_hash(concat(lit("mix:"), col(idCol).cast("string")))
          * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0))
          % graft.plans.HashOps.M).cast("double") / graft.plans.HashOps.M)
      .withColumn("n_copies", col("__full") +
        when(col("__u") < col("__r") - col("__full"), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .drop("__r", "__full", "__u")
  }

  /** Frequency-ranked vocabulary artifact — the stored table the
    * materialized-score joins consume ([[lmUnigramScoreVocab]]'s
    * web-scale path): word → (vocab_id, count), ids dense in
    * (count desc, word) order. The rank is the TWO-PHASE
    * [[globalRank]] — at the 100 TB design point the distinct-token
    * universe of a web corpus is 10⁸–10⁹ rows (typos, URLs, code), so a
    * single-partition global window over it would be the one
    * driver-adjacent bottleneck in the pipeline; here no task ever sorts
    * more than its range slice. */
  def vocabBuild(docs: DataFrame, minCount: Long = 1,
      textCol: String = "text"): DataFrame =
    rankedVocab(docs, 1, minCount, textCol)

  /** The UNRANKED (word, cnt) table behind [[vocabBuild]] — the partial
    * artifact an incremental ingest stores per batch. */
  def vocabCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    gramCounts(docs, 1, textCol)

  /** INCREMENTAL vocab maintenance: merge stored per-batch count
    * artifacts (plain commutative sums), apply minCount on the MERGED
    * totals (a word crossing the threshold only after merging is kept —
    * filtering the parts first would lose it), and re-rank through the
    * two-phase rank. At 100 TB this is the daily-ingest shape: yesterday's
    * O(vocab) artifact + today's delta counts, NO rescan of history —
    * provably ≡ a from-scratch [[vocabBuild]] because count sums are
    * associative-commutative and the rank is a pure function of the
    * merged table (spec + oracle-exact vs the full rebuild). */
  def vocabMerge(parts: Seq[DataFrame], minCount: Long = 1): DataFrame = {
    val merged = parts.reduce(_ unionAll _)
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") >= minCount)
    globalRank(merged, Seq(col("cnt").desc, col("word")), "vocab_id")
  }

  /** The BIGRAM counterpart of [[vocabBuild]] — the stored artifact
    * [[lmBigramScoreVocab]] consumes: bigram → (vocab_id, count), ids
    * dense in (count desc, bigram) order via the same two-phase rank.
    * The bigram universe is larger than the unigram one (Zipf-bounded
    * in practice, O(vocab²) in theory), which is exactly why the rank
    * must never hit a single partition. */
  def bigramVocabBuild(docs: DataFrame, minCount: Long = 1,
      textCol: String = "text"): DataFrame =
    rankedVocab(docs, 2, minCount, textCol)

  /** The order-`n` vocab artifact: (gram, cnt, vocab_id) for grams seen
    * ≥ `minCount` times, ids dense in (cnt desc, gram) order. */
  private def rankedVocab(docs: DataFrame, n: Int, minCount: Long,
      textCol: String): DataFrame =
    globalRank(gramCounts(docs, n, textCol).filter(col("cnt") >= minCount),
      Seq(col("cnt").desc, col(gramName(n))), "vocab_id")

  /** Two-phase global dense rank over a TOTAL order with no
    * single-partition window: `repartitionByRange` on the order puts
    * every row of partition i strictly before every row of partition
    * i+1; `row_number` over a window PARTITIONED by the range-partition
    * id ranks each slice in parallel; adding the per-partition start
    * offsets (a bounded nPartitions-row aggregate, collected and
    * broadcast back — model-state sized, never O(table)) makes the local
    * ranks global. The range-shuffled table is materialized once so the
    * offset pass and the final projection both scan it instead of
    * re-deriving the upstream plan. Rank values are independent of the
    * sampled range boundaries — offsets + local ranks always compose to
    * the exact global rank — so the result is partition-layout exact. */
  def globalRank(table: DataFrame, order: Seq[org.apache.spark.sql.Column],
      outCol: String): DataFrame = {
    val spark = table.sparkSession
    import spark.implicits._
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = Materialize(table.repartitionByRange(nParts, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val sizes = parted.groupBy(col("__pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = sizes.toSeq.map { case (pid, n) =>
      val o = (pid, acc); acc += n; o
    }.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    parted.join(broadcast(offsets), "__pid")
      .withColumn(outCol,
        row_number().over(w).cast("long") - 1L + col("__off"))
      .select(table.columns.map(col) :+ col(outCol): _*)
  }

  /** SAMPLED file cut points over a sort key — the production layout
    * writer's boundary pass (the RangePartitioner
    * shape, made deterministic): a fixed-size uniform sample (bottom-`m`
    * rows under the C99 affine sample priority of `idCol` — a
    * distributed top-k, NO global sort or rank) is collected, sorted by
    * the key on the driver, and its `nFiles − 1` within-sample quantile
    * elements become the file boundaries. Assignment downstream is one
    * NARROW per-row expression (count of boundaries ≤ key), so writing
    * a z-ordered layout costs one scan + one top-k action — the exact
    * global rank the audit rows pay (two-phase shuffle + window) never
    * runs. File sizes are approximate (sample-quantile balance, the
    * trade every RangePartitioner makes); the boundaries are a pure
    * function of the data, so the layout is engine-reproducible and
    * the `shard_zorder_sampled` oracle recomputes it exactly.
    *
    * Scale: the sample action moves m rows to the driver (model-state,
    * corpus-size-independent); everything else is embarrassingly
    * parallel. Requires n ≥ m (a corpus smaller than the sample should
    * use the exact rank — it is cheap there). */
  def sampledRangeBounds(df: DataFrame, keyCol: Column, idCol: Column,
      tieCols: Seq[org.apache.spark.sql.Column], m: Int,
      nFiles: Int): Array[Long] = {
    require(m >= nFiles && nFiles > 1,
      s"need sample m >= nFiles > 1, got m=$m nFiles=$nFiles")
    val sample = df
      .select((keyCol.as("__k") +: samplePriority(idCol).as("__pu")
        +: tieCols): _*)
      .orderBy(col("__pu") +: tieCols: _*)
      .limit(m)
      .select(col("__k")).collect().map(_.getLong(0)).sorted
    require(sample.length == m,
      s"corpus has only ${sample.length} rows < sample size $m — " +
        "use the exact-rank layout at this scale")
    (1 until nFiles).map(i => sample((i * m) / nFiles)).toArray
  }

  /** Per-row file assignment against [[sampledRangeBounds]] boundaries:
    * file = count of boundaries ≤ key — ties land deterministically in
    * the upper file. A native binary-search expression (the boundary
    * array rides the constructor as a reference object), so the key
    * expression evaluates exactly ONCE per row; the HOF spelling
    * captured the key inside the lambda and re-evaluated the whole
    * z-interleave fold per boundary — 34 s vs ~1 s at sf0.1. */
  def fileIdFor(bounds: Array[Long], keyCol: Column): Column =
    graft.plans.native.bounds_file_id(keyCol, bounds)

  /** Two-phase GLOBAL CUMULATIVE SUM over a total order — the running-
    * total sibling of [[globalRank]] and the primitive behind
    * budget-bounded curation ("take the best documents until the token
    * budget is full"): `repartitionByRange` on the order, a per-partition
    * running sum (window PARTITIONED by the range id — parallel, never a
    * single-partition sort), then broadcast per-partition value totals
    * as starting offsets (bounded nPartitions-row agg, model-state
    * sized). Layout-exact for the same reason the rank is: offsets +
    * local partial sums always compose to the exact prefix sum. */
  def globalCumSum(table: DataFrame, order: Seq[org.apache.spark.sql.Column],
      valueCol: org.apache.spark.sql.Column, outCol: String): DataFrame = {
    val spark = table.sparkSession
    import spark.implicits._
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = Materialize(table.withColumn("__v", valueCol)
      .repartitionByRange(nParts, order: _*)
      .withColumn("__pid", spark_partition_id()))
    val sizes = parted.groupBy(col("__pid")).agg(sum(col("__v")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = sizes.toSeq.map { case (pid, t) =>
      val o = (pid, acc); acc += t; o
    }.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.join(broadcast(offsets), "__pid")
      .withColumn(outCol, sum(col("__v")).over(w) + col("__off"))
      .select(table.columns.map(col) :+ col(outCol): _*)
  }

  /** Deterministic train/validation/test split — the reproducible
    * hash-based assignment every training-data export needs: each doc
    * draws u = hash("split:" + id) / M in [0, 1) and lands in the first
    * split whose cumulative fraction covers u. Content-independent,
    * engine-portable (the same affine hash family as the samplers), and
    * stable under corpus growth: adding documents never moves an
    * existing one between splits (the property a random_split lacks).
    * ONE narrow pass, no shuffle. */
  def splitAssign(docs: DataFrame, fracs: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    require(fracs.nonEmpty && math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    // the raw poly hash of "split:<sequential id>" is prefix-dominated
    // (u concentrates in a narrow band); one affine rehash from the
    // minhash permutation family makes the draw uniform — measured
    // 0.898 / 0.949 at the 0.9 / 0.95 thresholds over 5000 ids
    val h = native.poly_hash(concat(lit("split:"), col(idCol).cast("string")))
    val u = ((h * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0))
      % graft.plans.HashOps.M).cast("double") / graft.plans.HashOps.M
    val cum = fracs.scanLeft(0.0)(_ + _._2).tail
    val expr = fracs.zip(cum).init.foldRight(lit(fracs.last._1): org.apache.spark.sql.Column) {
      case (((name, _), c), acc) => when(u < c, lit(name)).otherwise(acc)
    }
    docs.withColumn("split", expr)
  }

  /** Cross-source contamination audit — the overlap MATRIX a mixture
    * designer checks before weighting sources (high pairwise overlap ⇒
    * the mixture double-counts the shared content): for each pair of
    * sources, the number of distinct char-n-grams both contain and the
    * gram-set jaccard. Grams are made distinct per (source, gram) FIRST
    * (map-side combined), so the pair join fans out by the per-gram
    * source list — bounded by #sources (a constant ~100s even at web
    * scale), never by occurrence counts. Scale: one gram-keyed shuffle
    * plus a #sources²-bounded aggregate.
    *
    * `domainMod` bounds the shuffle for 100 TB corpora: keep only grams
    * whose hash ≡ 0 (mod domainMod) — a deterministic 1/domainMod sample
    * of the GRAM DOMAIN, identical across sources (the mod-sampling
    * estimator; same family as bottom-k/KMV coordinated sampling).
    * Because every source is filtered by the same hash predicate, a
    * sampled intersection/union is an unbiased 1/domainMod scale of the
    * true one: `n_shared` is reported scaled back up (×domainMod), and
    * `jaccard` is the sampled ratio, a consistent estimator of the true
    * jaccard (ratio of coordinated samples; relative error ~
    * 1/sqrt(|A∩B|/domainMod)). domainMod=1 keeps the exact matrix. The
    * explode+distinct+join shuffle shrinks by domainMod — the lever that
    * turns shuffle ∝ corpus-chars into shuffle ∝ corpus-chars/domainMod;
    * the production screen stays [[sourceOverlapSketch]], with this as
    * the tunable exact/estimate path. */
  def sourceOverlap(docs: DataFrame, n: Int = 8,
      srcCol: String = "source", textCol: String = "text",
      domainMod: Long = 1L): DataFrame = {
    require(domainMod >= 1, "domainMod must be >= 1")
    // the per-source distinct gram table feeds BOTH self-join sides and
    // the size marginal — materialized once (the dedup_ngram_jaccard
    // double-encode fix), so the corpus explode+distinct runs a single
    // time instead of three
    val exploded = docs.select(col(srcCol).as("src"),
        explode(native.ngram_hash_set(col(textCol), n)).as("gram"))
    // the domain filter sits BEFORE distinct: it prunes at the scan-side
    // projection, so the distinct's shuffle already carries only the
    // sampled domain
    val sampled = if (domainMod == 1L) exploded
      else exploded.filter(pmod(col("gram"), lit(domainMod)) === 0)
    val grams = Materialize(sampled.distinct())
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val a = grams.select(col("gram"), col("src").as("source_a"))
    val b = grams.select(col("gram"), col("src").as("source_b"))
    a.join(b, "gram").filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("src").as("source_a"),
        col("n_grams").as("__na"))), "source_a")
      .join(broadcast(sizes.select(col("src").as("source_b"),
        col("n_grams").as("__nb"))), "source_b")
      .withColumn("jaccard", round(col("n_shared") /
        (col("__na") + col("__nb") - col("n_shared")), 6))
      // `domain_mod` marks the row shape: 1 = exact counts, >1 = the
      // rescaled-n_shared estimator (where n_shared/(|A|+|B|−n_shared)
      // ≠ jaccard, because jaccard is the SAMPLED ratio) — consumers
      // must not recompute jaccard from the rescaled count
      .select(col("source_a"), col("source_b"),
        (col("n_shared") * domainMod).as("n_shared"),
        col("jaccard"), lit(domainMod).as("domain_mod"))
  }

  /** Screen → exact composition over the source-overlap ladder (the
    * production 100 TB path run end-to-end instead of as two separate
    * operators): [[Dedup.sourceMinhashOverlap]]'s O(sources·k) sketch
    * screens every pair, and the exact gram recount runs ONLY for pairs
    * the sketch flags with ≥ `minMatch` matching minhash slots (an
    * integer threshold — never a float compare at the boundary).
    *
    * Scale shape: the flagged-pair set is #sources²-bounded model state,
    * BROADCAST three ways — each side of the gram self-join keeps only
    * sources that appear in a flagged pair (the gram explode/distinct
    * shuffle shrinks to flagged sources before the join), and the joined
    * pairs are pair-filtered before the count agg. The corpus-chars
    * shuffle that makes exact overlap quadratic-ish at 100 TB is paid
    * only for the (typically tiny) flagged subset; everything else stops
    * at the sketch. Output carries both the screen's estimate and the
    * exact recount, so the row is its own screen-quality audit. */
  def sourceOverlapFlagged(docs: DataFrame, n: Int = 8, k: Int = 16,
      minMatch: Int = 2, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(minMatch >= 1 && minMatch <= k, "minMatch must be in [1, k]")
    // the sketch pass feeds FOUR consumers (both side filters, the pair
    // filter, the final left join) — materialized once so the corpus
    // scan behind it runs once (the dedup_ngram_jaccard lesson); it is
    // #sources²-bounded model state
    val flagged = Materialize(Dedup.sourceMinhashOverlap(docs, k,
        srcCol = srcCol, textCol = textCol)
      .filter(col("n_match") >= minMatch)
      .select(col("source_a"), col("source_b"), col("est_jaccard")))
    val flaggedSrcs = flagged
      .select(explode(array(col("source_a"), col("source_b"))).as("src"))
      .distinct()
    // restrict the gram table to FLAGGED sources BEFORE the distinct's
    // shuffle (sizes are only read for flagged sources, so nothing
    // downstream needs the others) — with zero flagged pairs the
    // corpus-chars shuffle never happens, which is the operator's whole
    // contract
    val exploded = docs.select(col(srcCol).as("src"),
        explode(native.ngram_hash_set(col(textCol), n)).as("gram"))
      .join(broadcast(flaggedSrcs), Seq("src"), "left_semi")
    val grams = Materialize(exploded.distinct())
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val aSrc = flagged.select(col("source_a").as("src")).distinct()
    val bSrc = flagged.select(col("source_b").as("src")).distinct()
    val a = grams.join(broadcast(aSrc), "src")
      .select(col("gram"), col("src").as("source_a"))
    val b = grams.join(broadcast(bSrc), "src")
      .select(col("gram"), col("src").as("source_b"))
    val recount = a.join(b, "gram").filter(col("source_a") < col("source_b"))
      .join(broadcast(flagged.select(col("source_a"), col("source_b"))),
        Seq("source_a", "source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("__n"))
    // LEFT from the flagged set: a sketch-flagged pair sharing ZERO
    // exact grams (the screen's false positive — possible because the
    // sketch shingles words while the recount uses char n-grams) must
    // surface as an n_shared=0 row, not vanish — that row IS the
    // screen-quality finding
    flagged.join(recount, Seq("source_a", "source_b"), "left")
      .join(broadcast(sizes.select(col("src").as("source_a"),
        col("n_grams").as("__na"))), "source_a")
      .join(broadcast(sizes.select(col("src").as("source_b"),
        col("n_grams").as("__nb"))), "source_b")
      .withColumn("n_shared", coalesce(col("__n"), lit(0L)))
      .withColumn("jaccard", round(col("n_shared") /
        (col("__na") + col("__nb") - col("n_shared")), 6))
      .select(col("source_a"), col("source_b"), col("est_jaccard"),
        col("n_shared"), col("jaccard"))
  }

  /** Feature-hashed linear classifier (fasttext-shaped): each token hashes
    * to a weight, the doc score is the weight sum, predict = score > 0.
    * Weights are deterministic functions of the token hash (stand-in for a
    * trained vector — no pretrained models in the sandbox); the plumbing
    * (hash → weight → sum as ONE native codegen'd expression, zero shuffle,
    * pipelined with the scan) is the production shape: a real model swaps
    * the weight formula for a broadcast array lookup at the same hash. */
  def hashedLinearScore(docs: DataFrame, halfRange: Int = 1000,
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_tok", native.token_count(col(textCol)))
      .withColumn("score", native.hashed_linear_score(col(textCol), halfRange))
      .withColumn("pred", col("score") > 0)

  /** Per-source robust CALIBRATION of the classifier score (the
    * cross-source normalization step before a single global threshold:
    * raw scores are not comparable across sources whose length/register
    * distributions differ, so each source is centered by its MEDIAN and
    * scaled by its MAD, the outlier-insensitive pair): z = (score −
    * med) / mad, keep = z > `zFloor`. A zero-MAD source (all scores
    * equal) calibrates to z = 0 and keeps everything — no division, no
    * outliers to cut. Exact arithmetic: scores are integers, exact
    * interpolated medians land on the binary-fraction lattice, and the
    * one division runs on identical doubles both engines round to 6dp
    * identically.
    *
    * Scale: two map-side-combined per-source aggregates (exact
    * percentile state is per-group; #sources is small) broadcast back
    * onto the scored stream — the corpus is scanned twice and never
    * shuffled on a data key; at 100 TB the two model tables are a few
    * rows each. */
  def qualityCalibrate(docs: DataFrame, zFloor: Double = -1.0,
      idCol: String = "doc_id", srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val scored = hashedLinearScore(docs, textCol = textCol)
      .select(col(idCol), col(srcCol), col("score"))
    val med = scored.groupBy(col(srcCol))
      .agg(expr("percentile(score, 0.5)").as("med"))
    val withMed = scored.join(broadcast(med), srcCol)
    val mad = withMed.groupBy(col(srcCol))
      .agg(expr("percentile(abs(score - med), 0.5)").as("mad"))
    val z = when(col("mad") === 0.0, lit(0.0))
      .otherwise((col("score") - col("med")) / col("mad"))
    withMed.join(broadcast(mad), srcCol)
      .select(col(idCol), col(srcCol), col("score"),
        round(z, 6).as("z"), (z > zFloor).as("keep"))
  }

  /** Deterministic shard assignment for training-data export: shard =
    * portable-hash(id) mod nShards. Content-independent, reproducible
    * across engines and reruns, and uniform (the id hash is well spread).
    * Writers `partitionBy("shard")` this column; a global shuffle on the
    * shard key is exactly the decorrelation (example shuffling) a training
    * pipeline wants. */
  def shardAssign(docs: DataFrame, nShards: Int,
      idCol: String = "doc_id"): DataFrame =
    docs.withColumn("shard",
      native.poly_hash(col(idCol).cast("string")) % nShards)

  /** Per-shard export CHECKSUMS — the integrity audit a consumer
    * runs after copying a shard: row count, token total, and an
    * ORDER-INSENSITIVE content hash (XOR of each doc's poly hash over
    * id:text — a dropped, duplicated, or altered row flips it; XOR
    * never overflows and partial-manifest checksums merge by XOR, so a
    * resharded copy verifies without re-reading the source). Verify =
    * recompute on the copy, compare three numbers per shard. One
    * map-side-combined agg on the shard key. */
  def shardChecksums(sharded: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    sharded
      .withColumn("__h", native.poly_hash(
        concat(col(idCol).cast("string"), lit(":"),
          coalesce(col(textCol), lit("")))))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Portable.tokens(col(textCol))).cast("long")).as("n_tok"),
        expr("bit_xor(__h)").as("content_xor"))

  /** Shard manifest: per-shard doc counts, byte/char totals, id range —
    * the export audit (balanced shards, no gaps). One agg on the shard key. */
  def shardStats(sharded: DataFrame, idCol: String = "doc_id",
      sizeCol: String = "n_chars"): DataFrame =
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol)).as("chars_sum"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))

  /** Shard REBALANCING move plan — water-filling between over- and
    * under-full shards without any sequential greedy state: per-shard
    * sizes aggregate once; exact integer targets spread the remainder
    * over the lowest shard ids (Σ surplus = Σ deficit identically);
    * donors and receivers each get a cumulative interval in
    * (excess desc, shard) order, and a move is every (donor, receiver)
    * pair whose intervals OVERLAP — moved bytes = the overlap length.
    * The interval join is bounded (each donor meets O(1 + its moves)
    * receivers), and both cumsums are tiny O(#shards) windows — at
    * cluster scale #shards is thousands, still model-state sized, and
    * nothing here scans the corpus twice. */
  def shardRebalance(sharded: DataFrame,
      sizeCol: String = "n_chars"): DataFrame = {
    val sizes = sharded.groupBy(col("shard"))
      .agg(sum(col(sizeCol)).as("size"))
    val tot = sizes.agg(sum(col("size")).as("total"),
      count(lit(1)).as("n_shards"))
    val t = sizes.crossJoin(broadcast(tot))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("shard"))).cast("long") - 1)
      .withColumn("target",
        expr("total div n_shards") +
          when(col("rk") < expr("total % n_shards"), 1L).otherwise(0L))
      .withColumn("excess", col("size") - col("target"))
    val dw = Window.orderBy(col("excess").desc, col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val donors = t.filter(col("excess") > 0)
      .withColumn("d_end", sum(col("excess")).over(dw))
      .select(col("shard").as("from_shard"),
        (col("d_end") - col("excess")).as("d_start"), col("d_end"))
    val rw = Window.orderBy((-col("excess")).desc, col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val receivers = t.filter(col("excess") < 0)
      .withColumn("r_end", sum(-col("excess")).over(rw))
      .select(col("shard").as("to_shard"),
        (col("r_end") + col("excess")).as("r_start"), col("r_end"))
    donors.join(receivers,
        col("d_start") < col("r_end") && col("r_start") < col("d_end"))
      .select(col("from_shard"), col("to_shard"),
        (least(col("d_end"), col("r_end"))
          - greatest(col("d_start"), col("r_start"))).as("moved"))
      .filter(col("moved") > 0)
  }

  /** No-split sequence packing by HARMONIC size classes (Lee & Lee's
    * bin-packing family, the parallel-friendly member): a doc of
    * `fill` tokens (truncated at seqLen) joins class
    * k = seqLen div fill — exactly k class-k docs fit one sequence
    * (fill·k ≤ seqLen by the division), so bin assignment is just
    * per-class rank div k. No sequential first-fit state: one
    * (stream, class)-partitioned rank window, embarrassingly parallel
    * across classes, deterministic in (fill desc, id) order. The
    * fill_rate readout quantifies the harmonic loss the splitting
    * packer ([[packSequences]]) avoids by cutting docs. */
  def packNoSplit(docs: DataFrame, seqLen: Int,
      streamCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col(streamCol), col("k"))
      .orderBy(col("fill").desc, col(idCol))
    docs
      .withColumn("fill",
        least(native.token_count(col(textCol)), lit(seqLen.toLong)))
      .filter(col("fill") > 0)
      .withColumn("k", expr(s"$seqLen div fill"))
      .withColumn("rk", row_number().over(w).cast("long") - 1)
      .withColumn("bin", expr("rk div k"))
      .groupBy(col(streamCol), col("k"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("fill")).as("n_tokens"))
      .withColumn("fill_rate",
        round(col("n_tokens") / lit(seqLen.toDouble), 6))
  }

  /** Token-BUDGET allocation across sources by water-filling (the "fill
    * B tokens at these weights without oversampling small sources"
    * problem a mixture designer solves before sampling): sources whose
    * availability can't cover their weight-proportional share SATURATE
    * (take everything they have) and the freed budget redistributes
    * over the rest — resolved in ONE pass, no iterative loop: in
    * avail/weight order (integer key avail·10⁶ div w — both engines
    * sort the same key, no float ratio), the saturated set is a prefix,
    * each row's local test uses only prev-cumsums, and the first
    * unsaturated row pins the (rem, w_rem) the survivors share.
    * Integer everywhere; `require(budgetNum < budgetDen)` guarantees
    * the cut row exists. All windows are O(#sources) model state. */
  def mixFillBudget(docs: DataFrame, budgetNum: Long = 3,
      budgetDen: Long = 5, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(budgetNum > 0 && budgetNum < budgetDen,
      "budget must be a proper fraction of the corpus")
    val avail = docs.groupBy(col(srcCol))
      .agg(sum(native.token_count(col(textCol))).as("avail"))
      .withColumn("w",
        lit(1L) + pmod(length(col(srcCol)).cast("long"), lit(5L)))
    val tot = avail.agg(sum(col("avail")).as("total_avail"),
      sum(col("w")).as("w_total"))
    val wOrd = Window.orderBy(col("ord"), col(srcCol))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = Materialize(avail.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"(total_avail * $budgetNum) div $budgetDen"))
      .withColumn("ord", expr("(avail * 1000000) div w"))
      .withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("rem_prev",
        col("budget") - (sum(col("avail")).over(wCum) - col("avail")))
      .withColumn("w_rem_prev",
        col("w_total") - (sum(col("w")).over(wCum) - col("w")))
      .withColumn("sat_local",
        col("avail") * col("w_rem_prev") < col("rem_prev") * col("w")))
    val cutRow = c.filter(!col("sat_local"))
      .orderBy(col("pos")).limit(1)
      .select(col("pos").as("cut"), col("rem_prev").as("rem_cut"),
        col("w_rem_prev").as("w_rem_cut"))
    c.crossJoin(broadcast(cutRow))
      .withColumn("saturated", col("pos") < col("cut"))
      .withColumn("alloc",
        when(col("saturated"), col("avail"))
          .otherwise(expr("(rem_cut * w) div w_rem_cut")))
      .withColumn("alloc_share",
        round(col("alloc") / col("budget"), 6))
      .select(col(srcCol), col("w"), col("avail"), col("saturated"),
        col("alloc"), col("alloc_share"))
  }

  /** Deterministic k-fold assignment (cross-validation folds over the
    * corpus): fold = affine-rehashed doc-id hash mod k — the
    * [[splitAssign]] draw machinery with a modulus instead of
    * thresholds, so folds are uniform and any engine reproduces them.
    * Narrow projection; the per-(fold, source) audit is one agg. */
  def kfoldAssign(docs: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val h = native.poly_hash(concat(lit("fold:"), col(idCol).cast("string")))
    val u = (h * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0)) %
      graft.plans.HashOps.M
    docs.withColumn("fold", pmod(u, lit(k.toLong)))
  }

  /** Per-source exact-duplicate-rate audit (the dup-pressure readout a
    * mixture designer checks per source before weighting): the
    * [[graft.operators.Dedup.exactGroups]] key (sorted distinct
    * tokens) marks each doc's group; a doc is a dup iff an
    * earlier-id doc shares its key. The keeper comes from a window
    * PARTITIONED by the hash-spread key (parallel, skew-free); the
    * rate agg is map-side combined on source. */
  def dupRateBySource(docs: DataFrame, srcCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val key = concat_ws(" ",
      array_sort(array_distinct(Portable.tokens(col(textCol)))))
    val w = Window.partitionBy(col("key_hash"))
    docs.select(col(idCol), col(srcCol),
        native.poly_hash(key).as("key_hash"))
      .withColumn("keeper", min(col(idCol)).over(w))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col(idCol) =!= col("keeper"), 1L).otherwise(0L))
          .as("n_dups"))
      .withColumn("dup_rate",
        round(col("n_dups") / col("n_docs"), 6))
  }

  /** DSIR importance weights (Xie et al. '23, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-unigram bag is under a
    * TARGET distribution (a curated subset selected by `targetPred`)
    * than under the RAW corpus distribution. Words hash into `buckets`
    * buckets (`polyHash mod B` — the paper's hashed n-gram features);
    * both distributions are add-1-smoothed bucket frequencies, and the
    * per-bucket log-likelihood ratio
    * `w_b = ln(((t_b+1)·(R+B)) / ((r_b+1)·(T+B)))` is rounded at 6 dp
    * into an exact decimal, so the per-doc score `Σ_b n_db · w_b` is a
    * commutative decimal sum — partition-layout exact and
    * oracle-portable (the single-ln form keeps every intermediate an
    * exact int64-in-double product).
    *
    * Scale: ONE corpus scan explodes tokens into per-(doc, bucket)
    * counts — the only wide stage, map-side combined onto a key space
    * bounded by docs×B. The B-row weight table is re-aggregated FROM
    * that table (model-state sized, no second corpus scan) and
    * broadcast back. No vocab table, no self-join; at 100 TB nothing
    * here grows beyond the per-doc count table. */
  def dsirWeights(docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      buckets: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perDoc = Materialize(docs
      .select(col(idCol), targetPred.as("is_target"),
        explode(Portable.tokens(col(textCol))).as("word"))
      .withColumn("bucket",
        pmod(native.poly_hash(col("word")), lit(buckets.toLong)))
      .groupBy(col(idCol), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("n")))
    val byBucket = perDoc.groupBy(col("bucket"))
      .agg(sum(col("n")).as("r_n"),
        sum(when(col("is_target"), col("n")).otherwise(0L)).as("t_n"))
    val totals = byBucket
      .agg(sum(col("r_n")).as("r_tot"), sum(col("t_n")).as("t_tot"))
    // single-ln log-ratio: the int64 products are exact in a double
    // (tokens < 2^26 at any test scale), so both engines feed ln the
    // identical value and the 6-dp round is portable
    val weights = byBucket.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log(((col("t_n") + 1) * (col("r_tot") + buckets)).cast("double")
          / ((col("r_n") + 1) * (col("t_tot") + buckets)).cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(16, 6)).as("w"))
    perDoc.join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("n") * col("w")).as("score_dec"),
        sum(col("n")).as("n_tokens"))
      .select(col(idCol),
        col("score_dec").cast("double").as("dsir_score"),
        col("n_tokens"),
        (col("score_dec") > 0).as("selected"))
  }

  /** Mixture schedule: allocate a token budget across sources with
    * temperature-α shares capped at `cap` and ONE proportional
    * redistribution round (the standard data-mixture recipe: α < 1
    * flattens the source distribution, the cap stops any single crawl
    * from dominating, and the leftover mass is re-spread over the
    * uncapped sources pro rata). `alloc_tokens = floor(share · budget)`.
    * The one-round redistribution can push an uncapped source past the
    * cap only by ≤ E·c/U — documented approximation, deterministic.
    *
    * Determinism: every cross-source reduction (Σ n_s^α, excess mass E,
    * uncapped mass U) sums 6-dp-rounded DECIMALS — commutative-exact
    * under any partitioning; the scalar double ops between reductions
    * are identical IEEE arithmetic in both engines.
    *
    * Scale: the per-source agg is ONE map-side-combined shuffle to a
    * bounded table (distinct sources — thousands at web scale, never
    * O(corpus)); everything after runs on that table via broadcast
    * cross-joins of 1-row aggregates. No windows at all, so there is no
    * single-partition sort to regress on (the vocabBuild lesson). */
  def mixSchedule(docs: DataFrame, alpha: Double = 0.5, cap: Double = 0.15,
      budget: Long = 1000000L, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val bySrc = docs
      .groupBy(col(srcCol))
      .agg(sum(native.token_count(col(textCol))).as("n_tok"))
      .withColumn("pw",
        // sqrt is IEEE correctly-rounded in both engines; pow is not —
        // route the common α=0.5 through sqrt for exact portability
        round(if (alpha == 0.5) sqrt(col("n_tok").cast("double"))
          else pow(col("n_tok").cast("double"), lit(alpha)), 6).cast(dec6))
    val tot = bySrc.agg(sum(col("pw")).as("pw_tot"))
    val shared = bySrc.crossJoin(broadcast(tot))
      .withColumn("p", round(col("pw").cast("double")
        / col("pw_tot").cast("double"), 6).cast(dec6))
      .withColumn("capped", col("p") >= lit(cap).cast(dec6))
    val masses = shared.agg(
      sum(when(col("capped"), col("p") - lit(cap).cast(dec6))
        .otherwise(lit(0).cast(dec6))).as("excess"),
      sum(when(!col("capped"), col("p")).otherwise(lit(0).cast(dec6)))
        .as("uncapped"))
    shared.crossJoin(broadcast(masses))
      .withColumn("share",
        when(col("capped"), lit(cap).cast(dec6))
          .otherwise(round(col("p").cast("double") +
            col("excess").cast("double") * col("p").cast("double") /
              col("uncapped").cast("double"), 6).cast(dec6)))
      .select(col(srcCol), col("n_tok"),
        col("p").cast("double").as("raw_share"),
        col("capped"),
        col("share").cast("double").as("share"),
        floor(col("share").cast("double") * budget).cast("long")
          .as("alloc_tokens"))
  }

  /** Prefix-containment duplicate pairs: (shorter, longer) where the
    * shorter doc is a strict prefix of the longer (truncation/re-crawl
    * duplicates that exact dedup misses). Blocked self-join on (hash of
    * the first `prefixLen` characters, LENGTH BAND of the shorter side) —
    * containment implies the prefix keys match, so recall is exact for
    * docs ≥ prefixLen chars.
    *
    * Scale / skew: the prefix hash alone collapses boilerplate-heavy
    * corpora (every page starts "<!DOCTYPE html>") into one giant block
    * with a quadratic within-block join. Folding a log2 length band of
    * the SHORTER side into the key splits such blocks by size: the short
    * side emits one key (its own band), the longer side explodes over the
    * bands ≤ its own — a bounded ×log2(maxLen) fan-out (≤ ~40 keys for
    * any realistic document) — and a prefix-sharing block now subdivides
    * into per-band cells whose sizes follow the corpus length
    * distribution instead of one hot key. Containment needs
    * len_in ≤ len_out, i.e. band_in ≤ band_out, so recall stays exact
    * (CurationSpec asserts parity against the unbanded join on a
    * single-prefix corpus). */
  def containedPairs(docs: DataFrame, prefixLen: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keyed = docs.select(col(idCol), col(textCol))
      .withColumn("pfx", native.poly_hash(
        col(textCol).substr(lit(1), lit(prefixLen))))
      .withColumn("band",
        floor(log2(greatest(length(col(textCol)), lit(1)))).cast("long"))
    val short = keyed.select(col("pfx"), col("band"), col(idCol).as("doc_in"),
      col(textCol).as("text_in"), length(col(textCol)).as("len_in"))
    val long = keyed
      .withColumn("band", explode(sequence(lit(0L), col("band"))))
      .select(col("pfx"), col("band"), col(idCol).as("doc_out"),
        col(textCol).as("text_out"), length(col(textCol)).as("len_out"))
    short.join(long, Seq("pfx", "band"))
      .filter(col("len_in") < col("len_out") &&
        col("text_out").startsWith(col("text_in")))
      .select(col("doc_in"), col("doc_out"))
  }

  /** Per-domain quota — the crawl-curation cap that stops one domain from
    * dominating the mixture (the "no more than N pages per host" rule):
    * rank each domain's docs by a quality key (here chars desc, id asc —
    * deterministic under ties) and keep the top `cap`.
    *
    * Scale: ONE partitioned window (partitionBy domain) — each domain
    * sorts independently, no global sort. A mega-domain (the Zipf head
    * host with 10⁸ pages) makes one heavy sort task; the standard
    * mitigation is a cheap pre-gate — per-domain count, and for domains
    * over ~100× cap, a coarse filter (e.g. top-p by bucketed quality)
    * before the exact rank — which changes no results and bounds the
    * sorted volume to O(cap) per domain. Not wired here because the cap
    * semantics stay identical; the window itself is already partitioned. */
  def domainCap(docs: DataFrame, cap: Int, domainCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("n_chars").desc, col(idCol))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col(idCol), col(domainCol), col("n_chars"), col("rk"))
  }

  /** The FULL KN probability table over every seen bigram — the stored
    * model artifact [[knModel]] tops and [[knScore]] scores against. */
  def knTable(docs: DataFrame, textCol: String = "text"): DataFrame =
    knTableOf(docs, 2, textCol)

  /** Interpolated Kneser–Ney bigram model (the smoothing KenLM-style
    * quality filters train; absolute discount d = 3/4): for every SEEN
    * bigram (c12 ≥ 1 > d, so the discounted numerator needs no max),
    *
    *   P_kn(w2|w1) = (c12 − d)/c1 + d · N1+(w1,·)/c1 · N1+(·,w2)/B
    *
    * with c1 = Σ_w2 c12 (context total), N1+(w1,·) = distinct
    * continuations of w1, N1+(·,w2) = distinct left-contexts of w2
    * (the continuation probability), B = distinct bigram types. Returns
    * the top `k` bigrams by (c12 desc, w1, w2) with their components and
    * P_kn — the MODEL artifact (the vocab_build sibling one order up);
    * scoring joins against it exactly like the stored-vocab LM scores.
    *
    * Determinism: every component is an integer count (commutative-exact
    * sums); P_kn is derived from those integers by one fixed sequence of
    * double ops — both engines evaluate the same IEEE expression tree, so
    * the doubles agree bit-for-bit before the 6-dp round.
    *
    * Scale: one corpus scan → bigram counts (map-side combined, Zipf key
    * — the AQE skew-join caveat on [[lmUnigramScore]] applies to any
    * downstream score join); the three marginal tables are projections of
    * the O(types) count table, joined back on word keys; B broadcasts.
    * Top-k is a TakeOrdered (k-bounded), never a full sort. */
  def knModel(docs: DataFrame, k: Int = 200,
      textCol: String = "text"): DataFrame =
    knTop(knTable(docs, textCol), 2, k)

  /** Score documents against the KN model (the KenLM-filter gate one
    * smoothing order up from [[lmBigramScore]]): per doc, the bigram
    * count, how many of its bigrams fall below probability `tau`
    * (gibberish signal — improbable-transition density), and the doc's
    * weakest transition. Docs with < 2 tokens have no bigrams and drop.
    *
    * Determinism: each bigram's P_kn is the same IEEE-exact double on
    * both engines, so the `< tau` flag and min() are order-independent;
    * the aggregates are integer sums + one min. Scale: the model table
    * is O(types) (materialized inside [[knTable]]); the score join keys
    * on the Zipf bigram — the AQE skew-split caveat on [[lmUnigramScore]]
    * applies. */
  def knScore(docs: DataFrame, tau: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    knScoreOf(docs, 2, tau, idCol, textCol)

  /** [[knTable]] one smoothing order up: the absolute-discounted trigram
    * probability P(w3 | w1 w2) with a continuation-count backoff —
    * p = (c123 − 0.75)/c12 + 0.75·N1+(w1 w2 •)/c12 · N1+(• • w3)/T.
    * Same exactness argument as the bigram table: every factor is one
    * exact-integer-to-double conversion and one IEEE op, so the 6-dp
    * round agrees bit-for-bit across engines.
    *
    * Scale: one corpus scan → trigram type counts (map-side combined);
    * the context/continuation marginals are projections of the O(types)
    * count table joined back on their keys; T broadcasts. */
  def knTable3(docs: DataFrame, textCol: String = "text"): DataFrame =
    knTableOf(docs, 3, textCol)

  /** [[knModel]] one order up: the top `k` trigrams by (c123 desc, w1,
    * w2, w3) of [[knTable3]]. */
  def knModel3(docs: DataFrame, k: Int = 200,
      textCol: String = "text"): DataFrame =
    knTop(knTable3(docs, textCol), 3, k)

  /** [[knScore]] one smoothing order up: per-doc improbable-TRANSITION
    * density against the trigram KN table — the longer-context
    * gibberish gate (a doc can pass every bigram check while its
    * trigrams are improbable, e.g. shuffled clauses). Docs with < 3
    * tokens have no trigrams and drop. Same scale posture as the
    * bigram scorer: O(types) model (materialized inside [[knTable3]]),
    * Zipf-keyed score join. */
  def knScore3(docs: DataFrame, tau: Double = 0.02,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    knScoreOf(docs, 3, tau, idCol, textCol)

  /** The KN table of order `n` (2 or 3): columns w1 … wn, the gram count
    * (c12 / c123), its context's count (c1 / c12) and distinct
    * continuations (n1p_fwd), the last word's distinct left contexts
    * (n1p_bwd), the gram-type total (b_types / t_types) and p_kn. The
    * O(types) count table is materialized ONCE: the marginals and the
    * final join all derive from it, so the corpus-sized gram explode+agg
    * runs a single time, not four (the dsir_select share-the-scan
    * pattern). */
  private def knTableOf(docs: DataFrame, n: Int, textCol: String): DataFrame = {
    val ws = knWords(n)
    val (cGram, cCtx) = (knCount(n), knCount(n - 1))
    val types = Seq("b_types", "t_types")(n - 2)
    val words = split(col(gramName(n)), " ")
    val g = Materialize(gramCounts(docs, n, textCol, cGram)
      .select(ws.indices.map(i => words.getItem(i).as(ws(i))) :+ col(cGram): _*))
    val ctx = g.groupBy(ws.init.map(col): _*)
      .agg(sum(col(cGram)).as(cCtx), count(lit(1)).as("n1p_fwd"))
    val cont = g.groupBy(col(ws.last)).agg(count(lit(1)).as("n1p_bwd"))
    val nTypes = g.agg(count(lit(1)).as(types))
    g.join(ctx, ws.init).join(cont, ws.last).crossJoin(broadcast(nTypes))
      .select((ws ++ Seq(cGram, cCtx, "n1p_fwd", "n1p_bwd", types)).map(col)
        :+ round((col(cGram).cast("double") - lit(0.75d))
            / col(cCtx).cast("double")
          + lit(0.75d) * col("n1p_fwd").cast("double")
            / col(cCtx).cast("double")
            * (col("n1p_bwd").cast("double") / col(types).cast("double")),
          6).as("p_kn"): _*)
  }

  /** w1 … wn: the word columns of an order-`n` KN table. */
  private def knWords(n: Int): Seq[String] = (1 to n).map(i => s"w$i")

  /** The count column of an order-`n` gram in a KN table: c1, c12, c123. */
  private def knCount(n: Int): String = "c" + (1 to n).mkString

  /** The model artifact: the top `k` rows of an order-`n` KN table by
    * (count desc, w1 … wn) — a TakeOrdered, never a full sort. */
  private def knTop(table: DataFrame, n: Int, k: Int): DataFrame =
    table.orderBy(col(knCount(n)).desc +: knWords(n).map(col): _*).limit(k)

  /** Per doc, against the order-`n` KN table: the gram count
    * (n_bigrams / n_trigrams), the grams with p_kn < `tau` and the
    * smallest p_kn. Grams are joined on their space-joined text. */
  private def knScoreOf(docs: DataFrame, n: Int, tau: Double, idCol: String,
      textCol: String): DataFrame = {
    val model = knTableOf(docs, n, textCol)
      .select(concat_ws(" ", knWords(n).map(col): _*).as(gramName(n)),
        col("p_kn"))
    docGrams(docs, n, idCol, textCol)
      .join(model, gramName(n))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as(s"n_${gramName(n)}s"),
        sum(when(col("p_kn") < tau, 1L).otherwise(0L)).as("n_improbable"),
        round(min(col("p_kn")), 6).as("min_p"))
  }

  /** The deterministic draw priority both exact-k samplers (and the
    * streaming twin) share: the affine-rehashed poly hash of the id —
    * a pure function of the id, identical on any engine/arrival
    * order. */
  def samplePriority(id: Column): Column =
    (native.poly_hash(concat(lit("sample:"), id.cast("string")))
      * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0)) %
      graft.plans.HashOps.M

  /** Deterministic EXACT-k per-stratum subsample (the fixed-size eval/
    * holdout draw — Bernoulli sampling gives a RANDOM size; this gives
    * exactly k): priority = the affine-rehashed hash of the doc id (the
    * [[mixUpsample]] draw machinery — the raw poly hash of a sequential
    * id is prefix-banded and would bias the sample), keep the k smallest
    * (priority, id) per stratum. Pure function of the ids: the same
    * corpus always yields the same sample, on any engine.
    *
    * Scale: the rank window is PARTITIONED by stratum and Catalyst
    * plans the k-filter as a Partial WindowGroupLimit BEFORE the
    * exchange (posture-asserted) — each map task ships only its local
    * top-k, so the shuffle carries O(k · tasks) rows per stratum, never
    * the stratum. */
  def sampleExactK(docs: DataFrame, k: Int, strataCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val u = samplePriority(col(idCol))
    val w = Window.partitionBy(col(strataCol)).orderBy(col("__u"), col(idCol))
    docs.withColumn("__u", u)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col(idCol), col(strataCol), col("sample_rank"))
  }

  /** The WEIGHTED draw priority shared by [[sampleWeightedK]] and the
    * streaming twin: (u·10⁶) div max(w, 1) in exact long arithmetic
    * (u − u mod w over w — the quotient is an exactly-representable
    * integer, so the double division is exact). */
  def weightedSamplePriority(id: Column, weight: Column): Column = {
    val u = samplePriority(id) * 1000000L
    val w = greatest(weight.cast("long"), lit(1L))
    ((u - pmod(u, w)) / w).cast("long")
  }

  /** WEIGHTED deterministic exact-k per-stratum sample: like
    * [[sampleExactK]] but each row's inclusion odds scale with an
    * integer weight (length-proportional sampling is the canonical use —
    * a 10× longer doc should be ~10× as likely in a token-budgeted
    * draw). Priority = (u · 10⁶) div max(w, 1) with u the same affine-
    * rehashed id hash ∈ [0, M): dividing the uniform key by the weight
    * is the integer-lattice skeleton of the Efraimidis–Spirakis
    * u^(1/w) scheme — monotone in w, exactly reproducible (no pow/log,
    * both engines floor-divide non-negatives identically; u·10⁶ <
    * 2.2·10¹⁵ cannot overflow). Keep the k smallest (priority, id) per
    * stratum. Same bottom-k shape as sampleExactK, so the same
    * WindowGroupLimit partial-top-k and the same shard-merge theorem
    * apply (bottom-k under ANY fixed total order merges). */
  def sampleWeightedK(docs: DataFrame, k: Int, weight: Column,
      strataCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(col("__p"), col(idCol))
    docs.withColumn("__p", weightedSamplePriority(col(idCol), weight))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col(idCol), col(strataCol), col("__p").as("priority"),
        col("sample_rank"))
  }
}
