package graft.queries

import graft.operators.{Curation, Dedup, Graph, MediaRecord, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** C-block: LLM-training-data pipeline operators (SURVEY.md §2.C). The
  * hash-based operators run on native expressions (graft.plans); the
  * oracle SQL reproduces the identical portable arithmetic inline. */
object CBlock {

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "row", "scan"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "value", "key"),
    "fr" -> Seq("join", "merge", "filter"),
    "zh" -> Seq("spark", "query", "batch"))

  /** REAL function-word markers for the planted langid eval: unlike
    * [[langMarkers]] (arbitrary tech words over an English-ish corpus —
    * the honest chance-level baseline C159 keeps), these are the words
    * the planted corpus actually seeds per ground-truth language. */
  private val langEvalMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "nicht"),
    "en" -> Seq("the", "and", "not"),
    "es" -> Seq("el", "los", "pero"),
    "fr" -> Seq("le", "les", "mais"),
    "zh" -> Seq("de5", "le5", "shi4"))

  /** Marker plant for the langid eval: every doc gets its TRUE
    * language's three markers twice (plus once more for id % 3 == 0)
    * and, for id % 2 == 0, ONE confuser token from the alphabetically
    * next language — real per-language lift with deterministic noise
    * (the C129 planted-cluster pattern applied to text). */
  private def langPlantedDocs(docs: DataFrame): DataFrame = {
    val langs = langEvalMarkers.map(_._1)
    val mk = langEvalMarkers.toMap
    def markersOf(l: String): String = mk(l).mkString(" ")
    def confuserOf(l: String): String = {
      val next = langs((langs.indexOf(l) + 1) % langs.size)
      mk(next).head
    }
    val mkCol = langs.tail.foldLeft(
      when(col("lang") === langs.head, lit(markersOf(langs.head)))) {
      (acc, l) => acc.when(col("lang") === l, lit(markersOf(l)))
    }
    val nzCol = langs.tail.foldLeft(
      when(col("lang") === langs.head, lit(confuserOf(langs.head)))) {
      (acc, l) => acc.when(col("lang") === l, lit(confuserOf(l)))
    }
    docs.withColumn("text", concat_ws(" ", col("text"), mkCol, mkCol,
      when(pmod(col("doc_id"), lit(3)) === 0, mkCol),
      when(pmod(col("doc_id"), lit(2)) === 0, nzCol)))
  }

  /** The HOLDOUT eval corpus: [[langPlantedDocs]]
    * plus genuinely ambiguous TEST documents — odd ids (the held-out
    * half) divisible by 5 get the alphabetically-next language's full
    * marker string twice, the mixed-language docs every real corpus
    * contains. Without them the planted signal is strong enough that
    * even out-of-sample scoring lands a perfect diagonal (measured at
    * sf0.01) and the confusion matrix has no gradient; with them the
    * holdout matrix carries honest, deterministic error mass. */
  private def langHoldoutDocs(docs: DataFrame): DataFrame = {
    val langs = langEvalMarkers.map(_._1)
    val mk = langEvalMarkers.toMap
    def nextOf(l: String): String = {
      val next = langs((langs.indexOf(l) + 1) % langs.size)
      val s = mk(next).mkString(" ")
      s + " " + s
    }
    val nxCol = langs.tail.foldLeft(
      when(col("lang") === langs.head, lit(nextOf(langs.head)))) {
      (acc, l) => acc.when(col("lang") === l, lit(nextOf(l)))
    }
    langPlantedDocs(docs).withColumn("text", concat_ws(" ", col("text"),
      when(pmod(col("doc_id"), lit(2)) === 1 &&
        pmod(col("doc_id"), lit(5)) === 0, nxCol)))
  }

  /** The exact-span plant (C212): a 20-token verbatim copy in
    * every 13th doc at token offset doc_id % 7 + 3 — BELOW the
    * half-stride screen's guarantee (1.5w−1 = 23) at offsets only
    * sometimes congruent with the stride grid, so the screen catches a
    * measurable fraction and misses the rest; shared by
    * dedup_spans_exact and the dedup_spans_recall measurement. */
  private def spanPlantedDocs(docs: DataFrame): DataFrame = {
    val toks = graft.functions.Portable.tokens(col("text"))
    val plant = (1 to 20).map(i => "zq" + i).mkString(" ")
    val k = (pmod(col("doc_id"), lit(7)) + lit(3)).cast("int")
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(13)) === 0,
        concat_ws(" ",
          concat_ws(" ", slice(toks, lit(1), k)),
          lit(plant),
          concat_ws(" ", slice(toks, k + 1,
            greatest(size(toks) - k, lit(0))))))
        .otherwise(col("text")))
  }

  /** A planted near-dup copy: every `stride`-th document again under id
    * + `offset`, its text rewritten by `variant` on the Spark side and by
    * `variantSql`, the same rewrite written apart in DuckDB SQL, on the
    * oracle side. `truth` pairs each original with its copy. */
  private case class Plant(stride: Int, offset: Long, variant: Column,
      variantSql: String) {
    private def picked(docs: DataFrame) =
      docs.filter(pmod(col("doc_id"), lit(stride)) === 0)
    def rows(docs: DataFrame): DataFrame = picked(docs)
      .select((col("doc_id") + offset).as("doc_id"), variant.as("text"))
    def truth(docs: DataFrame): DataFrame = picked(docs)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + offset).as("doc_b"))
    def rowsSql: String =
      s"""SELECT doc_id + $offset AS doc_id, $variantSql AS text
         |FROM documents WHERE doc_id % $stride = 0""".stripMargin
    def truthSql: String =
      s"""SELECT doc_id AS doc_a, doc_id + $offset AS doc_b
         |FROM documents WHERE doc_id % $stride = 0""".stripMargin
  }

  /** The dedup eval's two twin strengths over every 7th doc: 'tail'
    * appends 3 words (jaccard ≈ 1), 'half' keeps the first half
    * (jaccard ≈ 0.5, where 4-row bands can genuinely miss). */
  private val tailPlant = Plant(7, 10000000L,
    concat(col("text"), lit(" zq1 zq2 zq3")), "text || ' zq1 zq2 zq3'")
  private val halfPlant = Plant(7, 10000000L, expr(
    "substring(text, 1, greatest(CAST(floor(length(text) / 2) AS INT), 1))"),
    "substr(text, 1, greatest(len(text) // 2, 1))")

  /** Recall of candidate pairs `cand(doc_a, doc_b)` against a plant's
    * `truth`: `label`, then n_truth, n_caught, n_other and recall. */
  private def plantedRecall(label: Column, cand: DataFrame,
      truth: DataFrame): DataFrame =
    cand.join(truth.withColumn("is_truth", lit(1L)),
        Seq("doc_a", "doc_b"), "left")
      .agg(sum(coalesce(col("is_truth"), lit(0L))).as("n_caught"),
        sum(when(col("is_truth").isNull, 1L).otherwise(0L)).as("n_other"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(label, col("n_truth"), col("n_caught"), col("n_other"),
        round(col("n_caught") / col("n_truth"), 6).as("recall"))

  /** Confusion matrix of `pred(doc_id, pred_lang)` against the
    * ground-truth `lang` of `docs`: n per (lang, pred_lang) and its share
    * of the lang's scored docs. */
  private def langConfusion(pred: DataFrame, docs: DataFrame): DataFrame =
    pred.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))), 6))
      .orderBy(col("lang"), col("pred_lang"))

  private val stopwords = Seq("the", "a")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "curate_corpus" -> ((s, dir) => {
      // the C-block flagship: quality filter + near-dup removal → the
      // curated training corpus, counted per (lang, source)
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.quality(docs, stopwords)
        .filter(col("quality") >= 0.62)
      val kept = Dedup.applyDedup(scored,
        Dedup.connectedComponents(Dedup.minhashCandidates(docs, 16, 4)))
      kept.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_curated"),
          round(sum(col("quality")
            .cast(org.apache.spark.sql.types.DecimalType(8, 6))), 4)
            .cast("double").as("quality_sum"))
        .orderBy(col("lang"), col("source"))
    }),

    "dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(Tables.documents(s, dir))
        .select(col("key_hash"), col("keeper"), col("n_docs"))
        .orderBy(col("keeper"))
    }),

    "dedup_minhash" -> ((s, dir) => {
      Dedup.minhashCandidates(Tables.documents(s, dir), k = 16, bands = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_eval" -> ((s, dir) => {
      // measured dedup QUALITY against planted ground truth (the ANN
      // recall-floor idea applied to LSH dedup): every 7th doc gets a
      // perturbed near-dup twin at two strengths (tailPlant, halfPlant)
      // and each row reports how many planted pairs the 16-perm/4-band
      // pipeline caught plus the non-planted candidate count: the
      // deterministic, engine-exact operating curve of the dedup config
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Seq("tail" -> tailPlant, "half" -> halfPlant).map { case (level, p) =>
        plantedRecall(lit(level).as("level"), Dedup.minhashCandidates(
          docs.unionByName(p.rows(docs)), k = 16, bands = 4), p.truth(docs))
      }.reduce(_.unionByName(_)).orderBy(col("level"))
    }),

    "dedup_eval_bands" -> ((s, dir) => {
      // the (bands, rows-per-band) POLICY SWEEP on the hard planted
      // corpus (jaccard ≈ 0.5 twins): recall at bands ∈ {2,4,8} with
      // k=16 — the S-curve 1−(1−j^r)^b predicts ≈0.008/0.23/0.90, and
      // this query publishes the measured curve the config is picked
      // from; each point reuses the SAME banding plan
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(halfPlant.rows(docs))
      val truth = halfPlant.truth(docs)
      Seq(2, 4, 8).map { b =>
        plantedRecall(lit(b.toLong).as("bands"),
          Dedup.minhashCandidates(corpus, k = 16, bands = b), truth)
      }.reduce(_.unionByName(_)).orderBy(col("bands"))
    }),

    "vocab_coverage" -> ((s, dir) => {
      // vocabulary sizing audit: how many distinct words cover 50/90/99%
      // of all token occurrences — the Zipf-curve readout that decides
      // the stored vocab's size and whether the lm-score join's build
      // side broadcasts. Same two-phase global cumsum as q_pareto;
      // thresholds CROSS-MULTIPLIED in integers (cum·100 < tot·99),
      // never a division
      val counts = Curation.vocabCounts(Tables.documents(s, dir))
      val cum = Curation.globalCumSum(counts,
        Seq(col("cnt").desc, col("word")), col("cnt"), "cum")
      val tot = cum.agg(sum(col("cnt")).as("tot"),
        count(lit(1)).as("n_words"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("n_words")).as("n_words"),
          max(col("tot")).as("n_tokens"),
          (sum(when(col("cum") * 2 < col("tot"), 1L).otherwise(0L)) + 1L)
            .as("n_cover_50"),
          (sum(when(col("cum") * 10 < col("tot") * 9, 1L).otherwise(0L)) + 1L)
            .as("n_cover_90"),
          (sum(when(col("cum") * 100 < col("tot") * 99, 1L).otherwise(0L)) + 1L)
            .as("n_cover_99"))
    }),

    "dedup_minhash_est" -> ((s, dir) => {
      // LSH verify stage: per-candidate estimated jaccard from the
      // stored signatures alone (no text re-read) — what a production
      // pipeline thresholds on before the cluster graph
      Dedup.minhashEstimates(Tables.documents(s, dir), k = 16, bands = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_threshold_sweep" -> ((s, dir) => {
      // dedup-POLICY sweep from the stored sketch alone: candidate-pair
      // and affected-doc counts at five LSH-verify thresholds — the
      // tuning readout a pipeline owner reads before fixing τ. The
      // signature table and pair estimates are computed ONCE
      // (minhashEstimates materializes them); the sweep itself is a
      // narrow 5-literal explode + two bounded aggs, so trying another
      // τ grid never re-touches the corpus.
      val est = Dedup.minhashEstimates(Tables.documents(s, dir),
        k = 16, bands = 4)
      val th = graft.operators.Materialize(est
        .select(col("doc_a"), col("doc_b"),
          explode(array(Seq(4, 6, 8, 10, 12).map(t => lit(t.toLong)): _*))
            .as("t_match"), col("n_match"))
        .filter(col("n_match") >= col("t_match"))
        .drop("n_match"))
      val nPairs = th.groupBy(col("t_match"))
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = th.select(col("t_match"), col("doc_a").as("d"))
        .unionAll(th.select(col("t_match"), col("doc_b").as("d")))
        .groupBy(col("t_match"))
        .agg(countDistinct(col("d")).as("n_docs"))
      nPairs.join(nDocs, "t_match").orderBy(col("t_match"))
    }),

    "dedup_graph_triangles" -> ((s, dir) => {
      // cluster-density audit of the near-dup graph: per-doc degree +
      // triangle participation (tight cliques collapse safely; high
      // degree with few triangles smells of LSH false positives).
      // Ordered node-iterator join — each a<b<c triangle found once.
      val edges = Dedup.minhashEstimates(Tables.documents(s, dir),
          k = 16, bands = 4)
        .filter(col("n_match") >= 8)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.operators.Graph.triangleCounts(edges)
        .orderBy(col("doc_id"))
    }),

    "graph_kcore" -> ((s, dir) => {
      // 2-core of the near-dup graph after 3 peel rounds: members with
      // ≥2 near-dup partners in the surviving subgraph (redundant
      // clusters — safe to collapse) vs pendant edges a single LSH
      // false positive explains; bounded rounds keep the oracle
      // unrollable and the cost predictable
      val edges = Dedup.minhashEstimates(Tables.documents(s, dir),
          k = 16, bands = 4)
        .filter(col("n_match") >= 8)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.operators.Graph.kcorePeel(edges, k = 2L, rounds = 3)
        .orderBy(col("doc_id"))
    }),

    "dedup_graph_suggest" -> ((s, dir) => {
      // link prediction over the near-dup graph: non-edge pairs sharing
      // >= 1 shared near-dup neighbor — the band-collision near-misses worth
      // a direct verify before applyDedup
      val edges = Dedup.minhashEstimates(Tables.documents(s, dir),
          k = 16, bands = 4)
        .filter(col("n_match") >= 8)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.operators.Graph.commonNeighbors(edges, minCommon = 1)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "sim_knn_graph" -> ((s, dir) => {
      // mutual-kNN graph audit over LSH buckets: per-vector out/in
      // degree + mutual-edge count (the semantic-clustering sparsifier).
      // Candidates are the ≤16 projection-rank neighbors inside the
      // bucket — deterministic O(bucket·window), never O(bucket²)
      Similarity.knnGraph(Tables.embeddings(s, dir), k = 5)
        .orderBy(col("vec_id"))
    }),

    "sim_knn_window_sweep" -> ((s, dir) => {
      // the window-tuning sweep for the bounded graph: per arm
      // {4, 8, 16}, the edge and mutual-edge counts the graph would
      // keep — one scan, one rank window, one cosine per pair at the
      // widest arm (gap-filtered per arm, arms broadcast)
      Similarity.knnWindowSweep(Tables.embeddings(s, dir), k = 5,
          windows = Seq(4, 8, 16))
        .orderBy(col("win"))
    }),

    "dedup_clusters" -> ((s, dir) => {
      Dedup.connectedComponents(
          Dedup.minhashCandidates(Tables.documents(s, dir), k = 16, bands = 4))
        .withColumn("is_keeper", col("doc_id") === col("cluster"))
        .orderBy(col("doc_id"))
    }),

    "dedup_keeper_quality" -> ((s, dir) => {
      // QUALITY-AWARE keeper election: when a near-dup cluster
      // collapses, keep the highest-QUALITY member (argmax by the C8
      // composite, ties to the smaller id) instead of C17's min-id
      // convention — the curation-correct collapse (min-id can keep the
      // boilerplate twin and drop the clean one). One cluster-keyed
      // rank window over the CC labels ⋈ quality scores; quality
      // doubles are engine-exact (text_quality's green oracle), so the
      // argmax is too
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.connectedComponents(
        Dedup.minhashCandidates(docs, k = 16, bands = 4))
      val q = TextAnalysis.quality(docs, stopwords)
        .select(col("doc_id"), col("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("quality").desc_nulls_last, col("doc_id"))
      clusters.join(q, Seq("doc_id"))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("quality"),
          (col("rk") === 1).cast("int").as("is_keeper"))
        .orderBy(col("doc_id"))
    }),

    "dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = Dedup.applyDedup(docs,
        Dedup.connectedComponents(Dedup.minhashCandidates(docs, 16, 4)))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept")),
          Seq("lang"))
        .withColumn("n_dropped", col("n_docs") - col("n_kept"))
        .orderBy(col("lang"))
    }),

    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 1)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_incremental" -> ((s, dir) => {
      // daily-ingest dedup: incoming batch (ids ≡ 8,9 mod 10) checked
      // against the historical corpus via the stored bucket index —
      // history never self-joins, incoming side broadcasts
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDedup(
          docs.filter(pmod(col("doc_id"), lit(10)) < 8),
          docs.filter(pmod(col("doc_id"), lit(10)) >= 8))
        .orderBy(col("doc_id"))
    }),

    "dedup_gate_multibatch" -> ((s, dir) => {
      // C45's registry proven ACROSS micro-batches under the oracle
      // (dedup_gate_stream's single batch can't show cross-batch
      // ownership): the redelivery-planted corpus replays as 5 one-file
      // micro-batches in arrival order, and per-bucket first-seen
      // ownership is decided by ARRIVAL — first = min doc id within the
      // bucket's EARLIEST batch, which the redelivery hands to a LARGER
      // doc id for every bucket whose id-minimal member is planted (16
      // of 97 collision rows at sf0.001 flip vs the doc-id relation);
      // the registry carries that ownership forward and every later
      // (doc, bucket) pair collides. The oracle recomputes exactly that
      // relation.
      graft.streaming.StreamedBatch
        .nearDupCollisionsMulti(s, redeliveredDocs(s, dir), nBatches = 5)
        .orderBy(col("doc_id"), col("bucket"))
    }),

    "dedup_gate_evict" -> ((s, dir) => {
      // the BUCKET gate's state-eviction lifecycle (the line gate's
      // C199 protocol applied to the first-seen registry): the same
      // redelivery-planted 5-batch replay as dedup_gate_multibatch, but
      // after batch 2 the gate state is FLUSHED into the stored bucket
      // index and phase 2 RESTARTS with empty state seeded by it via a
      // stream-static join. The flush is invisible to ownership, so the
      // oracle is dedup_gate_multibatch's SQL VERBATIM; the restarted
      // state store holds only phase-2 buckets (spec-measured).
      val (p1, p2) = flushSplit(redeliveredDocs(s, dir))
      val g1 = graft.streaming.StreamedBatch
        .nearDupCollisionsMulti(s, p1, nBatches = 3)
      val g2 = graft.streaming.StreamedBatch.nearDupCollisionsMulti(s, p2,
        nBatches = 2, registry = Some(ownerRegistry(p1)))
      g1.unionByName(g2).orderBy(col("doc_id"), col("bucket"))
    }),

    "dedup_gate_ttl_stored" -> ((s, dir) => {
      // the FULL production lifecycle of the bucket gate (TTL and the
      // stored index compose, under the oracle): phase 1 (batches 0-2)
      // runs the plain gate and FLUSHES ownership into the stored bucket
      // index; phase 2 (batches 3-4) restarts with EMPTY state, every
      // arrival carrying its stored owner via the registry join AND
      // idle keys evicting in-stream at ttl = half a batch interval —
      // the store holds only ttl-active keys while evicted registry
      // ownership re-seeds losslessly from the join. Ownership is
      // provably unchanged (phase-2-new keys recur at gap ≤ 1 batch,
      // inside any positive ttl's safe window; registry keys are
      // eviction-immune by the base join), so the oracle is
      // dedup_gate_multibatch's SQL VERBATIM.
      val (p1, p2) = flushSplit(redeliveredDocs(s, dir))
      val g1 = graft.streaming.StreamedBatch
        .nearDupCollisionsMulti(s, p1, nBatches = 3)
      val g2 = graft.streaming.StreamedBatch.nearDupCollisionsMulti(s, p2,
        nBatches = 2, registry = Some(ownerRegistry(p1)),
        ttlMs = Some(graft.streaming.StreamedBatch.batchIntervalMs / 2))
      g1.unionByName(g2).orderBy(col("doc_id"), col("bucket"))
    }),

    "dedup_gate_ttl" -> ((s, dir) => {
      // the BUCKET gate with IN-STREAM watermark-driven eviction (a
      // state bound that needs no flush boundary): the same
      // redelivery-planted 5-batch replay as dedup_gate_multibatch with
      // ttl = 3 batch intervals — the UNIVERSAL bound (n − 2 intervals
      // on an n-batch replay: no recurrence gap can exceed n − 1 ≤
      // ttl + 1 batch, so ownership can never be lost before its next
      // claimant arrives) — and a sentinel batch drives the watermark
      // past every live timeout before termination, so the store
      // provably drains DURING the query. Eviction is invisible to
      // ownership: the oracle is dedup_gate_multibatch's SQL VERBATIM.
      graft.streaming.StreamedBatch
        .nearDupCollisionsMulti(s, redeliveredDocs(s, dir), nBatches = 5,
          ttlMs = Some(3 * graft.streaming.StreamedBatch.batchIntervalMs))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    "dedup_registry_compact" -> ((s, dir) => {
      // the production loop C45's scaladoc promises, closed under the
      // oracle: the streaming gate's first-seen registry (per-bucket
      // min doc — the O(distinct buckets) state, spec-proven ≡ this
      // batch derivation) COMPACTS into the stored-index seam, and the
      // daily incremental check against the compacted registry must
      // equal the check against the FULL history index: min over
      // matched buckets of bucket-minima ≡ min over all matched
      // (bucket, doc) pairs, and the matched-bucket set is identical
      // because the registry keeps every seen bucket. The IDENTICAL
      // DuckDB SQL as dedup_incremental anchors both (merge ≡ direct) —
      // while the registry is bands× smaller than the full index
      val docs = Tables.documents(s, dir)
      val history = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      val registry = Dedup.minhashBuckets(history)
        .groupBy(col("bucket")).agg(min(col("doc_id")).as("doc_id"))
      Dedup.incrementalDedupIndex(registry, incoming)
        .orderBy(col("doc_id"))
    }),

    "dedup_index_stored" -> ((s, dir) => {
      // the dedup-index LIFECYCLE (the sim_pq_stored twin for LSH): the
      // historical corpus's bucket table is the stored artifact a daily
      // ingest reads back — write it partitioned by a bucket prefix (an
      // incoming batch's buckets prune to their partitions), read back,
      // run the incremental check against the read-back index. Buckets
      // are longs → the parquet round-trip is exact, so the oracle is
      // dedup_incremental's.
      val docs = Tables.documents(s, dir)
      val history = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      val path = graft.operators.Scratch.fixedPath(
        "graft_dedup_index_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      Dedup.minhashBuckets(history, 16, 4)
        .withColumn("bp", pmod(col("bucket"), lit(16L)))
        .write.mode("overwrite").partitionBy("bp").parquet(path)
      Dedup.incrementalDedupIndex(
          s.read.parquet(path).select(col("doc_id"), col("bucket")), incoming)
        .orderBy(col("doc_id"))
    }),

    "source_overlap_sketch" -> ((s, dir) => {
      // cross-source overlap from minhash-union sketches: every source
      // pair at O(sources·k) cost (the screen in front of the exact
      // gram join); the sketch is mergeable (slot-wise min)
      Dedup.sourceMinhashOverlap(Tables.documents(s, dir), k = 16)
        .orderBy(col("source_a"), col("source_b"))
    }),

    "dedup_simhash64" -> ((s, dir) => {
      // 62-bit simhash with 16-bit pigeonhole bands: the full hamming-3
      // radius with 65k-value block keys (no byte-band skew cliff)
      Dedup.simhash64Pairs(Tables.documents(s, dir), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // τ = 4/5 as a rational: exact integer thresholds throughout.
      // Candidates are ADAPTIVE (Dedup.blockedCandidates): the bounded
      // block join under the pair budget, the lossless rare-first
      // prefix filter past it — same output either way (DedupParitySpec)
      Dedup.ngramJaccardPairsDict(Tables.documents(s, dir), n = 3,
          tauNum = 4, tauDen = 5, blockCol = "lang")
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_ngram_jaccard_prefix" -> ((s, dir) => {
      // the FORCED 100 TB path under the driver's oracle gate: budget 0
      // reroutes candidates through the rare-first positional prefix
      // filter (the branch the small-SF adaptive default never takes),
      // output must equal the adaptive row exactly (identical SQL)
      Dedup.ngramJaccardPairsDict(Tables.documents(s, dir), n = 3,
          tauNum = 4, tauDen = 5, blockCol = "lang", blockPairBudget = 0L)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_ngram_jaccard_merge" -> ((s, dir) => {
      // the sorted-merge verify face (no dictionary bitsets) over the
      // same adaptive gate — the operator's third equal physical plan
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3,
          tauNum = 4, tauDen = 5, blockCol = "lang")
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_prefix_jaccard" -> ((s, dir) => {
      // AllPairs/PPJoin prefix filter: EXACT jaccard ≥ 4/5 over word
      // 3-SHINGLE sets with NO block column — the rare-first prefix IS
      // the blocking. Shingles, not char grams: the shingle universe
      // grows with the corpus, so prefix posting lists stay short (the
      // flat 3-gram alphabet degenerated to 22.8 s at sf0.1)
      Dedup.prefixJaccardPairs(Tables.documents(s, dir),
          Dedup.wordShingleHashSet(col("text"), 3), tauNum = 4, tauDen = 5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingPairs(Tables.embeddings(s, dir), tau = 0.35,
          blockCol = "label")
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_embedding_clusters" -> ((s, dir) => {
      // semantic dedup END-TO-END: cosine near-dup pairs → connected
      // components → keeper flag (the embedding-space twin of
      // dedup_clusters; same audited CC machinery)
      val pairs = Dedup.embeddingPairs(Tables.embeddings(s, dir),
          tau = 0.35, blockCol = "label")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      Dedup.connectedComponents(pairs)
        .withColumn("is_keeper", col("doc_id") === col("cluster"))
        .orderBy(col("doc_id"))
    }),

    "dedup_medoid" -> ((s, dir) => {
      // semantic-dedup representative selection: per near-dup cluster,
      // the member closest to the centroid — on the integer-quantized
      // lattice so the argmin is bit-exact cross-engine (see
      // Dedup.clusterMedoids)
      val emb = Tables.embeddings(s, dir)
      val pairs = Dedup.embeddingPairs(emb, tau = 0.35, blockCol = "label")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      Dedup.clusterMedoids(emb, Dedup.connectedComponents(pairs))
        .orderBy(col("cluster"))
    }),

    "curate_semantic" -> ((s, dir) => {
      // the EMBEDDING-SPACE curation capstone — one declarative plan
      // composing the audited pieces: semantic near-dup removal (cosine
      // pairs → CC keepers) → centroid outlier screen (keep vectors
      // within 1.02× their label's mean distance — centroid distances of
      // high-dim embeddings concentrate hard, measured [0.94, 1.05]
      // around mean 0.99, so a meaningful outlier gate sits close to the
      // mean; CROSS-MULTIPLIED in exact decimals: 50·d·n ≤ 51·Σd) →
      // deterministic exact-10 sample
      // per label → per-label funnel manifest. The deduped set is
      // materialized once (the centroid pass reads it twice, the
      // manifest a third time); the distance table likewise (gate stats
      // + survivor filter + sample all read it).
      import org.apache.spark.sql.types.DecimalType
      val emb = Tables.embeddings(s, dir)
      val pairs = Dedup.embeddingPairs(emb, tau = 0.35, blockCol = "label")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val clusters = Dedup.connectedComponents(pairs)
      val kept = graft.operators.Materialize(
        emb.join(clusters, col("vec_id") === col("doc_id"), "left_outer")
          .filter(col("doc_id").isNull || col("cluster") === col("vec_id"))
          .select(emb.columns.map(col): _*))
      val dist = graft.operators.Materialize(
        Similarity.labelCentroidDistance(kept)
          .select(col("vec_id"), col("label"),
            col("centroid_dist").cast(DecimalType(16, 6)).as("d")))
      val stats = dist.groupBy(col("label"))
        .agg(sum(col("d")).as("sum_d"), count(lit(1)).as("n_d"))
      val surv = dist.join(broadcast(stats), "label")
        .filter(col("d") * 50 * col("n_d") <= col("sum_d") * 51)
      val u = (graft.plans.native.poly_hash(
          concat(lit("sample:"), col("vec_id").cast("string")))
        * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0)) %
        graft.plans.HashOps.M
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("__u"), col("vec_id"))
      val sampled = surv.withColumn("__u", u)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      emb.groupBy(col("label")).agg(count(lit(1)).as("n_raw"))
        .join(kept.groupBy(col("label")).agg(count(lit(1)).as("n_dedup")),
          Seq("label"), "left_outer")
        .join(surv.groupBy(col("label")).agg(count(lit(1)).as("n_screened")),
          Seq("label"), "left_outer")
        .join(sampled.groupBy(col("label")).agg(count(lit(1)).as("n_sampled")),
          Seq("label"), "left_outer")
        .select(col("label"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_screened"), lit(0L)).as("n_screened"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("label"))
    }),

    "sim_cosine_topk" -> ((s, dir) => {
      Similarity.cosineTopKAgg(Tables.embeddings(s, dir),
          col("vec_id") < 20, k = 5)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    }),

    "sim_ivf" -> ((s, dir) => {
      Similarity.ivfAssign(Tables.embeddings(s, dir), numCentroids = 8,
          centroidStride = 32)
        .orderBy(col("vec_id"))
    }),

    "sim_probe_sweep" -> ((s, dir) => {
      // the ANN operating curve (the C112 threshold-sweep idea applied
      // to IVF): recall@5 vs brute for nprobe ∈ {1,2,4} over the 20
      // probe vectors — the policy audit that picks nprobe before a
      // deployment. Each sweep point reuses the SAME ivfTopK plan;
      // recall is a ratio of integer counts (deterministic).
      probeSweep(Tables.embeddings(s, dir))
    }),

    "sim_probe_sweep_planted" -> ((s, dir) => {
      // the SAME operating curve on planted-cluster embeddings (7
      // hash-seeded centers, exactly-float32 dyadic values): where the
      // near-uniform corpus caps recall at 0.25/0.41/0.70, separated
      // clusters show the real saturation knee a deployment would tune
      // against — same plan, honest data
      probeSweep(Similarity.plantedEmbeddings(Tables.embeddings(s, dir)))
    }),

    "sim_ivf_refined" -> ((s, dir) => {
      // one decimal-exact Lloyd step: refined centroid coordinates +
      // member counts (the k-means training iteration as a plan)
      Similarity.ivfRefine(Tables.embeddings(s, dir), numCentroids = 8,
          centroidStride = 32)
        .orderBy(col("cent_id"), col("pos"))
    }),

    "sim_ann_lsh" -> ((s, dir) => {
      Similarity.lshBuckets(Tables.embeddings(s, dir), nPlanes = 8, dim = 64)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec"))
        .orderBy(col("bucket"))
    }),

    "text_langid" -> ((s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir), langMarkers)
        .select(col("doc_id"), col("pred_lang"),
          col("score_de"), col("score_en"), col("score_es"),
          col("score_fr"), col("score_zh"))
        .orderBy(col("doc_id"))
    }),

    "text_langid_eval" -> ((s, dir) => {
      // the langid heuristic scored against the table's ground-truth
      // lang column: confusion matrix + per-actual-language share —
      // the planted-truth eval pattern with the truth already in the
      // data; one join (pred side is a projection of the same scan)
      // and one agg, the share via a lang-partitioned window
      val docs = Tables.documents(s, dir)
      langConfusion(TextAnalysis.langId(docs, langMarkers)
        .select(col("doc_id"), col("pred_lang")), docs)
    }),

    "text_langid_profile" -> ((s, dir) => {
      TextAnalysis.langIdProfile(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "text_langid_planted" -> ((s, dir) => {
      // the langid eval WITH SIGNAL: the corpus is
      // seeded with real per-language function-word distributions
      // conditioned on the ground-truth lang column (2-3 true-marker
      // repetitions per doc, a confuser token from the next language on
      // even ids — deterministic noise), so the confusion matrix
      // measures a non-chance classifier: the diagonal dominates while
      // the noise keeps it honestly imperfect. The chance-level
      // baseline over the UNSEEDED corpus stays on the board as
      // text_langid_eval — same readout, no signal, the control.
      val docs = langPlantedDocs(Tables.documents(s, dir))
      langConfusion(TextAnalysis.langId(docs, langEvalMarkers)
        .select(col("doc_id"), col("pred_lang")), docs)
    }),

    "text_langid_profile_planted" -> ((s, dir) => {
      // the n-gram-PROFILE classifier evaluated on the marker-planted
      // corpus (the C213 signal applied to the second langid face):
      // profiles train per ground-truth language on the planted text
      // (the markers' char trigrams give each language's profile real
      // lift), then the confusion matrix over scored docs measures
      // the classifier the same way C213 measures the marker heuristic.
      // Docs with no profile-gram hit drop from the scored relation
      // (langIdProfile's inner join) — the oracle mirrors that.
      val docs = langPlantedDocs(Tables.documents(s, dir))
      langConfusion(TextAnalysis.langIdProfile(docs), docs)
    }),

    "text_langid_profile_holdout" -> ((s, dir) => {
      // the profile classifier's REAL eval: trigram
      // profiles train on the even-doc_id half of the planted corpus
      // and score only the odd half, so the confusion matrix measures
      // generalization to documents the profiles never saw — the
      // in-sample text_langid_profile_planted row stays on the board
      // as the honestly-labeled separability demo. Same planted signal
      // as C213/C218, PLUS genuinely ambiguous test docs (a fifth of
      // the held-out half carries a doubled next-language marker
      // burst — langHoldoutDocs) so the matrix has real error mass:
      // without them even out-of-sample scoring is a perfect diagonal.
      val docs = langHoldoutDocs(Tables.documents(s, dir))
      langConfusion(TextAnalysis.langIdProfileHoldout(docs), docs)
    }),

    "text_quality" -> ((s, dir) => {
      TextAnalysis.quality(Tables.documents(s, dir), stopwords)
        .select(col("doc_id"), col("n_tokens"), col("uniq_ratio"),
          col("stop_ratio"), col("avg_wlen"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    "text_tokens" -> ((s, dir) => {
      TextAnalysis.tokenCounts(Tables.documents(s, dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("bpe_tokens")).as("bpe_tokens"))
        .orderBy(col("source"))
    }),

    "text_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(Tables.documents(s, dir), ngram = 8)
        .select(col("doc_id"), col("fp"), col("winnow_min"))
        .orderBy(col("doc_id"))
    }),

    "text_gopher" -> ((s, dir) => {
      // the Gopher quality-rule gate: per-rule booleans + conjunction
      TextAnalysis.gopherRules(Tables.documents(s, dir), stopwords)
        .select(col("doc_id"), col("n_tok"), col("r_ntok"), col("r_wlen"),
          col("r_alpha"), col("r_stop"), col("pass"))
        .orderBy(col("doc_id"))
    }),

    "curate_configured" -> ((s, dir) => {
      // config-driven curation (the args.rs identity applied to the
      // C-block): lang allowlist → dedup → quality gate → holdout +
      // decontamination → 8-shard manifest
      val cfg = graft.operators.CurateConfig(
        langs = Seq("en", "es", "fr"), minQuality = 0.6, nShards = 8)
      Curation.curate(cfg, stopwords)(Tables.documents(s, dir))
        .orderBy(col("shard"))
    }),

    "curate_funnel" -> ((s, dir) => {
      // per-stage funnel audit of the configured pipeline: how many docs
      // survive each gate (the observability readout a curation run
      // publishes next to its manifest). ONE-PASS: each doc carries its
      // gate flags and every stage count is a conditional sum over a
      // single scan — the union-of-counts formulation re-ran the
      // dedup/CC machinery once per downstream stage (3×)
      val docs = Tables.documents(s, dir)
      val inLangPred = col("lang").isin("en", "es", "fr")
      val inLang = docs.filter(inLangPred)
      val labels = Dedup.connectedComponents(
          Dedup.minhashCandidates(inLang, 16, 4))
        .select(col("doc_id").as("__cid"), col("cluster"))
      val cont = Dedup.rareGramContaminated(inLang,
          pmod(col("doc_id"), lit(97)) === 0, 8, 2)
        .select(col("doc_id").as("__cont"))
      val flagged = TextAnalysis.quality(docs, stopwords)
        .join(labels, col("doc_id") === col("__cid"), "left")
        .join(cont, col("doc_id") === col("__cont"), "left")
        .select(inLangPred.as("f_lang"),
          (col("__cid").isNull || col("cluster") === col("doc_id"))
            .as("f_keep"),
          (col("quality") >= 0.6).as("f_q"),
          (pmod(col("doc_id"), lit(97)) === 0).as("f_bench"),
          col("__cont").isNotNull.as("f_cont"))
      def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
      flagged.agg(
          count(lit(1)).as("c0"), n(col("f_lang")).as("c1"),
          n(col("f_lang") && col("f_keep")).as("c2"),
          n(col("f_lang") && col("f_keep") && col("f_q")).as("c3"),
          n(col("f_lang") && col("f_keep") && col("f_q") &&
            !col("f_bench") && !col("f_cont")).as("c4"))
        .select(explode(array(
          struct(lit("0_input").as("stage"), col("c0").as("n_docs")),
          struct(lit("1_lang").as("stage"), col("c1").as("n_docs")),
          struct(lit("2_dedup").as("stage"), col("c2").as("n_docs")),
          struct(lit("3_quality").as("stage"), col("c3").as("n_docs")),
          struct(lit("4_decontaminated").as("stage"),
            col("c4").as("n_docs")))).as("s"))
        .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"))
        .orderBy(col("stage"))
    }),

    "curate_split" -> ((s, dir) => {
      // the FULL configured export: curation pipeline + train/valid/test
      // split, manifest per (split, shard)
      val cfg = graft.operators.CurateConfig(
        langs = Seq("en", "es", "fr"), minQuality = 0.6, nShards = 8,
        splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
      Curation.curate(cfg, stopwords)(Tables.documents(s, dir))
        .orderBy(col("split"), col("shard"))
    }),

    "sample_stratified" -> ((s, dir) => {
      TextAnalysis.sampleStratified(Tables.documents(s, dir), "source", k = 5)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("source"), col("doc_id"))
    }),

    "text_winnow" -> ((s, dir) => {
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir), 8, 4)
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
        .orderBy(col("doc_id"))
    }),

    "text_repetition" -> ((s, dir) => {
      TextAnalysis.repetition(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_bigrams"),
          col("dup_bigram_frac"), col("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    "text_pii" -> ((s, dir) => {
      // deterministic PII planting: every 3rd doc gets an email, every
      // 3rd+1 an IPv4 — the scrub pre-pass counted per source
      TextAnalysis.piiCounts(piiPlanted(Tables.documents(s, dir)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") + col("n_ips") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum(col("n_emails")).as("n_emails"),
          sum(col("n_ips")).as("n_ips"))
        .orderBy(col("source"))
    }),

    "mix_upsample" -> ((s, dir) => {
      // epoch-style mixture: src0 ×2.5, src1 ×1.25, others ×1 — audit
      // per source: docs in, rows out, docs that drew the extra copy
      val mixed = Curation.mixUpsample(Tables.documents(s, dir),
        Map("src0" -> 2.5, "src1" -> 1.25))
      mixed.groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_rows"),
          sum(when(col("copy") === 1 && col("n_copies") >
            floor(when(col("source") === "src0", 2.5)
              .when(col("source") === "src1", 1.25).otherwise(1.0)), 1L)
            .otherwise(0L)).as("n_extra"))
        .orderBy(col("source"))
    }),

    "vocab_build" -> ((s, dir) => {
      // the stored vocab artifact: dense ids in (count desc, word) order
      Curation.vocabBuild(Tables.documents(s, dir), minCount = 2)
        .orderBy(col("vocab_id"))
    }),

    "vocab_merge" -> ((s, dir) => {
      // incremental vocab maintenance: two disjoint batch artifacts
      // (even/odd doc ids) merged + re-ranked ≡ the from-scratch build
      // (the oracle IS the full rebuild — same SQL as vocab_build)
      val docs = Tables.documents(s, dir)
      val even = Curation.vocabCounts(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      val odd = Curation.vocabCounts(docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      Curation.vocabMerge(Seq(even, odd), minCount = 2)
        .orderBy(col("vocab_id"))
    }),

    "sample_temperature" -> ((s, dir) => {
      TextAnalysis.sampleTemperatureT2(Tables.documents(s, dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          round(max(col("keep_frac")), 6).as("keep_frac"))
        .orderBy(col("source"))
    }),

    "decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs sharing any char-8-gram with the
      // pseudo test set (doc_id % 97 == 0)
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      Dedup.decontaminate(docs.filter(!isBench), docs.filter(isBench), n = 8)
        .orderBy(col("doc_id"))
    }),

    "decontaminate_eval" -> ((s, dir) => {
      // planted-truth audit of the decontamination gate (the dedup_eval
      // pattern applied to C26): every 13th corpus doc gets a twin with
      // a verbatim benchmark excerpt of length L ∈ {12,23,24,64}
      // appended — the arms straddle the char-24-gram threshold, so the
      // sweep shows the gate's contract edge (≥ n verbatim chars is
      // ALWAYS caught, < n escapes); level 0 is the unplanted corpus,
      // the natural-collision baseline a reader subtracts (n = 24 is
      // the smallest measured gram size where that baseline is
      // discriminative on this corpus — at the production default n = 8
      // the shared word pool makes EVERY doc collide, so the eval pins
      // n to the regime where the answer carries information). The
      // production decontaminate plan runs unchanged over the union:
      // one corpus scan, one broadcast gram join.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val bench = docs.filter(isBench)
      val corp = docs.filter(!isBench)
      // shared excerpt source: the first benchmark doc, broadcast 1-row
      val exc = bench.orderBy(col("doc_id")).limit(1)
        .select(col("text").as("__exc"))
      val planted = Seq(12, 23, 24, 64).map { l =>
        corp.filter(pmod(col("doc_id"), lit(13)) === 0)
          .crossJoin(broadcast(exc))
          .select((col("doc_id") + lit(20000000L + l * 1000000L)).as("doc_id"),
            concat(col("text"), lit(" "),
              substring(col("__exc"), 10, l)).as("text"))
      }.reduce(_ unionByName _)
      val union = corp.unionByName(planted)
      val flagged = Dedup.decontaminate(union, bench, n = 24)
        .select(col("doc_id"), lit(1L).as("hit"))
      union
        .withColumn("level", expr("CASE WHEN doc_id < 20000000 THEN 0 " +
          "ELSE (doc_id - 20000000) div 1000000 END").cast("long"))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_flagged"),
          round(sum(coalesce(col("hit"), lit(0L))) * lit(1.0) / count(lit(1)), 6)
            .as("catch_rate"))
        .orderBy(col("level"))
    }),

    "sketch_moments" -> ((s, dir) => {
      // mergeable moment sketch through the SHARD route: (n, Σq, Σq²)
      // per (shard, type) sum-merge into per-type moments, then
      // integer mean/variance; the oracle computes DIRECTLY over the
      // table — the hash match proves merge ≡ direct, exactly the
      // sketch_hll_merge pattern for the metrics-pipeline case
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = Tables.events(s, dir)
      graft.operators.Sketches.moments(
          ev.withColumn("shard", pmod(col("event_id"), lit(8L))),
          Seq("shard", "event_type"), col("value"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
          sum(col("s2")).as("s2"))
        .withColumn("mean_milli", expr("s1 div n"))
        .withColumn("var_milli2",
          expr("s2 div n - (s1 div n) * (s1 div n)"))
        .orderBy(col("event_type"))
    }),

    "sketch_moments_stream" -> ((s, dir) => {
      // the moment sums maintained by a REAL complete-mode streaming
      // aggregation: the drained state table must equal the batch
      // moments, landing on sketch_moments' own direct oracle
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.streaming.StreamedBatch
        .momentsStreamed(s, Tables.events(s, dir))
        .withColumn("mean_milli", expr("s1 div n"))
        .withColumn("var_milli2",
          expr("s2 div n - (s1 div n) * (s1 div n)"))
        .orderBy(col("event_type"))
    }),

    "sketch_hll_merge" -> ((s, dir) => {
      // distributed HLL the way a 1000-executor rollup actually runs:
      // registers built per SHARD (event_id mod 4 — disjoint batches),
      // max-merged across shards per (group, bucket), THEN estimated.
      // The oracle computes the estimate directly over the whole table —
      // the hash-match IS the proof that merge ≡ direct
      val ev = Tables.events(s, dir)
      val sharded = graft.operators.Sketches.hllRegisters(
        ev.withColumn("shard", pmod(col("event_id"), lit(4L))),
        Seq("shard", "event_type"), col("user_id"))
      val merged = sharded.groupBy(col("event_type"), col("bucket"))
        .agg(max(col("m_j")).as("m_j"))
      graft.operators.Sketches.hllEstimate(merged, Seq("event_type"))
        .select(col("event_type"), col("occupied"), col("hll_est"))
        .orderBy(col("event_type"))
    }),

    "sketch_kmv" -> ((s, dir) => {
      // KMV distinct sketch vs exact: per event type, the k-minimum-
      // values estimate (k = 64) next to the exact distinct-user count
      // — the mergeable estimator that also supports set operations
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = Tables.events(s, dir)
      graft.operators.Sketches.kmvDistinct(
          ev, Seq("event_type"), col("user_id"), k = 64)
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact")), Seq("event_type"))
        .select(col("event_type"), col("exact"), col("n_min"), col("kmv_est"))
        .orderBy(col("event_type"))
    }),

    "sketch_hll" -> ((s, dir) => {
      // portable HyperLogLog (m = 64) vs exact: the register-based
      // estimator that, unlike KMV, needs no distinct pass and absorbs
      // duplicate arrivals for free — integer comparison-chain rho,
      // exact scaled-integer harmonic sum, linear-counting fallback
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = Tables.events(s, dir)
      graft.operators.Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact")), Seq("event_type"))
        .select(col("event_type"), col("exact"), col("occupied"), col("hll_est"))
        .orderBy(col("event_type"))
    }),

    "sketch_hll_stream" -> ((s, dir) => {
      // C110's register table maintained by the REAL streaming
      // aggregation (complete-mode max(rho) per (key, bucket) — the
      // ingest-side sketch store): the drained registers must equal the
      // batch registers exactly, so the estimate computed from them
      // lands on sketch_hll's own oracle SQL — streaming maintenance
      // under the oracle, not just the spec
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = Tables.events(s, dir)
      val regs = graft.streaming.StreamedBatch.hllRegistersStreamed(
        s, ev.select(col("event_type"), col("user_id")),
        "event_type", "user_id")
      graft.operators.Sketches.hllEstimate(regs, Seq("event_type"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact")), Seq("event_type"))
        .select(col("event_type"), col("exact"), col("occupied"), col("hll_est"))
        .orderBy(col("event_type"))
    }),

    "sketch_hll_daily" -> ((s, dir) => {
      // time-bucketed HLL: distinct users per (event_type, day) — the
      // rollup dimension where MERGEABLE registers earn their keep (day
      // registers max-merge into week/month without a rescan; the
      // merge ≡ direct proof is sketch_hll_merge). Same estimator,
      // extra group key.
      val ev = Tables.eventsTime(s, dir).withColumn("day", to_date(col("ts")))
      graft.operators.Sketches.hllDistinct(ev, Seq("event_type", "day"), col("user_id"))
        .join(ev.groupBy(col("event_type"), col("day"))
          .agg(countDistinct(col("user_id")).as("exact")),
          Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("exact"),
          col("occupied"), col("hll_est"))
        .orderBy(col("event_type"), col("day"))
    }),

    "sketch_hll_sliding" -> ((s, dir) => {
      // 7-day ROLLING distinct users per (event_type, day) — the ops
      // metric a register store answers without rescanning: daily
      // registers max-merge across a (etype, bucket)-partitioned
      // 7-row calendar window (days densified so the ROWS frame IS the
      // calendar week), then the standard estimate. The oracle computes
      // the window estimate DIRECTLY from the windowed event sets, so
      // the hash match proves sliding register-max ≡ direct — the
      // merge theorem applied to sliding windows. Exact count rides a
      // ≤7-day explode (narrow), never an inequality join
      val ss2 = s; import ss2.implicits._
      val ev = Tables.eventsTime(s, dir).withColumn("day", to_date(col("ts")))
      val daily = graft.operators.Sketches.hllRegisters(
        ev, Seq("event_type", "day"), col("user_id"))
      val days = ev.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val buckets = (0L until 64L).toDF("bucket")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("day")).rowsBetween(-6, 0)
      val slid = days.crossJoin(broadcast(buckets))
        .join(daily, Seq("event_type", "day", "bucket"), "left")
        .withColumn("m7", max(col("m_j")).over(w))
        .filter(col("m7").isNotNull)
        .select(col("event_type"), col("day"), col("bucket"),
          col("m7").as("m_j"))
      val exact7 = ev
        .withColumn("day_w",
          explode(sequence(col("day"), date_add(col("day"), 6))))
        .groupBy(col("event_type"), col("day_w").as("day"))
        .agg(countDistinct(col("user_id")).as("exact7"))
        .join(days, Seq("event_type", "day"), "left_semi")
      graft.operators.Sketches.hllEstimate(slid, Seq("event_type", "day"))
        .join(exact7, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("exact7"),
          col("occupied"), col("hll_est"))
        .orderBy(col("event_type"), col("day"))
    }),

    "sketch_hll_weekly" -> ((s, dir) => {
      // the TIME-dimension register rollup a daily-materialized sketch
      // store serves: day registers (C125's shape) max-merge into week
      // registers WITHOUT rescanning the corpus, then estimate. The
      // oracle computes the weekly estimate directly over events, so
      // the hash match proves day→week merge ≡ direct — C117's
      // shard-merge theorem applied to time
      val ev = Tables.eventsTime(s, dir).withColumn("day", to_date(col("ts")))
      val daily = graft.operators.Sketches.hllRegisters(
        ev, Seq("event_type", "day"), col("user_id"))
      val weekly = daily
        .withColumn("week", to_date(date_trunc("week", col("day"))))
        .groupBy(col("event_type"), col("week"), col("bucket"))
        .agg(max(col("m_j")).as("m_j"))
      graft.operators.Sketches.hllEstimate(weekly, Seq("event_type", "week"))
        .join(ev.withColumn("week", to_date(date_trunc("week", col("day"))))
          .groupBy(col("event_type"), col("week"))
          .agg(countDistinct(col("user_id")).as("exact")),
          Seq("event_type", "week"))
        .select(col("event_type"), col("week"), col("exact"),
          col("occupied"), col("hll_est"))
        .orderBy(col("event_type"), col("week"))
    }),

    "sketch_kmv_overlap" -> ((s, dir) => {
      // KMV set operations per event-type pair: union estimate by
      // re-min of the two k-min sets, intersection by inclusion-
      // exclusion, jaccard as the ratio — audience overlap from the
      // stored sketch alone (one corpus scan total)
      graft.operators.Sketches.kmvPairOverlap(
          Tables.events(s, dir), "event_type", col("user_id"), k = 64)
        .orderBy(col("key_a"), col("key_b"))
    }),

    "sketch_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.Sketches.linearCountDistinct(
          ev, Seq("event_type"), col("user_id"), k = 256)
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact")), Seq("event_type"))
        .select(col("event_type"), col("exact"), col("occupied"), col("estimate"))
        .orderBy(col("event_type"))
    }),

    "vec_norms" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          round(sqrt(aggregate(transform(v, x => x * x), lit(0.0),
            (a, x) => a + x)), 6).as("l2_norm"),
          size(col("embedding")).cast("long").as("dim"))
        .orderBy(col("vec_id"))
    }),

    "mm_frames" -> ((s, dir) => {
      implicit val ss: SparkSession = s
      Multimodal.sampleFrames(
          Multimodal.toMediaRecords(Tables.documents(s, dir)),
          frameBytes = 64, stride = 2)
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    "mm_scene_cuts" -> ((s, dir) => {
      // scene-cut detection over the sampled frame hashes: a cut is a
      // frame whose content hash differs from its predecessor's (the
      // hash is an exact-content fingerprint here, so any change IS a
      // cut); one doc-partitioned lag window over the frame relation —
      // the video-pipeline segmentation readout
      implicit val ss: SparkSession = s
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      Multimodal.sampleFrames(
          Multimodal.toMediaRecords(Tables.documents(s, dir)),
          frameBytes = 64, stride = 2)
        .toDF()
        .withColumn("prev", lag(col("frame_hash"), 1).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("prev").isNotNull &&
            col("frame_hash") =!= col("prev"), 1L).otherwise(0L))
            .as("n_cuts"))
        .orderBy(col("doc_id"))
    }),

    "mm_audio" -> ((s, dir) => {
      // audio-modality plumbing: payload as 8-bit PCM, 64-sample window
      // energies, per-clip-normalized silence count + peak window — the
      // VAD shape, partition-local, integer-exact
      implicit val ss: SparkSession = s
      Multimodal.audioFeatures(
          Multimodal.toMediaRecords(Tables.documents(s, dir)))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    "mm_audio_fingerprint" -> ((s, dir) => {
      // energy-derivative-sign fingerprint: the envelope's CONTOUR
      // packed into 62 bits — gain-invariant, partition-local
      implicit val ss: SparkSession = s
      Multimodal.audioFingerprint(
          Multimodal.toMediaRecords(Tables.documents(s, dir)))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    "mm_audio_dups" -> ((s, dir) => {
      // near-dup clips collide on (n_windows, fingerprint): one agg on
      // the fingerprint key — the dedup_exact shape for the audio
      // modality
      implicit val ss: SparkSession = s
      Multimodal.audioFingerprint(
          Multimodal.toMediaRecords(Tables.documents(s, dir)))
        .toDF()
        .groupBy(col("n_windows"), col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_clips"))
        .filter(col("n_clips") > 1)
        .orderBy(col("keeper"))
    }),

    "mm_features" -> ((s, dir) => {
      implicit val ss: SparkSession = s
      Multimodal.extractFeatures(
          Multimodal.toMediaRecords(Tables.documents(s, dir)))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    "mm_resize" -> ((s, dir) => {
      // stub resize to ≤64 bytes: byte-stride downsample, metadata updated
      implicit val ss: SparkSession = s
      import ss.implicits._
      Multimodal.resize(
          Multimodal.toMediaRecords(Tables.documents(s, dir)), 64)
        .map(r => (r.doc_id, r.n_bytes,
          graft.plans.HashOps.polyHashStr(new String(r.media, "UTF-8"))))
        .toDF("doc_id", "n_bytes", "resized_hash")
        .orderBy(col("doc_id"))
    }),

    "mm_decode" -> ((s, dir) => {
      // REAL codec round-trip: synthesize a BMP per doc through the JDK
      // encoder (docs ≡ 0 mod 7 get an undecodable text payload instead),
      // decode via javax.imageio, emit dimensions + channel-weighted
      // pixel sum; undecodable payloads fall back to the stub's header
      // hash with decoded=false
      Multimodal.decodeFeatures(synthMedia(s, dir))(s).toDF()
        .select(col("doc_id"), col("decoded"), col("width"), col("height"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    }),

    "sketch_freq_cms" -> ((s, dir) => {
      // count-min frequency sketch (4×1024 grid, portable hashes):
      // commutative cell sums → engine-exact estimates; est >= exact
      val words = Tables.documents(s, dir)
        .select(explode(graft.functions.Portable.tokens(col("text")))
          .as("word"))
      val probes = Seq("spark", "table", "join", "merge", "the",
        "window", "data", "query")
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("exact"))
      graft.operators.Sketches.countMinFreq(words, col("word"), probes)
        .join(exact, Seq("word"), "left")
        .select(col("word"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"))
        .orderBy(col("word"))
    }),

    "sketch_cms_dot" -> ((s, dir) => {
      // CMS inner-product overlap between per-source token streams:
      // est = min over grid rows of the cellwise product sum — upper-
      // bounds the true frequency dot product (collisions only
      // inflate), computed from model-state-sized grids instead of the
      // corpus-sized word-count join the exact column runs beside it
      val toks = sourceWords(Tables.documents(s, dir))
      withExactDot(graft.operators.Sketches.cmsDot(toks, col("source"), col("word")),
        toks)
    }),

    "sketch_cms_dot_stream" -> ((s, dir) => {
      // C171's per-source grids maintained by the REAL streaming
      // aggregation (complete-mode plain-sum cells per (source, k,
      // cell), O(#sources·depth·width) state at any corpus size): the
      // drained grids must equal the batch grids, so the pairwise dot
      // derived from them lands on sketch_cms_dot's own oracle
      val docs = Tables.documents(s, dir)
      val grids = graft.streaming.StreamedBatch.cmsGridsByKeyStreamed(s, docs)
      withExactDot(graft.operators.Sketches.cmsDotFromGrids(grids),
        sourceWords(docs))
    }),

    "sketch_freq_cms_stream" -> ((s, dir) => {
      // C33's grid maintained by the REAL streaming aggregation
      // (complete-mode plain-sum cells, O(depth·width) state at any
      // corpus size): the drained grid must equal the batch grid, so
      // probe estimates from it land on sketch_freq_cms's own oracle
      val docs = Tables.documents(s, dir)
      val cells = graft.streaming.StreamedBatch.cmsCellsStreamed(s, docs)
      val probes = Seq("spark", "table", "join", "merge", "the",
        "window", "data", "query")
      val exact = docs
        .select(explode(graft.functions.Portable.tokens(col("text")))
          .as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("exact"))
      graft.operators.Sketches.cmsEstimate(cells, probes)
        .join(exact, Seq("word"), "left")
        .select(col("word"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"))
        .orderBy(col("word"))
    }),

    "sketch_kmv_stream" -> ((s, dir) => {
      // C108's k-min sets maintained as LIVE streaming aggregation
      // state (BottomKAggregator — the bottom-k-of-a-union
      // monoid, O(k) per key): the drained sketch equals the batch
      // sketch, so the estimate readout lands on sketch_kmv's oracle
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = Tables.events(s, dir)
      val h = (graft.plans.native.poly_hash(
          concat(lit("kmv:"), col("user_id").cast("string")))
        * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0)) %
        graft.plans.HashOps.M
      val obs = ev.select(col("event_type").as("key"), h.as("h"))
      val mink = graft.streaming.StreamedBatch.kmvMinKStreamed(s, obs, 64)
        .select(col("key").as("event_type"),
          posexplode(col("hs")).as(Seq("pos", "h")))
        .withColumn("rk", (col("pos") + 1).cast("int")).drop("pos")
      graft.operators.Sketches
        .kmvDistinctFromMinK(mink, Seq("event_type"), 64)
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact")), Seq("event_type"))
        .select(col("event_type"), col("exact"), col("n_min"),
          col("kmv_est"))
        .orderBy(col("event_type"))
    }),

    "sketch_quantile_stream" -> ((s, dir) => {
      // C46's bin counts maintained as a LIVE streaming aggregation
      // (plain sums): the drained grid equals the batch grid, so the
      // quantile readout lands on sketch_quantile's own oracle
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rows = Tables.events(s, dir).select(
        col("event_type").as("key"),
        graft.operators.Sketches
          .histogramBin(col("value"), 128, 0.0, 512.0).as("bin"))
      val counts = graft.streaming.StreamedBatch.histBinsStreamed(s, rows)
        .select(col("key").as("event_type"), col("bin"), col("cnt"))
      graft.operators.Sketches.histogramQuantilesFromCounts(
          counts, Seq("event_type"), qs = Seq(0.5, 0.95))
        .orderBy(col("event_type"))
    }),

    "sketch_quantile" -> ((s, dir) => {
      // mergeable histogram quantile sketch (commutative bin counts →
      // oracle-exact estimates); events.value spans [0, 512)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.operators.Sketches.histogramQuantiles(
          Tables.events(s, dir), Seq("event_type"), col("value"),
          qs = Seq(0.5, 0.95))
        .orderBy(col("event_type"))
    }),

    "decontaminate_bloom" -> ((s, dir) => {
      // O(1)-memory Bloom decontamination gate: 4096-bit filter, 3
      // affine hashes — deterministic, so even the false positives are
      // oracle-exact
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      Dedup.decontaminateBloom(docs.filter(!isBench), docs.filter(isBench),
          n = 8)
        .orderBy(col("doc_id"))
    }),

    "curate_ingest_stream" -> ((s, dir) => {
      // the INGEST-SIDE curation capstone: quality score +
      // admission verdict + shard route + benchmark-contamination
      // count computed per arriving doc in ONE streaming projection —
      // every column a stateless narrow expression over frozen
      // artifacts (classifier kernel, shard hash, offline Bloom bits).
      // Composition is the point: the oracle recomputes the whole
      // column set from the same relations in one SQL.
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val bits = Dedup.bloomBits(docs.filter(isBench), n = 8)
      graft.streaming.StreamedBatch.curatedIngestStream(s,
          docs.filter(!isBench)
            .select(col("doc_id"), col("lang"), col("text")),
          bits, nShards = 16)
        .orderBy(col("doc_id"))
    }),

    "decontaminate_stream" -> ((s, dir) => {
      // benchmark decontamination AT INGEST: the Bloom bits are
      // trained OFFLINE from the benchmark split (512 B of model
      // state), then every arriving doc is gated inside a REAL
      // streaming projection — the bits ride the expression as a
      // literal, no join, no shuffle, no state. The emitted relation
      // must be the batch gate's exact output, so the oracle is
      // decontaminate_bloom's SQL VERBATIM (false positives included —
      // deterministic hashing makes even those engine-exact).
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val bits = Dedup.bloomBits(docs.filter(isBench), n = 8)
      graft.streaming.StreamedBatch.bloomGatedStream(s,
          docs.filter(!isBench).select(col("doc_id"), col("text")), bits)
        .orderBy(col("doc_id"))
    }),

    "pack_sequences" -> ((s, dir) => {
      // training-sequence packing manifest: 256-token sequences per source
      Curation.packSequences(Tables.documents(s, dir), seqLen = 256)
        .orderBy(col("source"), col("seq_id"))
    }),

    "pack_length_hist" -> ((s, dir) => {
      // the seqLen-policy readout BEFORE packing: per source, doc-length
      // histogram in power-of-4-ish integer buckets (CASE chain on
      // integers — never floating log2, whose exact-power boundaries
      // could flip cross-engine) + token mass per bucket; the numbers
      // that decide seqLen and whether long docs need chunking first
      val n = graft.plans.native.token_count(col("text"))
      Tables.documents(s, dir)
        .withColumn("n_tok", n)
        .filter(col("n_tok") > 0)
        .withColumn("bucket_lo",
          when(col("n_tok") < 16, 1L).when(col("n_tok") < 64, 16L)
            .when(col("n_tok") < 256, 64L).when(col("n_tok") < 1024, 256L)
            .otherwise(1024L))
        .groupBy(col("source"), col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
        .orderBy(col("source"), col("bucket_lo"))
    }),

    "pack_efficiency" -> ((s, dir) => {
      // the pre-run packing audit: per-source fill rate + split-doc count
      Curation.packEfficiency(Tables.documents(s, dir), seqLen = 256)
        .orderBy(col("source"))
    }),

    "pack_nosplit" -> ((s, dir) => {
      // NO-SPLIT packing by harmonic size classes: whole docs only,
      // bin = per-class rank div k — the attention-mask-free
      // alternative whose fill loss pack_efficiency's split packer
      // avoids; fully parallel across (source, class)
      Curation.packNoSplit(Tables.documents(s, dir), seqLen = 256)
        .orderBy(col("source"), col("k"), col("bin"))
    }),

    "cdc_apply_stream" -> ((s, dir) => {
      // the MERGE applied AT INGEST: the changelog replays in its real
      // arrival order (snapshot batch, then updates, then deletes) and
      // per-key max(struct(version, op, text)) holds the last writer in
      // O(keys) streaming aggregation state — the continuously-merged
      // table view a CDC consumer maintains; cdc_apply's own oracle
      // anchors the drained relation
      val log = cdcChangelog(Tables.documents(s, dir))
        .withColumn("batch", col("version"))
      graft.streaming.StreamedBatch.cdcApplied(s, log, nBatches = 3)
        .filter(col("op") =!= "D")
        .select(col("doc_id"), col("version"),
          graft.plans.native.poly_hash(col("text")).as("text_hash"))
        .orderBy(col("doc_id"))
    }),

    "cdc_apply" -> ((s, dir) => {
      // changelog-merge (the Delta/Iceberg MERGE semantics a mutable
      // 100 TB table needs): base snapshot + planted updates (every
      // 5th doc, version 1) + planted deletes (every 7th, version 2)
      // resolve LAST-WRITER-WINS per key — one key-partitioned rank
      // window over the unioned changelog, deletes drop, the merge
      // shuffles once on the key; output pins the surviving version
      // and the final text hash
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("version").desc)
      cdcChangelog(Tables.documents(s, dir))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("op") =!= "D")
        .select(col("doc_id"), col("version"),
          graft.plans.native.poly_hash(col("text")).as("text_hash"))
        .orderBy(col("doc_id"))
    }),

    "mix_fill_budget" -> ((s, dir) => {
      // water-filling token-budget allocation: small sources saturate,
      // freed budget redistributes — one pass, integer-exact
      Curation.mixFillBudget(Tables.documents(s, dir))
        .orderBy(col("source"))
    }),

    "split_kfold" -> ((s, dir) => {
      // deterministic 5-fold assignment balance audit per (fold, source)
      Curation.kfoldAssign(Tables.documents(s, dir), k = 5)
        .groupBy(col("fold"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.plans.native.token_count(col("text"))).as("tok_sum"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("fold"), col("source"))
    }),

    "text_templates_stream" -> ((s, dir) => {
      // template detection AT INGEST: the digit-masked key feeds the
      // same first-seen registry as the text/image gates — C169's
      // planted twins (id-offset + per-doc id stamps) arrive in the
      // LAST micro-batch (the repost shape), so each must collide with
      // its base; first = earliest (batch, id), oracle recomputes the
      // masked-key hash and the arrival argmin
      val stamped = templateTwins(Tables.documents(s, dir))
        .withColumn("batch", when(col("doc_id") >= 1000000L, 2L)
          .otherwise(pmod(col("doc_id"), lit(2L))))
      graft.streaming.StreamedBatch
        .templateCollisionsMulti(s, stamped, nBatches = 3)
        .select(col("doc_id"), col("bucket").as("tmpl_hash"),
          col("first_doc"))
        .orderBy(col("doc_id"))
    }),

    "text_templates" -> ((s, dir) => {
      // boilerplate TEMPLATE detection (the near-dup class exact dedup
      // misses and minhash over-matches): texts identical after masking
      // digit runs share a template key; a TRUE template group has > 1
      // distinct raw text. The "same page, different session id" shape
      // is planted as ground truth (the dedup_eval twin pattern): every
      // 13th doc gets an id-offset twin, and every doc is stamped with
      // its own id — twins' raws diverge, masked keys collide, so the
      // detector must find exactly the planted groups. One agg on the
      // masked-key hash.
      val stamped = templateTwins(Tables.documents(s, dir))
      val tmplKey = graft.plans.native.poly_hash(
        regexp_replace(col("text"), "[0-9]+", "#"))
      stamped
        .select(col("doc_id"), tmplKey.as("tmpl_hash"),
          graft.plans.native.poly_hash(col("text")).as("raw_hash"))
        .groupBy(col("tmpl_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"),
          countDistinct(col("raw_hash")).as("n_variants"))
        .filter(col("n_docs") > 1 && col("n_variants") > 1)
        .orderBy(col("keeper"))
    }),

    "curate_dup_rate" -> ((s, dir) => {
      // per-source exact-dup pressure: the mixture designer's readout
      Curation.dupRateBySource(Tables.documents(s, dir))
        .orderBy(col("source"))
    }),

    "shard_rebalance" -> ((s, dir) => {
      // water-filling move plan between over- and under-full shards
      Curation.shardRebalance(
          Curation.shardAssign(Tables.documents(s, dir), 32))
        .orderBy(col("from_shard"), col("to_shard"))
    }),

    "pack_seqlen_sweep" -> ((s, dir) => {
      // the seqLen POLICY curve (C121's audit parameterized over the
      // candidate lengths): per source, sequence counts, fill rate and
      // split-doc exposure at seqLen ∈ {32,64,128,256} — the tradeoff
      // that picks the training sequence length. ONE stream-partitioned
      // running-sum window; the four arms are conditional arithmetic
      // over a 4-row broadcast, never a per-arm rescan
      val ss = s; import ss.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val t = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          graft.plans.native.token_count(col("text")).as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("tok_end", sum(col("n_tok")).over(w).cast("long"))
      val arms = Seq(32L, 64L, 128L, 256L).toDF("seq_len")
      t.crossJoin(broadcast(arms))
        .withColumn("first_seq", expr("(tok_end - n_tok) div seq_len"))
        .withColumn("last_seq", expr("(tok_end - 1) div seq_len"))
        .groupBy(col("source"), col("seq_len"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("tok_end")).as("total_tokens"),
          sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
            .as("n_split_docs"))
        .withColumn("n_seqs", expr("(total_tokens - 1) div seq_len + 1"))
        .withColumn("fill_rate", round(col("total_tokens") * lit(1.0)
          / (col("n_seqs") * col("seq_len")), 6))
        .select(col("source"), col("seq_len"), col("n_docs"),
          col("total_tokens"), col("n_seqs"), col("n_split_docs"),
          col("fill_rate"))
        .orderBy(col("source"), col("seq_len"))
    }),

    "quality_sweep" -> ((s, dir) => {
      // the quality-bar POLICY curve (the C135 sweep idea applied to the
      // C8 gate): docs and token mass surviving at threshold τ ∈
      // {0.5, 0.62, 0.7, 0.8} — curate_corpus pins 0.62; this publishes
      // what that choice costs. ONE quality scan, four conditional
      // aggregates off a broadcast arm table, totals broadcast back
      val ss = s; import ss.implicits._
      val q = TextAnalysis.quality(Tables.documents(s, dir), stopwords)
        .select(col("n_tokens"), col("quality"))
      val taus = Seq(0.5, 0.62, 0.7, 0.8).toDF("tau")
      val tot = q.agg(count(lit(1)).as("all_docs"),
        sum(col("n_tokens")).as("all_toks"))
      q.crossJoin(broadcast(taus))
        .groupBy(col("tau"))
        .agg(sum(when(col("quality") >= col("tau"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("quality") >= col("tau"), col("n_tokens"))
            .otherwise(0L)).as("tok_kept"))
        .crossJoin(broadcast(tot))
        .select(col("tau"), col("n_kept"), col("tok_kept"),
          round(col("n_kept") * lit(1.0) / col("all_docs"), 6).as("keep_frac"),
          round(col("tok_kept") * lit(1.0) / col("all_toks"), 6).as("tok_frac"))
        .orderBy(col("tau"))
    }),

    "lm_unigram_score" -> ((s, dir) => {
      // unigram-LM quality proxy: avg corpus frequency + rare-token count
      Curation.lmUnigramScore(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "lm_interp_score" -> ((s, dir) => {
      // Jelinek–Mercer interpolated bigram⊕unigram score (λ=0.7) on
      // the milli-probability lattice — backs off where the bigram
      // table is sparse, between lm_bigram_score and the KN model
      Curation.lmInterpScore(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "lm_bigram_score" -> ((s, dir) => {
      // bigram-LM quality proxy (one order above lm_unigram_score)
      Curation.lmBigramScore(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "lm_bigram_vocab" -> ((s, dir) => {
      // bigram scores against the STORED bigram-vocab artifact
      val docs = Tables.documents(s, dir)
      val out = graft.operators.Scratch.fixedPath(
        s"graft_bivocab_${Integer.toHexString(dir.hashCode)}")
      Curation.bigramVocabBuild(docs, minCount = 1)
        .write.mode("overwrite").parquet(out)
      Curation.lmBigramScoreVocab(docs, s.read.parquet(out))
        .orderBy(col("doc_id"))
    }),

    "dedup_spans" -> ((s, dir) => {
      // cross-doc repeated 16-token spans: chunk-hash approximation of
      // exact-substring dedup
      Curation.repeatedSpans(Tables.documents(s, dir), w = 16)
        .orderBy(col("span_hash"))
    }),

    "dedup_spans_overlap" -> ((s, dir) => {
      // half-stride span pass: catches repeated spans straddling the
      // aligned-chunk boundaries the non-overlapping pass misses
      Curation.repeatedSpansOverlap(Tables.documents(s, dir), w = 16)
        .orderBy(col("span_hash"))
    }),

    "dedup_spans_cascade" -> ((s, dir) => {
      // the composed 100 TB shape (closes the §12 "screen then exact"
      // residual): the half-stride chunk screen
      // nominates candidate docs over the PLAIN corpus, the exact
      // stride-1 pass reports true boundaries only inside that slice.
      // Recall is the screen's by construction (the planted sub-1.5w
      // copies of dedup_spans_exact would be invisible here — that row
      // is the full-recall face); what the screen does nominate comes
      // back with exact [start, end] bounds.
      Curation.repeatedSpansCascade(Tables.documents(s, dir), w = 16)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "dedup_spans_exact" -> ((s, dir) => {
      // the verify-extend stage over the chunk screens (the Lee et al.
      // '22 gap): a 20-token verbatim plant lands
      // in every 13th doc at token offset doc_id % 7 + 3 — lengths
      // BELOW the half-stride guarantee (1.5w−1 = 23) at offsets NOT
      // congruent mod the stride, so both chunk passes provably miss
      // it (spec-planted twin) — and repeatedSpansExact reports every
      // planted copy with TRUE token boundaries [k, k+19] via the
      // stride-1 mark → exact-text verify → island-merge pass.
      val planted = spanPlantedDocs(Tables.documents(s, dir))
      Curation.repeatedSpansExact(planted, w = 16)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "dedup_spans_recall" -> ((s, dir) => {
      // QUANTIFY the cascade's recall trade: both
      // faces run over the SAME planted corpus, an exact span counts
      // as caught when the cascade reports ANY overlapping span in the
      // same doc, and the row is the per-length histogram of exact
      // spans with the miss count and recall share — the number a
      // 100 TB deployment trades on when it picks the screen-bounded
      // cascade over the full stride-1 pass. The planted 20-token
      // copies land at offsets k = doc_id % 7 + 3: the stride-8 grid
      // window [8, 23] sits inside the plant only for k ∈ [4, 8], so
      // docs with doc_id % 7 ∈ {0, 6} are provably invisible to the
      // screen and must appear in the missed mass (spec-pinned).
      // NOTE: materializing `planted` for the two faces was
      // measured SLOWER (2.4-3.2 s -> 3.1-3.8 s at sf0.1): the plant is
      // one narrow projection over a pruned parquet scan, cheaper to
      // recompute than to round-trip full text blobs through the block
      // store — each face's own heavy explode is already materialized
      // inside the operator.
      val planted = spanPlantedDocs(Tables.documents(s, dir))
      val exact = Curation.repeatedSpansExact(planted, w = 16)
        .select(col("doc_id"), col("span_start"), col("span_end"))
      val casc = Curation.repeatedSpansCascade(planted, w = 16)
        .select(col("doc_id").as("c_doc"), col("span_start").as("c_start"),
          col("span_end").as("c_end"))
      exact.join(casc,
          col("doc_id") === col("c_doc") &&
            col("c_start") <= col("span_end") &&
            col("c_end") >= col("span_start"), "left_outer")
        .groupBy(col("doc_id"), col("span_start"), col("span_end"))
        .agg(max(when(col("c_doc").isNotNull, 1).otherwise(0)).as("hit"))
        .withColumn("span_len", col("span_end") - col("span_start") + 1)
        .groupBy(col("span_len"))
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("hit") === 0, 1L).otherwise(0L)).as("n_missed"),
          round(avg(col("hit").cast("double")), 6).as("recall"))
        .orderBy(col("span_len"))
    }),

    "lm_unigram_vocab" -> ((s, dir) => {
      // the web-scale LM-score shape: score against the STORED vocab
      // artifact (written + read back as parquet), not an inline agg —
      // the layout that lets AQE split the Zipf-head skew join
      val docs = Tables.documents(s, dir)
      val out = graft.operators.Scratch.fixedPath(
        s"graft_vocab_${Integer.toHexString(dir.hashCode)}")
      Curation.vocabBuild(docs, minCount = 1)
        .write.mode("overwrite").parquet(out)
      Curation.lmUnigramScoreVocab(docs, s.read.parquet(out))
        .orderBy(col("doc_id"))
    }),

    "train_export_sink" -> ((s, dir) => {
      // the WRITER end driver-gated: export through TrainExportSink
      // (shard-partitioned parquet + manifest commit marker), read back
      // through the manifest-VALIDATING reader, recompute the audit —
      // parity with the oracle proves the write→commit→read round-trip
      val out = graft.operators.Scratch.fixedPath(
        s"graft_export_${Integer.toHexString(dir.hashCode)}")
      graft.sinks.TrainExportSink.write(Tables.documents(s, dir), out,
        nShards = 16)
      graft.sinks.TrainExportSink.read(s, out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.plans.native.token_count(col("text"))).as("tok_sum"))
        .orderBy(col("shard"))
    }),

    "sim_pq" -> ((s, dir) => {
      // product quantization: 8 subspaces × 8 codes over the IVF sample
      // codebook — one narrow pass, constant inlined codebook
      Similarity.pqAssign(Tables.embeddings(s, dir))
        .orderBy(col("vec_id"), col("subspace"))
    }),

    "sim_pq_topk" -> ((s, dir) => {
      // ADC search over the compressed codes table: per-probe distance
      // table + m lookups per candidate, bounded-heap top-k
      Similarity.pqTopK(Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .orderBy(col("probe_id"), col("adc_dist"), col("cand_id"))
    }),

    "sim_pq_stream" -> ((s, dir) => {
      // C61's streaming PQ code assignment promoted to an oracle row:
      // the codebook is collected OFFLINE, the codes are
      // assigned inside a REAL streaming projection (file source →
      // narrow argmin → memory sink) — index-at-ingest, no state, no
      // shuffle — and the emitted relation must land on the batch
      // assignment's SQL (sim_pq's argmin, ordinal mapped to cent_id)
      val emb = Tables.embeddings(s, dir)
      graft.streaming.StreamedBatch
        .pqCodesStream(s, emb, Similarity.ivfCentroids(emb))
        .orderBy(col("vec_id"), col("subspace"))
    }),

    "sim_pq_books" -> ((s, dir) => {
      // C64's per-subspace PQ TRAINING promoted to an oracle row:
      // one Lloyd round of independent per-subspace k-means over the
      // SUBVECTORS (decimal-exact means, ties to the smaller ordinal,
      // empty codewords keep their init coordinates) — the trained
      // codebook model itself, flattened to (subspace, code, pos,
      // coord) rows and recomputed exactly by the DuckDB twin
      val s2 = s
      import s2.implicits._
      val books = Similarity.trainedSubCodebooks(
        Tables.embeddings(s, dir), iters = 1)
      books.zipWithIndex.flatMap { case (cws, sub) =>
        cws.zipWithIndex.flatMap { case (cw, ord) =>
          cw.zipWithIndex.map { case (x, pos) =>
            (sub.toLong, ord.toLong, pos.toLong, x) } }
      }.toSeq.toDF("subspace", "code", "pos", "coord")
        .orderBy(col("subspace"), col("code"), col("pos"))
    }),

    "sim_pq_ivf" -> ((s, dir) => {
      // IVFADC: coarse quantizer prunes to nprobe inverted lists, ADC
      // scores only those lists' PQ codes — the production ANN shape
      Similarity.ivfadcTopK(Tables.embeddings(s, dir), col("vec_id") < 10,
          k = 5, nprobe = 2)
        .orderBy(col("probe_id"), col("adc_dist"), col("cand_id"))
    }),

    "sim_pq_stored" -> ((s, dir) => {
      // the ANN index LIFECYCLE: build the IVFADC index rows, write them
      // as parquet partitioned by cent_id (the production layout — a
      // probe's nprobe lists prune to their partitions), read back, and
      // search the read-back artifact. Values are ints/longs, so the
      // round-trip is exact and the oracle is the same as sim_pq_ivf.
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.ivfCentroids(emb, 8, 32)
      // path scoped by the sf dir: concurrent runs at different scale
      // factors must not clobber each other's artifact
      val path = graft.operators.Scratch.fixedPath(
        "graft_pq_index_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      Similarity.ivfadcIndex(emb, cents, m = 8, sub = 8)
        .write.mode("overwrite").partitionBy("cent_id").parquet(path)
      Similarity.ivfadcSearch(s.read.parquet(path), emb,
          col("vec_id") < 10, cents, k = 5, nprobe = 2, m = 8, sub = 8)
        .orderBy(col("probe_id"), col("adc_dist"), col("cand_id"))
    }),

    "sim_pq_residual" -> ((s, dir) => {
      // TRUE IVFADC: PQ over residuals x − c_list, per-(probe, list)
      // distance tables — the FAISS-style production index
      Similarity.ivfadcResidualTopK(Tables.embeddings(s, dir),
          col("vec_id") < 10, k = 5, nprobe = 2)
        .orderBy(col("probe_id"), col("adc_dist"), col("cand_id"))
    }),

    "sim_ivf_trained" -> ((s, dir) => {
      // the k-means TRAINING loop, oracle-exact: the second Lloyd step —
      // refine against centroids already refined once (decimal-exact
      // means rounded to 6 decimals make the iterated model
      // engine-reproducible). This is an sf-bounded AUDIT of
      // the trainer math (kmeansRefine caps its slice at 4096 ids —
      // inert at every test SF, constant-cost at any corpus size); the
      // production trainer is the sampled row below
      Similarity.kmeansRefine(Tables.embeddings(s, dir), iters = 2)
        .orderBy(col("cent_id"), col("pos"))
    }),

    "sim_ivf_sampled" -> ((s, dir) => {
      // the PRODUCTION IVF trainer: Lloyd sees ONLY the deterministic
      // exact-k per-stratum sample (per-round cost O(sample),
      // corpus-size-independent — the sampled answer to the full-corpus
      // trainer's ×8-data slope), then the whole corpus assigns against
      // the frozen sample-trained model in one narrow argmin pass
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.sampledCentroids(emb, iters = 1)
      Similarity.ivfAssignWith(emb, cents).orderBy(col("vec_id"))
    }),

    "quality_classifier" -> ((s, dir) => {
      // feature-hashed linear classifier (native codegen'd score kernel)
      Curation.hashedLinearScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("score"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    "quality_calibrate" -> ((s, dir) => {
      // per-source robust calibration: median/MAD z-scores make
      // classifier scores comparable ACROSS sources before one global
      // threshold — the cross-source normalization step a mixed-corpus
      // quality gate needs (raw thresholds over-cut terse sources)
      Curation.qualityCalibrate(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "quality_classifier_stream" -> ((s, dir) => {
      // C32's score-as-you-ingest promoted to an oracle row: the
      // classifier + shard assignment run as STREAMING projections
      // (file source → narrow exprs → memory sink) and the emitted
      // relation must land on the batch classifier's SQL extended with
      // the shard key — scoring and routing at consume time, exact
      graft.streaming.StreamedBatch
        .classifiedStream(s, Tables.documents(s, dir), nShards = 16)
        .orderBy(col("doc_id"))
    }),

    "train_export" -> ((s, dir) => {
      // the end-to-end export capstone, composed from the operator
      // library as ONE declarative plan: quality gate → near-dup removal
      // (minhash→CC→keepers) → benchmark holdout + decontamination →
      // deterministic 16-shard manifest with token accounting
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.quality(docs, stopwords)
        .filter(col("quality") >= 0.62)
      val kept = Dedup.applyDedup(scored,
        Dedup.connectedComponents(Dedup.minhashCandidates(docs, 16, 4)))
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      // rare-gram decontamination: only low-df grams carry memorization
      // signal (any-overlap flags 100% of this tiny-vocab corpus)
      val contaminated = Dedup.rareGramContaminated(docs, isBench, n = 8)
        .select(col("doc_id").as("__cont"))
      val clean = kept.filter(!isBench)
        .join(contaminated, col("doc_id") === col("__cont"), "left_anti")
      Curation.shardAssign(clean, 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.plans.native.token_count(col("text"))).as("tok_sum"))
        .orderBy(col("shard"))
    }),

    "shard_export" -> ((s, dir) => {
      // deterministic 64-shard export manifest (balance + id-range audit)
      Curation.shardStats(Curation.shardAssign(Tables.documents(s, dir), 64))
        .orderBy(col("shard"))
    }),

    "shard_checksums" -> ((s, dir) => {
      // per-shard export INTEGRITY audit: doc count + token total
      // + an order-insensitive XOR content hash — the three numbers a
      // consumer recomputes on a copied shard to verify the transfer
      // (any dropped/duplicated/altered row flips the XOR; partial
      // manifests merge by XOR with no re-read)
      Curation.shardChecksums(
          Curation.shardAssign(Tables.documents(s, dir), 16))
        .orderBy(col("shard"))
    }),

    "shard_zorder" -> ((s, dir) => {
      // Z-ORDER clustered layout audit: rows range-partitioned into 32
      // "files" by the Morton key of (l_partkey, l_suppkey) — the
      // multi-dim sort whose z-ranges bound BOTH dimensions as the file
      // count grows (min/max readout below = the parquet footer stats a
      // part- or supplier-filtered scan prunes on; a single-dim sort
      // bounds only its own column). At this table's 20:1 key-
      // cardinality ratio 32 files buy a 32× partkey bound while
      // suppkey still spans — the honest z-order trade-off; the square-
      // grid case where both dims bound is CurationSpec's. File
      // assignment is the two-phase global rank (no single-partition
      // sort), file = (rank·32) div n exact.
      val z = graft.functions.Portable
        .zValue(col("l_partkey"), col("l_suppkey"), 16)
      val ranked = Curation.globalRank(
        Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber"), z.as("z")),
        Seq(col("z"), col("l_orderkey"), col("l_linenumber")), "rk")
      fileRangeStats(rankedFiles(ranked))
    }),

    "shard_hilbert" -> ((s, dir) => {
      // HILBERT-clustered layout audit — shard_zorder's sibling under
      // the curve whose consecutive keys are always grid-adjacent
      // (Morton jumps quadrants): same rank-into-32-files readout, so
      // the per-file [min,max] footer bounds are directly comparable
      // row-for-row with shard_zorder's. The xy2d bit descent runs as
      // 16 narrow integer column steps (Portable.withHilbert — one
      // codegen stage, no UDF); file assignment is the same two-phase
      // global rank, (rank·32) div n exact
      val withH = graft.functions.Portable.withHilbert(
        Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"),
          col("l_orderkey"), col("l_linenumber")),
        col("l_partkey"), col("l_suppkey"), 16, "h")
      val ranked = Curation.globalRank(withH,
        Seq(col("h"), col("l_orderkey"), col("l_linenumber")), "rk")
      fileRangeStats(rankedFiles(ranked))
    }),

    "shard_zorder_sampled" -> ((s, dir) => {
      // the PRODUCTION write path for the z-ordered layout: file cut
      // points come from a deterministic 1024-row
      // sample's within-sample quantiles (Curation.sampledRangeBounds —
      // a distributed top-k action, model-state to the driver) and every
      // row assigns to its file by a narrow 31-comparison expression —
      // the exact global rank the shard_zorder AUDIT row pays (range
      // shuffle + window + offset join, the slope-4.8 cost) never runs.
      // Same per-file [min,max] stats readout, so the sampled layout's
      // pruning power is directly comparable to the exact one's; the
      // spec bounds the balance loss (max file ≤ 2× ideal at both SFs).
      // two streamed scans, no materialization: the bounds action is a
      // distributed top-k, and the assignment is one codegen'd binary
      // search per row (the key evaluates once — see fileIdFor)
      val base = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
          col("l_linenumber"))
        .withColumn("z", graft.functions.Portable
          .zValue(col("l_partkey"), col("l_suppkey"), 16))
      fileRangeStats(sampledFiles(base, col("z")))
    }),

    "shard_hilbert_sampled" -> ((s, dir) => {
      // the sampled write path under the HILBERT key — shard_zorder_
      // sampled's sibling: cut points from the same
      // deterministic 1024-row sample's quantiles, assignment by the
      // same native binary search, the exact-rank shard_hilbert row
      // kept as the audit. The two sampled writers share every seam,
      // so the curve choice stays a one-column swap in production.
      val base = graft.functions.Portable.withHilbert(
        Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber")),
        col("l_partkey"), col("l_suppkey"), 16, "h")
      fileRangeStats(sampledFiles(base, col("h")))
    }),

    "shard_hilbert_prune" -> ((s, dir) => {
      // Hilbert vs Morton PRUNING head-to-head on COMPARABLE-cardinality
      // dims (pk_bucket = l_partkey % 100 vs l_suppkey — the square grid
      // where curve locality, not bit-width imbalance, decides): for
      // point probes on either dimension, how many of the 32 files'
      // [min,max] footer ranges a scan must touch under each curve's
      // layout. Two two-phase ranks over ONE materialized base (the
      // 16-step interleave fold and the 16-step xy2d descent each
      // evaluated once); 64-row stats ⋈ 6-row broadcast probes
      val base = graft.operators.Materialize(
        graft.functions.Portable.withHilbert(bucketedLines(s, dir),
          col("pk_bucket"), col("l_suppkey"), 16, "h"))
      probeFilesHit(base, Seq("hilbert" -> Seq(col("h")), "zorder" -> Seq(col("z"))))
    }),

    "shard_zorder_prune" -> ((s, dir) => {
      // the pruning BENEFIT of a z-ordered layout as data: for point
      // probes on either dimension, how many of the 32 files' [min,max]
      // footer ranges a scan must touch — z-order vs single-dim-sorted
      // vs natural arrival layout. Dims are COMPARABLE-cardinality
      // (pk_bucket = l_partkey % 100 vs l_suppkey — interleaving only
      // balances when bit widths match; shard_zorder documents the
      // asymmetric 20:1 case where the wide key's high bits dominate).
      // Three two-phase ranks (no single-partition sort); the 96-row
      // stats relation joins a 6-row broadcast probe table
      // materialized ONCE: the three layout ranks otherwise re-scan
      // lineitem and re-evaluate the 16-step interleave fold each
      val base = graft.operators.Materialize(bucketedLines(s, dir))
      probeFilesHit(base, Seq("zorder" -> Seq(col("z")),
        "pk_sorted" -> Seq(col("pk_bucket")), "natural" -> Nil))
    }),

    "dedup_contained" -> ((s, dir) => {
      // prefix-containment dups (truncation/re-crawl pairs), blocked join
      Curation.containedPairs(Tables.documents(s, dir), prefixLen = 16)
        .orderBy(col("doc_in"), col("doc_out"))
    }),

    "curate_pareto" -> ((s, dir) => {
      // the quality–length FRONTIER: docs where no other doc is both
      // higher-quality and longer (the multi-objective shortlist a
      // token-budgeted curator actually wants — any off-front doc has a
      // strictly better substitute at no token cost). Same staircase
      // decomposition as q_skyline on (q_micro, n_tokens); quality
      // lifted to the integer lattice (round·10⁶, engine-exact) so the
      // dominance compare is
      val q = TextAnalysis.quality(Tables.documents(s, dir), stopwords)
        .select(col("doc_id"),
          round(col("quality") * 1000000).cast("long").as("q_micro"),
          col("n_tokens"))
        .filter(col("q_micro").isNotNull)
      graft.operators.Pareto.skyline2d(q, "q_micro", "n_tokens",
          bucketWidth = 100000L)
        .select(col("doc_id"), col("q_micro"), col("n_tokens"))
        .orderBy(col("q_micro").desc, col("n_tokens"), col("doc_id"))
    }),

    "split_temporal" -> ((s, dir) => {
      // TEMPORAL train/valid split with the leakage audit built in:
      // cutoff at 80% of the global day span (integer day arithmetic,
      // broadcast 1-row scalar), each user bucketed by which side their
      // events fall — 'straddle' marks users whose history crosses the
      // cutoff (user-level features trained on them leak future data;
      // the hash split C58 can't see this). Rides the pushdown-friendly
      // time shape; one groupBy(user) pass
      val ev = Tables.eventsTime(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cut = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(expr(
          "date_add(d0, CAST((datediff(d1, d0) * 4) div 5 AS INT))")
          .as("cut"))
      ev.crossJoin(broadcast(cut))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("cut"), 1L).otherwise(0L))
            .as("n_before"),
          sum(when(col("day") >= col("cut"), 1L).otherwise(0L))
            .as("n_after"))
        .withColumn("bucket", when(col("n_after") === 0, "train")
          .when(col("n_before") === 0, "valid").otherwise("straddle"))
        .orderBy(col("user_id"))
    }),

    "split_assign" -> ((s, dir) => {
      // deterministic hash-based train/valid/test split with audit counts
      Curation.splitAssign(Tables.documents(s, dir),
          Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.plans.native.token_count(col("text"))).as("tok_sum"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("split"))
    }),

    "source_overlap" -> ((s, dir) => {
      // cross-source contamination matrix: shared 8-gram counts + jaccard
      Curation.sourceOverlap(Tables.documents(s, dir), n = 8)
        .orderBy(col("source_a"), col("source_b"))
    }),

    "source_overlap_bounded" -> ((s, dir) => {
      // the 100 TB path of the exact matrix: mod-16 coordinated domain
      // sample of the gram space — shuffle shrinks 16×, n_shared is
      // rescaled, jaccard is the sampled-ratio estimator
      Curation.sourceOverlap(Tables.documents(s, dir), n = 8, domainMod = 16L)
        .orderBy(col("source_a"), col("source_b"))
    }),

    "source_overlap_flagged" -> ((s, dir) => {
      // screen → exact composition (the production sequence run as ONE
      // operator): the O(sources·k) minhash sketch flags pairs with ≥2
      // matching slots, then the exact 8-gram recount runs ONLY for
      // those — gram-join sides pre-filtered by the broadcast
      // flagged-source set, zero-gram flagged pairs kept as audit rows
      Curation.sourceOverlapFlagged(Tables.documents(s, dir), n = 8,
          k = 16, minMatch = 2)
        .orderBy(col("source_a"), col("source_b"))
    }),

    "text_redact" -> ((s, dir) => {
      // same deterministic PII planting as text_pii, then the redaction
      // TRANSFORM; byte-exact redacted text proven via portable hash
      TextAnalysis.redactPii(piiPlanted(Tables.documents(s, dir)))
        .select(col("doc_id"), col("n_redactions"),
          graft.plans.native.poly_hash(col("redacted")).as("redacted_hash"))
        .orderBy(col("doc_id"))
    }),

    "dsir_select" -> ((s, dir) => {
      // DSIR importance resampling (Xie et al. '23): hashed-unigram
      // log-likelihood ratio vs a curated-source target distribution
      Curation.dsirWeights(Tables.documents(s, dir),
          col("source").isin("src0", "src1", "src2", "src3"))
        .orderBy(col("doc_id"))
    }),

    "curate_curriculum" -> ((s, dir) => {
      // curriculum ordering: global rank by (quality desc, doc_id) via
      // the two-phase range-partitioned rank — corpus-sized input, no
      // single-partition window (the vocabBuild fix, reused)
      val scored = TextAnalysis.quality(Tables.documents(s, dir), stopwords)
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("quality"))
      Curation.globalRank(scored,
          Seq(col("quality").desc, col("doc_id")), "curriculum_rank")
        .orderBy(col("curriculum_rank"))
    }),

    "sketch_heavy_hitters_stream" -> ((s, dir) => {
      // C68's sketch gate fed by the STREAMING-maintained grid (the
      // production sequence: the CMS accumulates at consume time, the
      // exact recount runs at curation time against the drained grid):
      // same literal-array probe, same no-false-negative guarantee, so
      // it lands on sketch_heavy_hitters' own oracle
      val docs = Tables.documents(s, dir)
      val cells = graft.streaming.StreamedBatch.cmsCellsStreamed(s, docs)
      val words = docs
        .select(explode(graft.functions.Portable.tokens(col("text")))
          .as("word"))
      graft.operators.Sketches
        .heavyHittersFromGrid(words, col("word"), cells, fracDenom = 40)
        .orderBy(col("item"))
    }),

    "sketch_heavy_hitters" -> ((s, dir) => {
      // CMS-gated exact heavy hitters: words with freq >= total/40; the
      // sketch gate is a narrow literal-array probe (no false negatives),
      // the exact recount drops its false positives
      val words = Tables.documents(s, dir)
        .select(explode(graft.functions.Portable.tokens(col("text")))
          .as("word"))
      graft.operators.Sketches.heavyHitters(words, col("word"), fracDenom = 40)
        .orderBy(col("item"))
    }),

    "emb_centroid" -> ((s, dir) => {
      // embedding-space outlier signal: L2 distance to own label centroid
      Similarity.labelCentroidDistance(Tables.embeddings(s, dir))
        .orderBy(col("vec_id"))
    }),

    "mix_schedule" -> ((s, dir) => {
      // α=0.5 temperature mixture over sources, capped at 6% with one
      // redistribution round; alloc against a 1M-token budget
      Curation.mixSchedule(Tables.documents(s, dir), alpha = 0.5,
          cap = 0.06, budget = 1000000L)
        .orderBy(col("source"))
    }),

    "tokenizer_bpe" -> ((s, dir) => {
      // BPE training: 5 greedy most-frequent-pair merge rounds → the
      // merge table (engine-exact pair counts, argmax, rewrites)
      graft.operators.Tokenizer.bpeMerges(Tables.documents(s, dir), rounds = 5)
        .orderBy(col("round"))
    }),

    "tokenizer_apply" -> ((s, dir) => {
      // the trained tokenizer's per-doc compression audit: symbols
      // before (chars) and after the 5 merges
      graft.operators.Tokenizer.bpeCompressionAudit(
          Tables.documents(s, dir), rounds = 5)
        .orderBy(col("doc_id"))
    }),

    "tokenizer_bpe_sampled" -> ((s, dir) => {
      // the PRODUCTION trainer for large merge counts: each merge round
      // scans only a deterministic exact-k per-source sample (the C99
      // draw) — O(sample distinct words) per round instead of a full
      // corpus pass — then the frozen sample-trained artifacts apply
      // corpus-wide through the narrow encodeWith seam (C137).
      // Sample-unseen symbols surface as NULL ids (the OOV story a
      // real deployment has anyway).
      val docs = Tables.documents(s, dir)
      val sampled = docs.join(
        Curation.sampleExactK(docs, k = 50).select(col("doc_id")), "doc_id")
      // ONE training run yields both artifacts (bpeArtifacts seam)
      val (mergeRows, vocabDf) =
        graft.operators.Tokenizer.bpeArtifacts(sampled, rounds = 5)
      val merges = mergeRows.sortBy(_._1).map(m => (m._2, m._3))
      val ids = vocabDf
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), posexplode(
          graft.operators.Tokenizer.encodeWith(col("text"), merges, ids))
          .as(Seq("pos", "tok_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tok_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "tokenizer_encode" -> ((s, dir) => {
      // the id-level export: trained merges + dense vocab ids applied to
      // every doc → per-(doc, position) token id (trimmed to a
      // deterministic doc subset to keep the oracle row count sane)
      graft.operators.Tokenizer.bpeEncode(Tables.documents(s, dir), rounds = 5)
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .orderBy(col("doc_id"), col("pos"))
    }),

    "tokenizer_encode_stream" -> ((s, dir) => {
      // C137's frozen-artifact narrow encoder run through a REAL stream
      // and promoted to an oracle row: merges + vocab ids train offline
      // on the full corpus (driver-collected model state, the IVF-
      // centroid pattern), the doc subset streams through the narrow
      // projection, and the exploded (doc, pos, tok_id) relation must
      // land on tokenizer_encode's own CTE chain — offline-trained /
      // online-applied tokenization under the oracle; sym joins back
      // from the vocab artifact so the relation matches C126 exactly
      val docs = Tables.documents(s, dir)
      // ONE training run yields both artifacts (bpeArtifacts seam)
      val (mergeRows, vocab) =
        graft.operators.Tokenizer.bpeArtifacts(docs, rounds = 5)
      val merges = mergeRows.sortBy(_._1).map(m => (m._2, m._3))
      val ids = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.streaming.StreamedBatch.encodedStream(s,
          docs.filter(pmod(col("doc_id"), lit(7)) === 0)
            .select(col("doc_id"), col("text")), merges, ids)
        .join(broadcast(vocab.select(col("tok_id"), col("sym"))), "tok_id")
        .select(col("doc_id"), col("pos"), col("tok_id"), col("sym"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "train_corpus_ids" -> ((s, dir) => {
      // THE id-level capstone: quality-gate the corpus (curate_corpus's
      // 0.62 bar), train the tokenizer ON THE SURVIVORS, encode them,
      // pack into 64-id training rows — corpus → tensors in one
      // declarative chain, every stage individually audited upstream
      val curated = TextAnalysis.quality(Tables.documents(s, dir), stopwords)
        .filter(col("quality") >= 0.62)
        .select(col("doc_id"), col("source"), col("text"))
      graft.operators.Tokenizer.packIds(curated, rounds = 5, seqLen = 64)
        .orderBy(col("source"), col("seq_id"), col("off_start"))
    }),

    "tokenizer_vocab" -> ((s, dir) => {
      // the shipped vocab artifact: (sym, tok_id) of the trained
      // tokenizer — completes the artifact set (merges C71, ids C126,
      // packs C127, round-trip C130)
      graft.operators.Tokenizer.bpeVocab(Tables.documents(s, dir), rounds = 5)
        .orderBy(col("tok_id"))
    }),

    "tokenizer_roundtrip" -> ((s, dir) => {
      // the losslessness contract as an ORACLE row: the full train →
      // encode → decode chain must reproduce each doc's
      // whitespace-stripped text, which the oracle computes trivially —
      // any drift anywhere in the BPE machinery breaks the hash
      graft.operators.Tokenizer.bpeRoundTrip(Tables.documents(s, dir),
          rounds = 5)
        .orderBy(col("doc_id"))
    }),

    "pack_ids" -> ((s, dir) => {
      // id-granular sequence packing: 64-id training rows with
      // document-boundary offsets + the comma-joined ids per doc slice
      graft.operators.Tokenizer.packIds(Tables.documents(s, dir),
          rounds = 5, seqLen = 64)
        .orderBy(col("source"), col("seq_id"), col("off_start"))
    }),

    "emb_quantize_sq" -> ((s, dir) => {
      // int8 scalar-quantization distortion audit: per-dim [min,max]
      // ranges inlined as literals → pure narrow quantize/reconstruct
      Similarity.sqDistortion(Tables.embeddings(s, dir))
        .orderBy(col("vec_id"))
    }),

    "emb_project" -> ((s, dir) => {
      // signed-random-projection dim reduction (64 → 16), flattened to
      // (vec_id, dim, val) rows — scalar output for the driver compare
      // posexplode_outer: proj always has outDims elements, and the
      // non-outer Generate would add a `size(proj) > 0` guard that
      // re-evaluates the whole projection fold a second time
      Similarity.randomProject(Tables.embeddings(s, dir), outDims = 16)
        .select(col("vec_id"), col("label"),
          posexplode_outer(col("proj")).as(Seq("dim", "val")))
        .select(col("vec_id"), col("label"),
          col("dim").cast("long").as("dim"), col("val"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    "emb_pca" -> ((s, dir) => {
      // top principal direction (uncentered PCA) by 3-step INTEGER
      // power iteration on the medoid lattice (q = floor(x·10⁶)): the
      // Gram matrix is ONE (i,j)-aggregated wide edge, model-state
      // sized (64×64), and the iteration runs on the collected matrix —
      // every step order-free integer arithmetic, so the components are
      // bit-identical in any engine; the oracle unrolls the same three
      // iterations as CTEs
      Similarity.pcaPower(Tables.embeddings(s, dir), iters = 3)
        .orderBy(col("dim"))
    }),

    "emb_pca_planted" -> ((s, dir) => {
      // the planted-cluster twin: on clustered data the top direction
      // is dominated by the spread of the 7 hash-seeded centers, so the
      // operator must recover planted structure — where the near-
      // uniform corpus's direction is noise-flat, this one concentrates
      // loading mass (the honest-signal pattern)
      Similarity.pcaPower(
          Similarity.plantedEmbeddings(Tables.embeddings(s, dir)), iters = 3)
        .orderBy(col("dim"))
    }),

    "emb_whiten" -> ((s, dir) => {
      // whitened top-2 projections: each axis divided by its own
      // standard deviation — sd = isqrt(var) by a 24-step unrolled
      // integer bit descent (no sqrt() anywhere), so the decorrelate-
      // and-equalize step stays bit-exact cross-engine; the corpus
      // passes are the projection agg and the whiten projection, the
      // stat/isqrt relation is 2-row broadcast model state
      Similarity.pcaWhiten(Tables.embeddings(s, dir), iters = 3)
        .orderBy(col("vec_id"), col("comp_id"))
    }),

    "emb_pca2" -> ((s, dir) => {
      // top-2 principal directions by integer-lattice DEFLATION: the
      // rank-1 projector subtracts from the collected Gram and the
      // same power loop runs again — all driver-side model-state work,
      // no second corpus pass beyond the one Gram aggregation
      Similarity.pcaTop2(Tables.embeddings(s, dir), iters = 3)
        .orderBy(col("comp_id"), col("dim"))
    }),

    "emb_pca_project" -> ((s, dir) => {
      // every vector projected onto the top principal direction: the
      // integer dot product of the lattice quantization against the
      // lattice eigenvector — exact, one scan, 64-row broadcast
      Similarity.pcaProject(Tables.embeddings(s, dir), iters = 3)
        .orderBy(col("vec_id"))
    }),

    "sim_mips" -> ((s, dir) => {
      // maximum-inner-product top-k (the dual-encoder retrieval mode):
      // cosine's broadcast-scan-heap shape, unnormalized score
      Similarity.mipsTopKAgg(Tables.embeddings(s, dir),
          col("vec_id") < 20, k = 5)
        .orderBy(col("probe_id"), col("dot").desc, col("cand_id"))
    }),

    "sketch_bloom_fpr" -> ((s, dir) => {
      // the Bloom gate's measured false-positive rate — the audit that
      // validates decontaminate_bloom's (m, k) sizing, FP set exact
      val docs = Tables.documents(s, dir)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      Dedup.bloomFpr(docs.filter(!isBench), docs.filter(isBench), n = 8)
    }),

    "text_rake" -> ((s, dir) => {
      // RAKE keyword extraction: degree/frequency over stopword-split
      // phrase runs, top-200 content words
      TextAnalysis.rakeScores(Tables.documents(s, dir), stopwords, k = 200)
    }),

    "curate_domain_cap" -> ((s, dir) => {
      // per-domain quota: keep each source's top-5 docs by chars
      Curation.domainCap(Tables.documents(s, dir), cap = 5)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy(col("source"), col("rk"))
    }),

    "curate_dq_report" -> ((s, dir) => {
      // the per-source data-quality report a mixture designer reads
      // first: doc/char volumes, mean tokens + quality over scoreable
      // docs, and the dominant language with its share. Determinism:
      // mean_quality sums the (bit-identical) per-doc quality through
      // DECIMAL(12,6) — order-free — then divides once in double;
      // top_lang breaks count ties on lang. Two aggs + one tiny
      // window, all source-keyed.
      val docs = Tables.documents(s, dir)
      val alld = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      val scored = TextAnalysis.quality(docs, stopwords)
        .filter(col("n_tokens") > 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_scored"),
          round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
            .as("mean_tokens"),
          round(sum(col("quality").cast("decimal(12,6)")).cast("double")
            / count(lit(1)), 6).as("mean_quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("ln").desc, col("lang"))
      val top = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("ln"))
        .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("ln"))
      alld.join(scored, "source").join(top, "source")
        .withColumn("top_lang_share",
          round(col("ln").cast("double") / col("n_docs"), 6))
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("n_scored"), col("mean_tokens"), col("mean_quality"),
          col("top_lang"), col("top_lang_share"))
        .orderBy(col("source"))
    }),

    "quota_gate" -> ((s, dir) => {
      // the BATCH reference relation of StreamingQuota: first-20 docs per
      // source in doc_id arrival order, with 1-based admission slots —
      // oracle-checked here; StreamingQuotaSpec proves the stateful
      // streaming gate emits exactly this relation
      graft.streaming.StreamingQuota.batchQuota(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("source").as("domain")), cap = 20)
        .orderBy(col("domain"), col("slot"))
    }),

    "quota_gate_stream" -> ((s, dir) => {
      // C96's stateful streaming gate promoted to an oracle row: the REAL FlatMapGroupsWithState quota
      // (file source → per-domain admission state → memory sink, one
      // micro-batch) must admit exactly the batch window relation —
      // the IDENTICAL DuckDB SQL as quota_gate anchors both
      graft.streaming.StreamedBatch.quotaAdmitted(s,
          Tables.documents(s, dir)
            .select(col("doc_id"), col("source").as("domain")), cap = 20)
        .select(col("doc_id"), col("domain"), col("slot"))
        .orderBy(col("domain"), col("slot"))
    }),

    "quota_gate_multibatch" -> ((s, dir) => {
      // C96's budget proven GLOBAL across micro-batches under the
      // oracle: every 7th doc is redelivered after the rest of the
      // corpus (5 one-file micro-batches in arrival order), so a
      // redelivered doc burns a LATER admission slot — or none, when
      // its domain's budget filled in an earlier batch; the oracle
      // recomputes first-cap per domain in (batch, doc id) order
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source").as("domain"))
      val n = docs.count() // bounded plan-time action (chunk sizing)
      val batched = graft.streaming.StreamedBatch.chunked(docs
        .withColumn("arrival", col("doc_id") +
          when(pmod(col("doc_id"), lit(7)) === 0, lit(n)).otherwise(0L)),
        n, 5, col("arrival"), col("doc_id"))
      graft.streaming.StreamedBatch
        .quotaAdmittedMulti(s, batched, nBatches = 5, cap = 20)
        .select(col("doc_id"), col("domain"), col("slot"))
        .orderBy(col("domain"), col("slot"))
    }),

    "dedup_gate_stream" -> ((s, dir) => {
      // C45's streaming near-dup gate promoted to an oracle row: the
      // REAL first-seen bucket registry (FlatMapGroupsWithState on the
      // band-bucket key) flags, in one micro-batch, exactly the batch
      // banding relation — one (doc_id, bucket, first_doc) row per
      // shared bucket; the oracle recomputes the portable minhash
      // banding and the per-bucket first in SQL
      graft.streaming.StreamedBatch.nearDupCollisions(s,
          Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    "sample_exact_k" -> ((s, dir) => {
      // deterministic exact-k per-source subsample (fixed-size holdout)
      Curation.sampleExactK(Tables.documents(s, dir), k = 7)
        .orderBy(col("source"), col("sample_rank"))
    }),

    "sample_exact_k_stream" -> ((s, dir) => {
      // the exact-k holdout MAINTAINED AT INGEST: the bottom-k
      // (priority, id) pairs ride complete-mode streaming aggregation
      // as the monoid they are (O(k) state per stratum; a redelivered
      // doc collapses instead of double-occupying a slot), and the
      // drained sample must land row-for-row on the batch rank-window
      // draw — the oracle is sample_exact_k's SQL VERBATIM. Rank =
      // ascending (u, id) position, the batch window's exact order.
      val rows = Tables.documents(s, dir).select(
        col("source").as("key"),
        Curation.samplePriority(col("doc_id")).as("u"),
        col("doc_id").as("id"))
      graft.streaming.StreamedBatch.sampleMinKStreamed(s, rows, k = 7)
        .select(col("key").as("source"),
          posexplode(col("ps")).as(Seq("pos", "p")))
        .select(col("p._2").as("doc_id"), col("source"),
          (col("pos") + 1).cast("long").as("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    "sample_weighted_k" -> ((s, dir) => {
      // length-weighted exact-k draw: a token-budgeted sample should
      // pick long docs proportionally more often — priority divides the
      // uniform key by the weight (the integer-lattice skeleton of
      // Efraimidis–Spirakis u^(1/w)), bottom-7 per source; same
      // WindowGroupLimit partial-top-k shape as sample_exact_k
      Curation.sampleWeightedK(Tables.documents(s, dir), k = 7,
          weight = length(col("text")))
        .orderBy(col("source"), col("sample_rank"))
    }),

    "sample_weighted_k_stream" -> ((s, dir) => {
      // the WEIGHTED holdout maintained at ingest: identical
      // monoid machinery as sample_exact_k_stream — only the priority
      // changes (the shared weightedSamplePriority seam), so the
      // drained sample lands on sample_weighted_k's SQL verbatim
      val rows = Tables.documents(s, dir).select(
        col("source").as("key"),
        Curation.weightedSamplePriority(col("doc_id"),
          length(col("text"))).as("u"),
        col("doc_id").as("id"))
      graft.streaming.StreamedBatch.sampleMinKStreamed(s, rows, k = 7)
        .select(col("key").as("source"),
          posexplode(col("ps")).as(Seq("pos", "p")))
        .select(col("p._2").as("doc_id"), col("source"),
          col("p._1").as("priority"),
          (col("pos") + 1).cast("long").as("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    "sample_weighted_k_merge" -> ((s, dir) => {
      // the WEIGHTED draw's mergeability through the shard route:
      // bottom-k under any fixed total order merges, and the weighted
      // priority is such an order — per-(shard, stratum) bottom-7,
      // re-drawn globally from the ≤ 8·7 survivors per stratum; lands
      // on sample_weighted_k's IDENTICAL oracle
      val docs = Tables.documents(s, dir)
        .withColumn("shard8",
          concat(col("source"), lit("|"), pmod(col("doc_id"), lit(8L))))
      val perShard = Curation.sampleWeightedK(docs, k = 7,
          weight = length(col("text")), strataCol = "shard8")
        .join(docs.select(col("doc_id"), col("source"), col("text")),
          "doc_id")
        .select(col("doc_id"), col("source"), col("text"))
      Curation.sampleWeightedK(perShard, k = 7,
          weight = length(col("text")))
        .orderBy(col("source"), col("sample_rank"))
    }),

    "sample_exact_k_merge" -> ((s, dir) => {
      // the sampler's MERGEABILITY through the shard route (the
      // distributed bottom-k theorem behind every reservoir rollup):
      // per-(shard, stratum) bottom-7 by the same priority, unioned,
      // then global bottom-7 — must equal the direct draw exactly, so
      // sample_exact_k's own oracle anchors it; the shard pass is what
      // a 1000-executor sampler actually ships (k rows per shard)
      val docs = Tables.documents(s, dir)
        .withColumn("shard8",
          concat(col("source"), lit("|"), pmod(col("doc_id"), lit(8L))))
      val perShard = Curation.sampleExactK(docs, k = 7,
          strataCol = "shard8")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"))
      Curation.sampleExactK(perShard, k = 7)
        .orderBy(col("source"), col("sample_rank"))
    }),

    "curate_daily" -> ((s, dir) => {
      // the session capstone — ONE declarative plan composing this
      // round's operators into the daily-curation shape: normalize →
      // normalized-form exact dedup (keep group minima) → per-domain
      // cap (top-20 by chars) → KN-gate (≤ 5% improbable transitions,
      // model trained on the CAPPED survivors; no-bigram docs pass) →
      // exact-3 per-source holdout split. Integer-exact gates
      // throughout; output is the per-(source, split) manifest.
      val docs = Tables.documents(s, dir)
      val normed = TextAnalysis.normalizeText(docs)
        .withColumn("norm_hash", graft.plans.native.poly_hash(col("norm")))
      val keepers = normed.groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("doc_id"))
      // stage boundaries MATERIALIZE (what a production run does — each
      // stage writes its survivor set): without this, the regex
      // normalization + dedup join lineage re-evaluates once per
      // downstream consumer (KN model, KN score, gate, sampler, final
      // agg — measured 4.6 s → 2.6 s at sf0.1)
      val kept = graft.operators.Materialize(
        normed.join(keepers, Seq("norm_hash", "doc_id"))
          .select(col("doc_id"), col("text"), col("source"), col("n_chars")))
      val capped = graft.operators.Materialize(
        Curation.domainCap(kept, cap = 20)
          .select(col("doc_id"), col("source"))
          .join(kept.select(col("doc_id"), col("text")), "doc_id"))
      val scores = Curation.knScore(capped, tau = 0.002)
      val gated = capped.join(scores, Seq("doc_id"), "left")
        .filter(col("n_bigrams").isNull ||
          col("n_improbable") * 20 <= col("n_bigrams"))
        .select(col("doc_id"), col("source"), col("text"))
      val sampled = Curation.sampleExactK(gated, k = 3)
        .select(col("doc_id"), col("sample_rank"))
      gated.join(sampled, Seq("doc_id"), "left")
        .withColumn("split",
          when(col("sample_rank").isNotNull, lit("valid")).otherwise(lit("train")))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.plans.native.token_count(col("text"))).as("tok_sum"))
        .orderBy(col("source"), col("split"))
    }),

    "lm_kn_model" -> ((s, dir) => {
      // interpolated Kneser–Ney bigram model artifact, top-200 bigrams
      Curation.knModel(Tables.documents(s, dir), k = 200)
    }),

    "lm_kn_score" -> ((s, dir) => {
      // per-doc gate against the KN model: improbable-transition density
      Curation.knScore(Tables.documents(s, dir), tau = 0.01)
        .orderBy(col("doc_id"))
    }),

    "lm_kn_trigram" -> ((s, dir) => {
      // the KN table one smoothing order up: trigram model artifact
      Curation.knModel3(Tables.documents(s, dir), k = 200)
    }),

    "lm_kn3_score" -> ((s, dir) => {
      // longer-context gibberish gate: per-doc improbable trigrams
      Curation.knScore3(Tables.documents(s, dir), tau = 0.02)
        .orderBy(col("doc_id"))
    }),

    "sim_l2_topk" -> ((s, dir) => {
      // Euclidean nearest-k — the metric trio's third member
      Similarity.l2TopKAgg(Tables.embeddings(s, dir),
          col("vec_id") < 20, k = 5)
        .orderBy(col("probe_id"), col("l2sq"), col("cand_id"))
    }),

    "text_normalize" -> ((s, dir) => {
      // CCNet-style normalization with deterministic case/punct noise
      // planted on doc_id % 7 ∈ {0, 1} (the text_pii planting pattern)
      TextAnalysis.normalizeText(noisyDocs(Tables.documents(s, dir)))
        .select(col("doc_id"),
          graft.plans.native.poly_hash(col("norm")).as("norm_hash"),
          length(col("norm")).cast("long").as("n_norm"),
          (col("norm") =!= col("text")).as("changed"))
        .orderBy(col("doc_id"))
    }),

    "dedup_normalized" -> ((s, dir) => {
      // exact dedup over the NORMALIZED form: collapses the case/punct
      // variants that byte-exact hashing misses (the planted upper-cased
      // docs rejoin their lowercase duplicates)
      TextAnalysis.normalizeText(noisyDocs(Tables.documents(s, dir)))
        .groupBy(graft.plans.native.poly_hash(col("norm")).as("norm_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy(col("keeper"))
    }),

    "text_chunks" -> ((s, dir) => {
      // overlapping token-window chunking (size 32, stride 24) — the
      // retrieval/context-window prep pass; chunk hashes compose with
      // exact dedup downstream
      TextAnalysis.chunkTokens(Tables.documents(s, dir), size = 32,
          stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "dedup_chunks" -> ((s, dir) => {
      // chunk-granularity exact dedup (the paragraph-dedup analog for a
      // corpus without paragraph breaks): repeated windows across —
      // or within — docs collapse on the chunk hash
      TextAnalysis.chunkTokens(Tables.documents(s, dir), size = 32,
          stride = 24)
        .groupBy(col("chunk_hash"))
        .agg(min(col("doc_id")).as("keeper_doc"),
          count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
        .orderBy(col("chunk_hash"))
    }),

    "dedup_lines" -> ((s, dir) => {
      // corpus-level LINE dedup (the RefinedWeb boilerplate-removal
      // pass): lines repeating across >= 3 documents are stripped and
      // the survivors reassembled in order. Ground truth is planted
      // (the dedup_eval twin pattern): every 3rd doc gets the same
      // 10-word cookie-banner header — document dedup can't see it
      // (the hosting docs differ), this pass must strip EXACTLY it
      // plus whatever natural repeats the corpus already has (the
      // oracle computes both from the same relation)
      Dedup.lineDedup(linePlantedCorpus(s, dir), lineLen = 10,
          minSupport = 3)
        .orderBy(col("doc_id"))
    }),

    "dedup_lines_support" -> ((s, dir) => {
      // the boilerplate INVENTORY: document-support histogram of the
      // line universe — the audit a pipeline reads before choosing the
      // minSupport threshold (how much chrome, how widespread)
      Dedup.lineSupport(Dedup.docLines(linePlantedCorpus(s, dir),
          lineLen = 10))
        .groupBy(col("sup")).agg(count(lit(1)).as("n_distinct_lines"))
        .orderBy(col("sup"))
    }),

    "dedup_lines_registry" -> ((s, dir) => {
      // closes the ONLINE→STORED loop: the registry REBUILT from the
      // gate's emissions (every line instance flows through with its
      // verdict, so distinct (line, doc) pairs survive the stream)
      // must equal the batch lineSupport relation EXACTLY — the stored
      // registry C195 consumes can be maintained from the stream
      // alone, no batch recount. Same 5-batch replay as C193.
      graft.streaming.StreamedBatch
        .lineGatedMulti(s, lineBatches(s, dir), nBatches = 5)
        .select(col("line"), col("doc_id")).distinct()
        .groupBy(col("line")).agg(count(lit(1)).as("sup"))
        .orderBy(col("line"))
    }),

    "dedup_lines_intra" -> ((s, dir) => {
      // WITHIN-doc repetition removal (the C4 "repeated lines inside a
      // page" rule, the intra half the corpus-support gate
      // C191 deliberately does not cover): a line repeating inside ONE
      // document keeps its first occurrence, no corpus statistics
      // involved. Plant: every 3rd doc carries the chrome header TWICE
      // in a row (window-aligned), so the second occurrence must strip
      // while the corpus gate would need support ≥ 3. One
      // doc-partitioned window + the shared reassembly — stateless
      // across docs, stream-safe per micro-batch.
      val docs = Tables.documents(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(lineHeader + " " + lineHeader + " "), col("text")))
          .otherwise(col("text")))
      Dedup.lineDedupIntra(docs, lineLen = 10).orderBy(col("doc_id"))
    }),

    "dedup_lines_sweep" -> ((s, dir) => {
      // the minSupport POLICY sweep (the threshold audit the board's
      // sweep-row convention gives every tunable): ONE line+support
      // scan, the 3-row arm table broadcast, per-arm how many docs /
      // lines / tokens the threshold would strip — read next to
      // dedup_lines_support before committing to a gate
      import s.implicits._
      val lines = Dedup.docLines(linePlantedCorpus(s, dir), lineLen = 10)
      val arms = Seq(2L, 3L, 5L).toDF("min_support")
      lines.join(Dedup.lineSupport(lines), "line")
        .crossJoin(broadcast(arms))
        .groupBy(col("min_support"))
        .agg(
          countDistinct(when(col("sup") >= col("min_support"),
            col("doc_id"))).as("docs_affected"),
          sum(when(col("sup") >= col("min_support"), 1L).otherwise(0L))
            .as("lines_stripped"),
          sum(when(col("sup") >= col("min_support"),
            size(graft.functions.Portable.tokens(col("line")))
              .cast("long")).otherwise(0L)).as("tok_removed"))
        .orderBy(col("min_support"))
    }),

    "dedup_lines_stored" -> ((s, dir) => {
      // the PRODUCTION loop for the line pass (the dedup_index_stored
      // pattern): yesterday's registry is the stored support table
      // (here built from the even-id half), today's batch (the odd-id
      // half) cleans against stored + its OWN support — a line crosses
      // the threshold from EITHER side, and registry lines absent from
      // the batch cost nothing
      val corpus = linePlantedCorpus(s, dir)
      val stored = Dedup.lineSupport(Dedup.docLines(
        corpus.filter(pmod(col("doc_id"), lit(2)) === 0), lineLen = 10))
      Dedup.lineDedupIncremental(
          corpus.filter(pmod(col("doc_id"), lit(2)) === 1), stored,
          lineLen = 10, minSupport = 3)
        .orderBy(col("doc_id"))
    }),

    "curate_boilerplate" -> ((s, dir) => {
      // the chrome-impact audit a boilerplate pass publishes per
      // source: C191's cleaned corpus joined back to its provenance —
      // lines and tokens before/after, plus REQUALIFICATION: a doc
      // whose CLEANED text falls under the 20-token floor was
      // chrome-carried (it passed raw quality gates on boilerplate
      // bulk) and drops from the training set. Composition is the
      // point: the rewrite feeds downstream gates, not just a flag.
      val docs = linePlantedCorpus(s, dir)
      val cleaned = Dedup.lineDedup(docs, lineLen = 10, minSupport = 3)
      docs.select(col("doc_id"), col("source"),
          size(graft.functions.Portable.tokens(col("text")))
            .as("tok_before"))
        .join(cleaned, "doc_id")
        .withColumn("tok_after",
          size(graft.functions.Portable.tokens(col("text_clean"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("tok_after") < 20, 1L).otherwise(0L))
            .as("n_requalified"),
          sum(col("n_lines")).as("lines_total"),
          sum(col("n_kept")).as("lines_kept"),
          sum(col("tok_before").cast("long")).as("tok_before"),
          sum(col("tok_after").cast("long")).as("tok_after"))
        .orderBy(col("source"))
    }),

    "dedup_lines_stream" -> ((s, dir) => {
      // C191's boilerplate gate ONLINE: the planted corpus replays as
      // 5 REAL micro-batches in doc-id order; a line is kept iff its
      // document support over STRICTLY EARLIER batches was still under
      // 3 when the doc arrived (the batch that carries a line over the
      // threshold still passes — an ingest gate acts only on what it
      // has seen). The planted header crosses in batch 0, so batches
      // 1-4 arrive pre-stripped; the oracle recomputes the per-batch
      // cumulative-support relation exactly. Reassembly of the gated
      // lines is the stateless batch step downstream of the stream.
      reassemble(graft.streaming.StreamedBatch
        .lineGatedMulti(s, lineBatches(s, dir), nBatches = 5))
    }),

    "dedup_lines_evict" -> ((s, dir) => {
      // the line gate's state-EVICTION lifecycle: the SAME 5-batch
      // replay as dedup_lines_stream, but after batch 2 the gate state
      // is FLUSHED — phase-1 emissions fold into the stored registry
      // (StreamingDedup.registryFold ≡ batch lineSupport, the
      // dedup_lines_registry proof) and phase 2 RESTARTS with empty
      // state, seeded by the registry through a stream-static join.
      // The flush is invisible to verdicts — the oracle is
      // dedup_lines_stream's SQL VERBATIM — while the restarted gate's
      // state store holds only phase-2 lines (spec-measured).
      val (p1, p2) = flushSplit(lineBatches(s, dir))
      val g1 = graft.streaming.StreamedBatch
        .lineGatedMulti(s, p1, nBatches = 3)
      val g2 = graft.streaming.StreamedBatch.lineGatedMulti(s, p2,
        nBatches = 2,
        registry = Some(graft.streaming.StreamingDedup.registryFold(g1)))
      reassemble(g1.unionByName(g2))
    }),

    "dedup_lines_ttl_stored" -> ((s, dir) => {
      // the FULL production lifecycle of the line gate: phase 1
      // (batches 0-2) gates and FLUSHES support into the stored
      // registry (registryFold ≡ batch lineSupport); phase 2 restarts
      // empty with the registry joined in as the verdict base AND idle
      // lines evicting in-stream at ttl = half a batch interval — the
      // store holds only ttl-active lines while long-horizon support
      // lives in the registry. Verdicts provably unchanged (in-store
      // increments can only evict after the batch following their last
      // activity, past phase 2's gap-1 recurrences; flushed support is
      // eviction-immune by the base join) — the oracle is
      // dedup_lines_stream's SQL VERBATIM.
      val (p1, p2) = flushSplit(lineBatches(s, dir))
      val g1 = graft.streaming.StreamedBatch
        .lineGatedMulti(s, p1, nBatches = 3)
      val g2 = graft.streaming.StreamedBatch.lineGatedMulti(s, p2,
        nBatches = 2,
        registry = Some(graft.streaming.StreamingDedup.registryFold(g1)),
        ttlMs = Some(graft.streaming.StreamedBatch.batchIntervalMs / 2))
      reassemble(g1.unionByName(g2))
    }),

    "dedup_lines_ttl" -> ((s, dir) => {
      // the LINE gate with IN-STREAM watermark-driven eviction: the
      // same 5-batch replay as dedup_lines_stream with ttl = 2 batch
      // intervals — support state leaves the store DURING the replay
      // (batch-0-only lines are gone before batch 4's verdicts flow; a
      // sentinel batch then drains the rest before termination).
      // ttl = 2 is the calibrated verdict-safe horizon for this corpus:
      // a support reset flips a verdict only for a line re-crossing
      // minSupport after eviction, verified absent at all three test
      // scale factors (at ttl = 1 one real sf0.1 line — "scan query" —
      // flips, the spec's negative control). Eviction is invisible to
      // verdicts: the oracle is dedup_lines_stream's SQL VERBATIM.
      reassemble(graft.streaming.StreamedBatch
        .lineGatedMulti(s, lineBatches(s, dir), nBatches = 5,
          ttlMs = Some(2 * graft.streaming.StreamedBatch.batchIntervalMs)))
    }),

    "sim_project_rerank" -> ((s, dir) => {
      // two-stage ANN: shortlist in the 16-dim projected space (4× fewer
      // flops/bytes), exact cosine rerank on the shortlist only
      Similarity.projectRerankTopK(Tables.embeddings(s, dir),
          col("vec_id") < 10, k = 5, shortlist = 100)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    }),

    "graph_source_rank" -> ((s, dir) => {
      // fixed-point PageRank over the cross-source near-dup graph: a
      // quality/centrality prior over sources (the host-graph-ranking
      // shape), built from the SAME minhash pair pipeline dedup uses
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashCandidates(docs, k = 16, bands = 4)
      val src = docs.select(col("doc_id"), col("source"))
      val withSrc = pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
          "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
          "doc_b")
        .filter(col("src_a") =!= col("src_b"))
      val edges = withSrc.select(col("src_a").as("src"), col("src_b").as("dst"))
        .union(withSrc.select(col("src_b").as("src"), col("src_a").as("dst")))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val nodes = docs.select(col("source").as("node")).distinct()
      Graph.pageRankFixed(edges, nodes, iters = 5).orderBy(col("node"))
    }),

    "dedup_cluster_stats" -> ((s, dir) => {
      // dedup-audit histogram: near-dup cluster-size distribution +
      // docs removed per size — the observability readout a dedup run
      // ships with its manifest (tiny: O(distinct sizes) rows)
      Dedup.connectedComponents(
          Dedup.minhashCandidates(Tables.documents(s, dir), k = 16, bands = 4))
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz") - 1).as("docs_removed"))
        .orderBy(col("cluster_size"))
    }),

    "sim_radius" -> ((s, dir) => {
      // range query: every vector within cosine >= 0.3 of each probe —
      // narrow predicate, no heap, streams out of the scan
      Similarity.radiusSearch(Tables.embeddings(s, dir),
          col("vec_id") < 10, tau = 0.3)
        .orderBy(col("probe_id"), col("cand_id"))
    }),

    "text_tfidf" -> ((s, dir) => {
      // TF-IDF keyword extraction: top-3 terms per doc by tf*ln(N/df)
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    "text_cooccur" -> ((s, dir) => {
      // doc-level token co-occurrence with lift (the collocation /
      // phrase-detection signal): support-pruned BEFORE the totals join
      TextAnalysis.cooccurrence(Tables.documents(s, dir), minSupport = 5)
        .orderBy(col("tok_a"), col("tok_b"))
    }),

    "text_bm25" -> ((s, dir) => {
      // BM25 retrieval scoring against a fixed query term set (the
      // RAG-export/search-index scorer): posting-union semantics, exact
      // decimal score sum
      TextAnalysis.bm25(Tables.documents(s, dir),
          Seq("table", "fast", "scan"))
        .orderBy(col("doc_id"))
    }),

    "sim_hard_negatives" -> ((s, dir) => {
      // contrastive hard-negative mining: top-5 most-similar OTHER-label
      // vectors per probe, through the bounded-heap top-k
      Similarity.hardNegatives(Tables.embeddings(s, dir),
          col("vec_id") < 20, k = 5)
        .orderBy(col("probe_id"), col("cosine").desc, col("neg_id"))
    }),

    "mm_phash" -> ((s, dir) => {
      // perceptual image hash through the REAL codec round-trip (same
      // media synthesis as mm_decode, incl. the %7 undecodable payloads
      // exercising the fallback)
      Multimodal.phashFeatures(synthMedia(s, dir))(s).toDF().orderBy(col("doc_id"))
    }),

    "mm_phash_gate_stream" -> ((s, dir) => {
      // C45's ingest gate extended to IMAGES: arrivals replay across 3
      // real micro-batches (batch = id mod 3 — an out-of-id-order
      // plant), each payload is synthesized + perceptually hashed
      // partition-locally inside the stream, and the phash feeds the
      // SAME first-seen registry as the text gate — first = earliest
      // (batch, id), every later holder of the image collides; the
      // oracle recomputes the phash in SQL and the arrival-order argmin
      val batched = Tables.documents(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(3L)).as("batch"))
      graft.streaming.StreamedBatch.phashCollisionsMulti(s, batched, 3)
        .select(col("doc_id"), col("bucket").as("phash"),
          col("first_doc"))
        .orderBy(col("doc_id"), col("phash"))
    }),

    "mm_phash_dups" -> ((s, dir) => {
      // image-level dedup via perceptual hash: payloads repeat mod 97,
      // so every hash group collects the docs sharing an image
      implicit val ss: SparkSession = s
      import ss.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val payload = Multimodal.synthesizeBmp(id % 97)
            MediaRecord(id, payload, "", "", payload.length.toLong)
          }
        }
      Multimodal.phashFeatures(media).toDF()
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("phash"))
    }),

    "text_entropy" -> ((s, dir) => {
      // character-entropy quality signal (sorted-distinct sequential
      // fold — engine-identical term order)
      TextAnalysis.charEntropy(Tables.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    "curate_budget" -> ((s, dir) => {
      // budget-bounded curation: best docs by quality until the token
      // budget fills — the two-phase global cumulative sum
      val scored = TextAnalysis.quality(Tables.documents(s, dir), stopwords)
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
      Curation.globalCumSum(scored, Seq(col("quality").desc, col("doc_id")),
          col("n_tokens"), "cum_tokens")
        .filter(col("cum_tokens") <= 30000L)
        .orderBy(col("doc_id"))
    }),

    "shuffle_export" -> ((s, dir) => {
      // deterministic global training-order shuffle: rank over the
      // affine-rehashed id hash — reproducible across engines and runs,
      // stable for resumable dataloaders
      val u = (graft.plans.native.poly_hash(
          concat(lit("shuffle:"), col("doc_id").cast("string")))
        * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0)) %
        graft.plans.HashOps.M
      Curation.globalRank(
          Tables.documents(s, dir).select(col("doc_id"), u.as("h")),
          Seq(col("h"), col("doc_id")), "shuffle_pos")
        .orderBy(col("shuffle_pos"))
    }),
  )

  /** The 10-word boilerplate header dedup_lines plants (the "cookie
    * banner" every 3rd document shares verbatim). */
  private val lineHeader =
    "accept cookies privacy terms subscribe newsletter follow share contact help"

  /** Planted corpus shared by dedup_lines / dedup_lines_support: every
    * 3rd document prefixed with the SAME 10-word boilerplate header —
    * line-level chrome that document-level dedup cannot see (the
    * hosting documents all differ). */
  private def linePlantedCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(lineHeader + " "), col("text"))).otherwise(col("text")))

  /** [[linePlantedCorpus]] as the line-gate rows' 5-batch replay
    * (doc_id, text, batch), in doc-id order. */
  private def lineBatches(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamedBatch.chunked(
      linePlantedCorpus(s, dir).select(col("doc_id"), col("text")), 5,
      col("doc_id"))

  /** The dedup_gate_* rows' 5-batch replay (doc_id, text, batch): every
    * 7th doc is redelivered AFTER the whole rest of the corpus (delay =
    * n arrival positions — the re-crawl shape), batches in arrival
    * order. */
  private def redeliveredDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val n = docs.count() // bounded plan-time action (chunk sizing)
    graft.streaming.StreamedBatch.chunked(docs
      .withColumn("arrival", col("doc_id") +
        when(pmod(col("doc_id"), lit(7)) === 0, lit(n)).otherwise(0L)),
      n, 5, col("arrival"), col("doc_id"))
  }

  /** A 5-batch replay split at a flush after batch 2: phase 1 (batches
    * 0-2) and phase 2 (batches 3-4, renumbered from 0). */
  private def flushSplit(batched: DataFrame): (DataFrame, DataFrame) =
    (batched.filter(col("batch") <= 2),
      batched.filter(col("batch") >= 3).withColumn("batch", col("batch") - 3))

  /** The stored bucket index flushed after phase 1 `p1`: per bucket the
    * replay owner = min (batch, doc) over phase-1 arrivals — the C104
    * artifact a production sink maintains, computed from the gate's
    * INPUTS since owners are silent in the collision emissions. */
  private def ownerRegistry(p1: DataFrame): DataFrame =
    Dedup.minhashBuckets(p1.select(col("doc_id"), col("text")))
      .join(p1.select(col("doc_id"), col("batch")), "doc_id")
      .groupBy(col("bucket"))
      .agg(min(struct(col("batch"), col("doc_id"))).as("o"))
      .select(col("bucket"), col("o.doc_id").as("first_doc"))

  /** Gated lines (doc_id, n_lines, line_id, line, kept) reassembled into
    * cleaned documents: the kept lines in line order, by doc id. */
  private def reassemble(gated: DataFrame): DataFrame =
    gated.groupBy(col("doc_id"), col("n_lines"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          filter(array_sort(collect_list(struct(col("line_id"),
            col("kept").as("keep"), col("line")))),
            x => x.getField("keep")),
          x => x.getField("line"))).as("text_clean"))
      .orderBy(col("doc_id"))

  /** The line-dedup corpus (`prefix` planted before every 3rd doc) cut
    * into 10-token lines: `corpus`, `w` (tokens) and `ln` (lines with
    * their id and the doc's line count). */
  private def lineSplitCtes(prefix: String, ln: String): String =
    s"""corpus AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN '$prefix' || text
       |         ELSE text END AS text
       |  FROM documents
       |), w AS (
       |  SELECT doc_id, $toksSql AS t FROM corpus
       |), $ln AS (
       |  SELECT doc_id, (off // 10) AS line_id,
       |    CAST((len(t) + 9) // 10 AS BIGINT) AS n_lines,
       |    array_to_string(list_slice(t, off + 1, off + 10), ' ') AS line
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t), 10)) AS off
       |        FROM w WHERE len(t) > 0)
       |)""".stripMargin

  /** The planted-corpus → lines → support CTE chain both dedup_lines
    * oracles share (lineLen = 10 tokens, support = distinct docs). */
  private lazy val lineCtes: String =
    s"""${lineSplitCtes(s"$lineHeader ", "ln")}, sup AS (
       |  SELECT line, count(DISTINCT doc_id) AS sup FROM ln GROUP BY line
       |)""".stripMargin

  /** Each doc of [[lineCtes]] with its lines of support < 3 kept. */
  private lazy val lineCleanSql: String =
    """SELECT ln.doc_id, ln.n_lines,
      |  CAST(count(*) FILTER (WHERE sup.sup < 3) AS BIGINT) AS n_kept,
      |  COALESCE(array_to_string(
      |    list(ln.line ORDER BY ln.line_id) FILTER (WHERE sup.sup < 3),
      |    ' '), '') AS text_clean
      |FROM ln JOIN sup USING (line)
      |GROUP BY ln.doc_id, ln.n_lines""".stripMargin

  /** Inline portable poly-hash over a DuckDB string expression (the SQL
    * twin of HashOps.polyHashStr / Portable.polyHash). */
  private def ph(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), ch -> CAST(unicode(ch) AS BIGINT))), " +
      s"(acc, cd) -> (acc * 31 + cd) % 2147483647)"

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** 64-byte-window audio energies `e(doc_id, w_idx, energy)` over the
    * text-as-PCM payload (shared by mm_audio, mm_audio_fingerprint,
    * mm_audio_dups). */
  private val audioEnergyCtes: String =
    """w AS (
      |  SELECT doc_id,
      |    unnest(range(0, (len(text) + 63) // 64)) AS w_idx, text
      |  FROM documents WHERE len(text) > 0
      |), e AS (
      |  SELECT doc_id, w_idx,
      |    CAST(list_sum(list_prepend(0, list_transform(
      |      string_split(substr(text, CAST(w_idx * 64 + 1 AS INT), 64), ''),
      |      ch -> (unicode(ch) - 96) * (unicode(ch) - 96)))) AS BIGINT)
      |      AS energy
      |  FROM w
      |)""".stripMargin

  /** The marker-planted corpus as one SQL CTE (`pl(doc_id, lang,
    * text)`) — the oracle twin of [[langPlantedDocs]], shared by both
    * planted langid evals. */
  private lazy val langPlantedCte: String = {
    val langs = langEvalMarkers.map(_._1)
    val mk = langEvalMarkers.toMap
    def mkStr(l: String) = mk(l).mkString(" ")
    def confuser(l: String) =
      mk(langs((langs.indexOf(l) + 1) % langs.size)).head
    val mkCase = "CASE " + langs.map(l =>
      s"WHEN lang = '$l' THEN '${mkStr(l)}'").mkString(" ") + " END"
    val nzCase = "CASE " + langs.map(l =>
      s"WHEN lang = '$l' THEN '${confuser(l)}'").mkString(" ") + " END"
    s"""pl AS (
       |  SELECT doc_id, lang, concat_ws(' ', text, $mkCase, $mkCase,
       |    CASE WHEN doc_id % 3 = 0 THEN $mkCase END,
       |    CASE WHEN doc_id % 2 = 0 THEN $nzCase END) AS text
       |  FROM documents
       |)""".stripMargin
  }

  /** The exact-span plant as one SQL CTE (`pl(doc_id, t)`, t = token
    * array) — the oracle twin of [[spanPlantedDocs]], shared by
    * dedup_spans_exact and dedup_spans_recall. */
  private lazy val spanPlantedCte: String =
    s"""pl AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN
       |      list_concat(list_concat(w[1 : k],
       |        ${(1 to 20).map(i => s"'zq$i'").mkString("[", ", ", "]")}),
       |        w[k + 1 : len(w)])
       |    ELSE w END AS t
       |  FROM (SELECT doc_id, $toksSql AS w,
       |          CAST(doc_id % 7 + 3 AS INT) AS k FROM documents)
       |)""".stripMargin

  /** Each source's distinct character-7-gram hashes `g` (from `g0`),
    * only those divisible by `mod` when `mod` > 1. */
  private def sourceGramCtes(mod: Int): String =
    s"""g0 AS (
       |  SELECT source AS src,
       |    unnest(list_distinct(CASE WHEN len(text) >= 8
       |      THEN list_transform(range(1, len(text) - 6), i -> ${ph("text[i:i+7]")})
       |      ELSE [${ph("text")}] END)) AS gram
       |  FROM documents
       |), g AS (SELECT DISTINCT src, gram FROM g0${
         if (mod > 1) s" WHERE gram % $mod = 0" else ""})""".stripMargin

  /** The exact gram Jaccard of every source pair over the grams of
    * [[sourceGramCtes]] (`mod` > 1: a 1-in-`mod` hash sample, shared
    * counts scaled back by `mod`). */
  private def sourceOverlapSql(mod: Int): String =
    s"""WITH ${sourceGramCtes(mod)},
       |sizes AS (
       |  SELECT src, count(*) AS n_grams FROM g GROUP BY 1
       |), p AS (
       |  SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_shared
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.src < b.src
       |  GROUP BY 1, 2
       |)
       |SELECT source_a, source_b, ${
         if (mod > 1) s"CAST(n_shared * $mod AS BIGINT) AS n_shared" else "n_shared"},
       |  ROUND(n_shared / (sa.n_grams + sb.n_grams - n_shared), 6) AS jaccard,
       |  CAST($mod AS BIGINT) AS domain_mod
       |FROM p
       |JOIN sizes sa ON sa.src = source_a
       |JOIN sizes sb ON sb.src = source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Per source, the minimum of each of the 16 MinHash slots over its
    * docs' signatures: `slots` (after `ssig`, over the minhash CTEs). */
  private lazy val sourceSlotsCtes: String =
    s"""${minhashPairsCte()},
       |ssig AS (
       |  SELECT d.source, s.sig FROM sig s JOIN documents d USING (doc_id)
       |), slots AS (
       |  SELECT source, i.i AS slot, min(sig[i.i + 1]) AS mh
       |  FROM ssig, (SELECT unnest(range(0, 16)) AS i) i
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** The template plant: `docs` plus an id-offset (+1000000) twin of
    * every 13th doc, each text stamped with its own id. */
  private def templateTwins(docs: DataFrame): DataFrame = {
    val twins = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.unionByName(twins)
      .withColumn("text",
        concat(col("text"), lit(" req "), col("doc_id").cast("string")))
  }

  /** `docs` with PII planted: every 3rd doc gets an email appended,
    * every 3rd+1 an IPv4 address. */
  private def piiPlanted(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact u"), col("doc_id"), lit("@example.com")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit(" host 10.0."), pmod(col("doc_id"), lit(256)), lit(".7")))
        .otherwise(lit(""))))

  /** The (source, word) token stream of `docs`. */
  private def sourceWords(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      explode(graft.functions.Portable.tokens(col("text"))).as("word"))

  /** A per-source-pair sketched dot `est_dot` next to the exact word
    * frequency dot product of `toks` ([[sourceWords]]; 0 when no word is
    * shared). */
  private def withExactDot(est: DataFrame, toks: DataFrame): DataFrame = {
    val wc = toks.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n"))
    val exact = wc.select(col("source").as("source_a"),
        col("word"), col("n").as("na"))
      .join(wc.select(col("source").as("source_b"), col("word"),
        col("n").as("nb")), Seq("word"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("na") * col("nb")).as("exact_dot"))
    est
      .join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("est_dot"),
        coalesce(col("exact_dot"), lit(0L)).as("exact_dot"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The planted changelog of `docs`: the snapshot (version 0), updates
    * of every 5th doc (1) and deletes of every 7th (2). */
  private def cdcChangelog(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), lit(0L).as("version"),
      lit("I").as("op"), col("text"))
    val upd = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), lit(1L).as("version"), lit("U").as("op"),
        concat(col("text"), lit(" updated")).as("text"))
    val del = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), lit(2L).as("version"), lit("D").as("op"),
        lit(null).cast("string").as("text"))
    base.unionByName(upd).unionByName(del)
  }

  /** Each ranked row's file of 32: `(rk * 32) div n`, exact. */
  private def rankedFiles(ranked: DataFrame): DataFrame =
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
      .withColumn("file_id", expr("(rk * 32) div n"))

  /** Each row's file of 32 by cut points on `key` from a deterministic
    * 1024-row sample's quantiles (the sampled layout writers). */
  private def sampledFiles(base: DataFrame, key: Column): DataFrame = {
    val idStr = concat(col("l_orderkey").cast("string"), lit(":"),
      col("l_linenumber").cast("string"))
    val bounds = Curation.sampledRangeBounds(base, key, idStr,
      Seq(col("l_orderkey"), col("l_linenumber")), m = 1024, nFiles = 32)
    base.withColumn("file_id", Curation.fileIdFor(bounds, key))
  }

  /** Rows and [min,max] footer ranges of (l_partkey, l_suppkey) per file. */
  private def fileRangeStats(files: DataFrame): DataFrame =
    files.groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .orderBy(col("file_id"))

  /** lineitem on the comparable-cardinality dims of the pruning rows
    * (pk_bucket = l_partkey % 100, l_suppkey) with their Morton key `z`. */
  private def bucketedLines(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(pmod(col("l_partkey"), lit(100L)).as("pk_bucket"),
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("z", graft.functions.Portable
        .zValue(col("pk_bucket"), col("l_suppkey"), 16))

  /** For 6 point probes on either dim of `base` ([[bucketedLines]] plus
    * the layouts' keys), how many of each layout's 32 files' [min,max]
    * ranges a scan must touch. A layout ranks rows by its `keys`, then
    * (l_orderkey, l_linenumber). */
  private def probeFilesHit(base: DataFrame,
      layouts: Seq[(String, Seq[Column])]): DataFrame = {
    val ss = base.sparkSession; import ss.implicits._
    def fileStats(name: String, keys: Seq[Column]) =
      rankedFiles(Curation.globalRank(base,
          keys ++ Seq(col("l_orderkey"), col("l_linenumber")), "rk"))
        .groupBy(col("file_id"))
        .agg(min(col("pk_bucket")).as("pk_min"),
          max(col("pk_bucket")).as("pk_max"),
          min(col("l_suppkey")).as("sk_min"),
          max(col("l_suppkey")).as("sk_max"))
        .withColumn("layout", lit(name))
    val stats = layouts.map { case (name, keys) => fileStats(name, keys) }
      .reduce(_ unionByName _)
    val probes = Seq(("pk_bucket", 3L), ("pk_bucket", 47L),
      ("pk_bucket", 91L), ("suppkey", 2L), ("suppkey", 5L),
      ("suppkey", 9L)).toDF("dim", "probe_val")
    stats.join(broadcast(probes),
        (col("dim") === "pk_bucket" && col("pk_min") <= col("probe_val")
          && col("probe_val") <= col("pk_max")) ||
        (col("dim") === "suppkey" && col("sk_min") <= col("probe_val")
          && col("probe_val") <= col("sk_max")))
      .groupBy(col("layout"), col("dim"), col("probe_val"))
      .agg(count(lit(1)).as("files_hit"))
      .orderBy(col("layout"), col("dim"), col("probe_val"))
  }

  /** The 16-bit Morton key of (`a`, l_suppkey) as integer arithmetic,
    * `a`'s bit above l_suppkey's at each level. */
  private def zTermsSql(a: String): String = (0 until 16).map { i =>
    s"(($a // ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
      s" + ((l_suppkey // ${1L << i}) % 2) * ${1L << (2 * i)}"
  }.mkString(" + ")

  /** lineitem rows of `from` ranked by `key` into 32 files, with each
    * file's rows and (l_partkey, l_suppkey) [min,max] ranges. */
  private def rankedFileStatsSql(key: String, from: String): String =
    s"""r AS (
       |  SELECT *,
       |    row_number() OVER (ORDER BY $key, l_orderkey, l_linenumber) - 1 AS rk
       |  FROM $from
       |), n AS (SELECT count(*) AS n FROM lineitem)
       |SELECT (rk * 32) // n AS file_id, count(*) AS n_rows,
       |  min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
       |  min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
       |FROM r, n GROUP BY 1 ORDER BY file_id""".stripMargin

  /** SQL twin of [[probeFilesHit]]: `keyCtes` adds the layout keys to
    * `z0` (the bucketed lineitem) as `from`; a layout is a name and its
    * leading sort key ("" for arrival order). */
  private def probePruneSql(keyCtes: String, from: String,
      layouts: Seq[(String, String)]): String = {
    def layoutCte(name: String, key: String): String =
      s"""SELECT '$name' AS layout, (rk * 32) // n AS file_id,
         |    min(pk_bucket) AS pk_min, max(pk_bucket) AS pk_max,
         |    min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
         |  FROM (SELECT $from.*,
         |      row_number() OVER (ORDER BY ${
           if (key.isEmpty) "" else s"$key, "}l_orderkey, l_linenumber) - 1 AS rk FROM $from), n
         |  GROUP BY 1, 2""".stripMargin
    s"""WITH z0 AS (
       |  SELECT l_partkey % 100 AS pk_bucket, l_suppkey, l_orderkey,
       |    l_linenumber
       |  FROM lineitem
       |),
       |$keyCtes, n AS (SELECT count(*) AS n FROM lineitem),
       |f AS (
       |  ${layouts.map { case (n, k) => layoutCte(n, k) }.mkString("\n  UNION ALL\n  ")}
       |), p AS (
       |  SELECT * FROM (VALUES ('pk_bucket', 3), ('pk_bucket', 47),
       |    ('pk_bucket', 91), ('suppkey', 2), ('suppkey', 5),
       |    ('suppkey', 9)) AS t(dim, probe_val)
       |)
       |SELECT f.layout, p.dim, CAST(p.probe_val AS BIGINT) AS probe_val,
       |  count(*) AS files_hit
       |FROM f JOIN p ON
       |  (p.dim = 'pk_bucket' AND f.pk_min <= p.probe_val
       |    AND p.probe_val <= f.pk_max) OR
       |  (p.dim = 'suppkey' AND f.sk_min <= p.probe_val
       |    AND p.probe_val <= f.sk_max)
       |GROUP BY 1, 2, 3
       |ORDER BY layout, dim, probe_val""".stripMargin
  }

  /** One media record per doc: a synthesized BMP, or (docs ≡ 0 mod 7)
    * the text as an undecodable payload that exercises the fallback. */
  private def synthMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[MediaRecord] = {
    implicit val ss: SparkSession = s
    import ss.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val payload =
            if (id % 7 == 0) Option(text).getOrElse("").getBytes("UTF-8")
            else Multimodal.synthesizeBmp(id)
          MediaRecord(id, payload, "", "", payload.length.toLong)
        }
      }
  }

  /** The synthetic images of the media rows as SQL: `dims` (each doc's
    * width and height) and `px` (each decodable doc's pixel values, with
    * their raster position when `withPos`). */
  private def mediaPixelCtes(withPos: Boolean): String =
    s"""dims AS (
       |  SELECT doc_id, text,
       |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
       |  FROM documents
       |), px AS (
       |  SELECT d.doc_id,${if (withPos) " y.y * d.w + x.x AS pos," else ""}
       |    (d.doc_id * 31 + x.x * 7 + y.y * 13) % 256
       |      + 2 * ((d.doc_id * 17 + x.x * 3 + y.y * 5) % 256)
       |      + 4 * ((x.x + y.y * 11) % 256) AS v
       |  FROM dims d
       |  JOIN (SELECT unnest(range(0, 9)) AS x) x ON x.x < d.w
       |  JOIN (SELECT unnest(range(0, 7)) AS y) y ON y.y < d.h
       |  WHERE d.doc_id % 7 <> 0
       |)""".stripMargin

  /** One row per doc of the media rows: decoded, dimensions, and the
    * column `feature` of the CTE `feats` (joined as `a`), or the header hash
    * for an undecodable payload. */
  private def mediaRowsSql(feats: String, a: String, feature: String): String =
    s"""SELECT d.doc_id, d.doc_id % 7 <> 0 AS decoded,
       |  CAST(CASE WHEN d.doc_id % 7 <> 0 THEN d.w ELSE 0 END AS BIGINT) AS width,
       |  CAST(CASE WHEN d.doc_id % 7 <> 0 THEN d.h ELSE 0 END AS BIGINT) AS height,
       |  CASE WHEN d.doc_id % 7 <> 0 THEN $a.$feature
       |       ELSE ${ph("substr(d.text, 1, 16)")} END AS $feature
       |FROM dims d LEFT JOIN $feats $a ON d.doc_id = $a.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** One BPE merge of the pair `b` (`b.l`, `b.r`) over the
    * chr(31)-separated symbols `enc`. */
  private lazy val bpeMergeSql: String =
    """list_reduce(list_prepend(CAST('' AS VARCHAR),
      |      string_split(enc, chr(31))), (acc, s) ->
      |      CASE WHEN acc = '' THEN s
      |           WHEN (acc = b.l OR ends_with(acc, chr(31) || b.l)) AND s = b.r
      |             THEN acc || s
      |           ELSE acc || chr(31) || s END)""".stripMargin

  /** Per label of the vectors `from`, the decimal-exact coordinate sums
    * `sxs` and member count `n_label`: the CTE `cen` (after `c0`, `comps`). */
  private def labelCentroidCtes(from: String): String =
    s"""c0 AS (
       |  SELECT label, generate_subscripts(embedding, 1) AS dim,
       |    unnest(embedding) AS x
       |  FROM $from
       |), comps AS (
       |  SELECT label, dim,
       |    SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,9))) AS sx, count(*) AS n
       |  FROM c0 GROUP BY 1, 2
       |), cen AS (
       |  SELECT label, max(n) AS n_label,
       |    list(CAST(sx AS DOUBLE) ORDER BY dim) AS sxs
       |  FROM comps GROUP BY 1
       |)""".stripMargin

  /** The minhash candidate pairs that agree on ≥ 8 of 16 slots, as the
    * edge CTE `name(a, b)` (after the minhash CTEs). */
  private def minhashEdgeCtes(name: String): String =
    s"""${minhashPairsCte()},
       |$name AS (
       |  SELECT p.doc_a AS a, p.doc_b AS b
       |  FROM pairs p
       |  JOIN sig sa ON p.doc_a = sa.doc_id
       |  JOIN sig sb ON p.doc_b = sb.doc_id
       |  WHERE list_sum(list_transform(range(1, 17), i ->
       |    CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 8
       |)""".stripMargin

  /** Each non-empty doc's token count and running token end per source
    * in id order (`t`, `s`): the sequence-packing rows' input. */
  private lazy val packRunCtes: String =
    s"""t AS (
       |  SELECT source, doc_id, len($toksSql) AS n_tok FROM documents
       |), s AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
       |      AS BIGINT) AS tok_end
       |  FROM t WHERE n_tok > 0
       |)""".stripMargin

  /** The docs `d` that pass every configured curation stage of
    * [[curationCtes]] (language, component representative, quality,
    * not benchmark, not contaminated), as a FROM ... WHERE clause. */
  private lazy val curatedDocsSql: String =
    """  FROM documents d
      |  JOIN q ON d.doc_id = q.doc_id
      |  LEFT JOIN labels l ON d.doc_id = l.ldoc
      |  WHERE d.lang IN ('en','es','fr')
      |    AND (l.ldoc IS NULL OR l.cl = d.doc_id)
      |    AND q.quality >= 0.6
      |    AND d.doc_id % 97 <> 0
      |    AND d.doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin

  /** Each doc's distinct character-7-gram hashes (of the docs `where`
    * keeps): the CTE `g`. */
  private def docGramCte(where: String = ""): String =
    s"""g AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(CASE WHEN len(text) >= 8
       |      THEN list_transform(range(1, len(text) - 6), i -> ${ph("text[i:i+7]")})
       |      ELSE [${ph("text")}] END)) AS gram
       |  FROM documents$where
       |)""".stripMargin

  /** The decontamination screen over [[docGramCte]]`(where)`: `bg` the
    * grams of the benchmark split (doc_id % 97 = 0) with df <= 2, and
    * `cont` the other docs sharing one of them. */
  private def contaminationCtes(where: String): String =
    s"""${docGramCte(where)}, gdf AS (
       |  SELECT gram, count(*) AS df FROM g GROUP BY 1
       |), bg AS (
       |  SELECT DISTINCT gram FROM g JOIN gdf USING (gram)
       |  WHERE doc_id % 97 = 0 AND df <= 2
       |), cont AS (
       |  SELECT DISTINCT doc_id FROM g JOIN bg USING (gram)
       |  WHERE doc_id % 97 <> 0
       |)""".stripMargin

  /** A gram's 3 Bloom filter positions of 4096. */
  private lazy val bloomPosSql: String =
    """list_transform(range(0, 3), j ->
      |    (gram * (((j+1) * 2654435761) % 2147483647)
      |      + ((j+1) * 40503) % 2147483647) % 2147483647 % 4096)""".stripMargin

  /** The Bloom filter's set bits `bpos` over the grams of `from`. */
  private def bloomBitsCte(from: String): String =
    s"""bpos AS (
       |  SELECT DISTINCT unnest($bloomPosSql) AS pos
       |  FROM $from
       |)""".stripMargin

  /** The Bloom gate over [[docGramCte]]`()`: the benchmark docs' (id % 97 = 0)
    * bits, and per corpus doc and gram the number `c` of its positions
    * set (`hit`; all 3 set = a maybe-shared gram). */
  private lazy val bloomHitCtes: String =
    s"""${bloomBitsCte("g WHERE doc_id % 97 = 0")}, cpos AS (
       |  SELECT doc_id, gram, unnest($bloomPosSql) AS pos
       |  FROM g WHERE doc_id % 97 <> 0
       |), hit AS (
       |  SELECT doc_id, gram, count(*) AS c
       |  FROM cpos JOIN bpos USING (pos)
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** The hashed-token quality classifier: each doc's token count and
    * score (`sc`, over `d`), the benchmark docs left out when
    * `benchHeldOut`. */
  private def classifierCtes(benchHeldOut: Boolean): String =
    s"""d AS (
       |  SELECT doc_id, lang, $toksSql AS toks FROM documents${
         if (benchHeldOut) "\n  WHERE doc_id % 97 <> 0" else ""}
       |), sc AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, t -> (${ph("t")} % 2001) - 1000)),
       |      (a, x) -> a + x) AS score
       |  FROM d
       |)""".stripMargin

  /** quality_classifier's SQL; the streamed twin adds the shard key. */
  private def classifierSql(withShard: Boolean): String =
    s"""WITH ${classifierCtes(benchHeldOut = false)}
       |SELECT doc_id, lang, n_tok, score, score > 0 AS pred${
         if (withShard) s",\n  ${ph("CAST(doc_id AS VARCHAR)")} % 16 AS shard" else ""}
       |FROM sc ORDER BY doc_id""".stripMargin

  /** dedup_spans' SQL: the 16-token spans of each doc that start at the
    * values `v` of the list `starts` (the slice after token `lo`), hashed
    * and counted over docs, kept where ≥ 2 docs share one. */
  private def spanCountsSql(starts: String, v: String, lo: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS w FROM documents
       |), c AS (
       |  SELECT doc_id, unnest($starts) AS $v, w
       |  FROM t WHERE len(w) >= 16
       |), s AS (
       |  SELECT doc_id,
       |    ${ph(s"array_to_string(w[$lo+1 : $lo+16], ' ')")} AS span_hash
       |  FROM c
       |)
       |SELECT span_hash, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occ, min(doc_id) AS min_doc
       |FROM s GROUP BY 1
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span_hash""".stripMargin

  /** The span cascade's first stage over docs `src` (`doc_id`, tokens
    * `w`): the hashes of the 16-token spans every 8 tokens (`<p>sh`),
    * those that ≥ 2 docs share (`<p>hot`) and their docs (`<p>cand`). */
  private def spanCandCtes(p: String, src: String, w: String): String =
    s"""${p}sh AS (
       |  SELECT doc_id,
       |    ${ph(s"array_to_string($w[st+1 : st+16], ' ')")} AS span_hash
       |  FROM (SELECT doc_id, unnest(range(0, len($w) - 16 + 1, 8)) AS st, $w
       |        FROM $src WHERE len($w) >= 16)
       |), ${p}hot AS (
       |  SELECT span_hash FROM ${p}sh GROUP BY 1
       |  HAVING count(DISTINCT doc_id) >= 2
       |), ${p}cand AS (
       |  SELECT DISTINCT doc_id FROM ${p}sh JOIN ${p}hot USING (span_hash)
       |)""".stripMargin

  /** The exact shared-span islands over docs `src` (`doc_id`, tokens
    * `w`), only over the `<p>cand` docs when `cand`: every 16-token
    * window (`<p>wins`), the windows ≥ 2 docs share (`<p>shr`), their
    * positions (`<p>mk`) and the runs of consecutive positions
    * (`<p>isl`, one `g` per run). */
  private def spanIslandCtes(p: String, src: String, w: String,
      cand: Boolean): String =
    s"""${p}wins AS (
       |  SELECT doc_id, off AS pos,
       |    array_to_string($w[off + 1 : off + 16], ' ') AS wtext
       |  FROM (SELECT $src.doc_id, $src.$w, unnest(range(0, len($src.$w) - 16 + 1)) AS off
       |        FROM $src${if (cand) s" JOIN ${p}cand USING (doc_id)" else ""} WHERE len($src.$w) >= 16)
       |), ${p}shr AS (
       |  SELECT wtext FROM ${p}wins GROUP BY wtext
       |  HAVING count(DISTINCT doc_id) >= 2
       |), ${p}mk AS (
       |  SELECT w2.doc_id, w2.pos FROM ${p}wins w2 JOIN ${p}shr USING (wtext)
       |), ${p}isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |  FROM ${p}mk
       |)""".stripMargin

  /** One row per island of [[spanIslandCtes]] (prefix ""). */
  private lazy val spanIslandRowsSql: String =
    """SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) + 15 AS BIGINT) AS span_end,
      |  CAST(count(*) AS BIGINT) AS n_wins
      |FROM isl GROUP BY doc_id, g
      |ORDER BY doc_id, span_start""".stripMargin

  /** The character-trigram language profiles over `from`: `g` (each
    * doc's distinct trigram hashes), `prof` (each language's 20 most
    * frequent grams) and `scored` (per doc and profile, the grams they
    * share). With `holdout`, even ids train the profiles and only odd
    * ids are scored. */
  private def langProfileCtes(from: String, holdout: Boolean = false): String = {
    def ifHoldout(sql: String): String = if (holdout) sql else ""
    s"""g AS (
       |  SELECT doc_id, lang,${ifHoldout(" doc_id % 2 = 0 AS is_train,")}
       |    unnest(list_distinct(CASE WHEN len(text) >= 3
       |      THEN list_transform(range(1, len(text) - 1), i -> ${ph("text[i:i+2]")})
       |      ELSE [${ph("text")}] END)) AS gram
       |  FROM $from
       |), prof AS (
       |  SELECT lang AS profile_lang, gram
       |  FROM (
       |    SELECT lang, gram, count(*) AS cnt,
       |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, gram) AS rk
       |    FROM g ${ifHoldout("WHERE is_train ")}GROUP BY lang, gram
       |  ) WHERE rk <= 20
       |), scored AS (
       |  SELECT g.doc_id, p.profile_lang, count(*) AS score
       |  FROM g JOIN prof p ON g.gram = p.gram${ifHoldout("\n  WHERE NOT g.is_train")}
       |  GROUP BY g.doc_id, p.profile_lang
       |)""".stripMargin
  }

  /** Confusion shares (true `lang` × predicted) of the trigram profile
    * predictions over the planted corpus `from` that `plantedCtes` builds. */
  private def langProfileConfusionSql(plantedCtes: String, from: String,
      holdout: Boolean): String =
    s"""WITH $plantedCtes, ${langProfileCtes(from, holdout)}, preds AS (
       |  SELECT doc_id, profile_lang AS pred_lang
       |  FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, profile_lang) = 1
       |), c AS (
       |  SELECT $from.lang, preds.pred_lang, count(*) AS n
       |  FROM preds JOIN $from ON preds.doc_id = $from.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT lang, pred_lang, n,
       |  round(CAST(n AS DOUBLE)
       |    / (SUM(n) OVER (PARTITION BY lang)), 6) AS share
       |FROM c ORDER BY lang, pred_lang""".stripMargin

  /** [[langPlantedCte]] extended with the holdout row's ambiguous test
    * docs (`pl2(doc_id, lang, text)`) — the twin of [[langHoldoutDocs]]. */
  private lazy val langHoldoutCte: String = {
    val langs = langEvalMarkers.map(_._1)
    val mk = langEvalMarkers.toMap
    def nextStr(l: String) = {
      val s = mk(langs((langs.indexOf(l) + 1) % langs.size)).mkString(" ")
      s + " " + s
    }
    val nxCase = "CASE " + langs.map(l =>
      s"WHEN lang = '$l' THEN '${nextStr(l)}'").mkString(" ") + " END"
    s"""$langPlantedCte, pl2 AS (
       |  SELECT doc_id, lang, concat_ws(' ', text,
       |    CASE WHEN doc_id % 2 = 1 AND doc_id % 5 = 0 THEN $nxCase END)
       |    AS text
       |  FROM pl
       |)""".stripMargin
  }

  /** The langid predictor's SELECT (per-doc pred + marker scores) —
    * shared by text_langid and its ground-truth eval. */
  private lazy val langidSelectSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    len(list_filter($toksSql, t -> list_contains(['table','row','scan'], t))) AS score_de,
       |    len(list_filter($toksSql, t -> list_contains(['the','a'], t))) AS score_en,
       |    len(list_filter($toksSql, t -> list_contains(['data','value','key'], t))) AS score_es,
       |    len(list_filter($toksSql, t -> list_contains(['join','merge','filter'], t))) AS score_fr,
       |    len(list_filter($toksSql, t -> list_contains(['spark','query','batch'], t))) AS score_zh
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CASE
       |    WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
       |    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
       |    WHEN score_es >= score_de AND score_es >= score_en AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
       |    WHEN score_fr >= score_de AND score_fr >= score_en AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
       |    ELSE 'zh' END AS pred_lang,
       |  CAST(score_de AS INT) AS score_de, CAST(score_en AS INT) AS score_en,
       |  CAST(score_es AS INT) AS score_es, CAST(score_fr AS INT) AS score_fr,
       |  CAST(score_zh AS INT) AS score_zh
       |FROM sc""".stripMargin

  /** recall@5-vs-brute sweep over nprobe ∈ {1,2,4} for an embeddings
    * relation (shared by sim_probe_sweep and its planted-cluster twin). */
  private def probeSweep(emb: DataFrame): DataFrame = {
    val probe = col("vec_id") < 20
    val brute = Similarity.cosineTopK(emb, probe, 5)
      .select(col("probe_id"), col("cand_id"))
    Seq(1, 2, 4).map(np =>
        Similarity.ivfTopK(emb, probe, k = 5, nprobe = np)
          .withColumn("nprobe", lit(np)))
      .reduce(_.unionAll(_))
      .join(brute, Seq("probe_id", "cand_id"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / 100, 6))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_hits"),
        col("recall"))
      .orderBy(col("nprobe"))
  }

  /** pack_ids' oracle over an arbitrary doc relation `from` (must have
    * doc_id, source, text); `prefix` injects upstream CTEs (e.g. the
    * quality gate of train_corpus_ids). */
  private def packIdsOracle(from: String = "documents",
      prefix: String = ""): String =
    s"""WITH $prefix${bpeEncodeCtes(5, from)},
       |pd AS (SELECT doc_id, count(*) AS n_ids FROM enc GROUP BY 1),
       |laid AS (
       |  SELECT d.doc_id, d.source,
       |    SUM(pd.n_ids) OVER (PARTITION BY d.source ORDER BY d.doc_id)
       |      - pd.n_ids AS tok_start
       |  FROM $from d JOIN pd ON d.doc_id = pd.doc_id
       |),
       |placed AS (
       |  SELECT l.source, e.doc_id, e.tok_id,
       |    l.tok_start + e.pos AS gpos,
       |    CAST(floor((l.tok_start + e.pos) / 64.0) AS BIGINT) AS seq_id
       |  FROM enc e JOIN laid l ON e.doc_id = l.doc_id
       |)
       |SELECT source, seq_id, doc_id,
       |  CAST(min(gpos) - seq_id * 64 AS BIGINT) AS off_start,
       |  CAST(count(*) AS BIGINT) AS n_ids,
       |  string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY gpos) AS ids
       |FROM placed
       |GROUP BY 1, 2, 3
       |ORDER BY source, seq_id, off_start""".stripMargin

  /** The planted-cluster embedding relation as a DuckDB CTE (the SQL
    * twin of Similarity.plantedEmbeddings — same integer hash chain,
    * same dyadic rationals, so the float32 cast on the Spark side is
    * value-identical to this double arithmetic). */
  private val plantedCte: String =
    """pemb AS (
      |  SELECT vec_id, label,
      |    list_transform(range(1, 65), d ->
      |      CAST((((((vec_id % 7) + 1) * 2654435761 + d * 40503)
      |               % 2147483647 % 2001 - 1000) / 1024.0
      |          + (((vec_id * 31 + d) * 2654435761 + 7919)
      |               % 2147483647 % 4097 - 2048) / 2048.0) AS DOUBLE)) AS embedding
      |  FROM embeddings
      |)""".stripMargin

  /** sample_weighted_k's oracle (shared verbatim with the shard-merge
    * twin). */
  // shared by dedup_ngram_jaccard and its forced-path twins: the three
  // physical plans (adaptive gate, forced prefix filter, sorted-merge
  // verify) must all land on this one relation
  private lazy val ngramJaccardOracleSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(text) >= 3
       |         THEN list_distinct(list_transform(range(1, len(text) - 1), i -> ${ph("text[i:i+2]")}))
       |         ELSE [${ph("text")}] END AS ng
       |  FROM documents
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  ROUND(len(list_intersect(a.ng, b.ng)) * 1.0 / len(list_distinct(a.ng || b.ng)), 6) AS jaccard
       |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.ng, b.ng)) * 1.0 / len(list_distinct(a.ng || b.ng)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  private lazy val weightedKOracleSql: String =
    s"""WITH u AS (
       |  SELECT doc_id, source,
       |    (${ph("'sample:' || CAST(doc_id AS VARCHAR)")}
       |      * ((1 * 2654435761) % 2147483647)
       |      + (1 * 40503) % 2147483647) % 2147483647 AS pu,
       |    greatest(CAST(length(text) AS BIGINT), 1) AS w
       |  FROM documents
       |), p AS (
       |  SELECT doc_id, source,
       |    CAST((pu * 1000000) // w AS BIGINT) AS priority
       |  FROM u
       |)
       |SELECT doc_id, source, priority, sample_rank FROM (
       |  SELECT doc_id, source, priority,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY priority, doc_id) AS BIGINT) AS sample_rank
       |  FROM p
       |) WHERE sample_rank <= 7 ORDER BY source, sample_rank""".stripMargin

  /** The BMP pixel-synthesis → perceptual-hash CTE chain ending in
    * `hsh(id2, phash)` over `ids(doc_id, id2)` (payloads repeat mod
    * 97) — shared by mm_phash_dups and the streaming gate twin. */
  private val phashCtes: String =
    """ids AS (
      |  SELECT doc_id, doc_id % 97 AS id2 FROM documents
      |), dims AS (
      |  SELECT DISTINCT id2, 4 + id2 % 5 AS w, 3 + id2 % 4 AS h FROM ids
      |), px AS (
      |  SELECT d.id2, y.y * d.w + x.x AS pos,
      |    (d.id2 * 31 + x.x * 7 + y.y * 13) % 256
      |      + 2 * ((d.id2 * 17 + x.x * 3 + y.y * 5) % 256)
      |      + 4 * ((x.x + y.y * 11) % 256) AS v
      |  FROM dims d
      |  JOIN (SELECT unnest(range(0, 9)) AS x) x ON x.x < d.w
      |  JOIN (SELECT unnest(range(0, 7)) AS y) y ON y.y < d.h
      |), agg AS (
      |  SELECT id2, CAST(sum(v) AS BIGINT) AS total,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM px GROUP BY 1
      |), hsh AS (
      |  SELECT p.id2,
      |    CAST(SUM(CASE WHEN p.v * a.n > a.total
      |      THEN (CAST(1 AS BIGINT) << CAST(p.pos AS INTEGER)) ELSE 0 END)
      |      AS BIGINT) AS phash
      |  FROM px p JOIN agg a USING (id2) GROUP BY 1
      |)""".stripMargin

  /** cdc_apply's oracle (shared verbatim with the streamed twin). */
  private lazy val cdcApplyOracleSql: String =
    s"""WITH log AS (
       |  SELECT doc_id, 0 AS version, 'I' AS op, text FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1, 'U', text || ' updated' FROM documents
       |  WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id, 2, 'D', NULL FROM documents WHERE doc_id % 7 = 0
       |), latest AS (
       |  SELECT doc_id, version, op, text,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY version DESC)
       |      AS rk
       |  FROM log
       |)
       |SELECT doc_id, CAST(version AS BIGINT) AS version,
       |  ${ph("text")} AS text_hash
       |FROM latest WHERE rk = 1 AND op <> 'D'
       |ORDER BY doc_id""".stripMargin

  /** sketch_heavy_hitters's oracle (shared verbatim with the
    * streamed-grid twin). */
  private lazy val heavyHittersOracleSql: String =
    s"""WITH tok AS (SELECT unnest($toksSql) AS word FROM documents),
       |tot AS (SELECT count(*) AS n FROM tok)
       |SELECT word AS item, count(*) AS freq, (SELECT n FROM tot) AS total_items
       |FROM tok GROUP BY 1
       |HAVING count(*) * 40 >= (SELECT n FROM tot)
       |ORDER BY item""".stripMargin

  /** sketch_cms_dot's oracle (shared verbatim with the streamed-grids
    * twin). */
  private lazy val cmsDotOracleSql: String =
    s"""WITH w AS (
       |  SELECT source AS src, unnest($toksSql) AS word FROM documents
       |), ks AS (
       |  SELECT unnest(range(0, 4)) AS k
       |), cells AS (
       |  SELECT src, k, (${ph("word")} * (((k+1) * 2654435761) % 2147483647)
       |      + ((k+1) * 40503) % 2147483647) % 2147483647 % 1024 AS cell,
       |    count(*) AS n
       |  FROM w, ks GROUP BY 1, 2, 3
       |), dk AS (
       |  SELECT a.src AS source_a, b.src AS source_b, a.k,
       |    CAST(sum(a.n * b.n) AS BIGINT) AS d
       |  FROM cells a JOIN cells b
       |    ON a.k = b.k AND a.cell = b.cell AND a.src < b.src
       |  GROUP BY 1, 2, 3
       |), est AS (
       |  SELECT source_a, source_b, CAST(min(d) AS BIGINT) AS est_dot
       |  FROM dk GROUP BY 1, 2
       |), wc AS (
       |  SELECT src, word, count(*) AS n FROM w GROUP BY 1, 2
       |), ex AS (
       |  SELECT a.src AS source_a, b.src AS source_b,
       |    CAST(sum(a.n * b.n) AS BIGINT) AS exact_dot
       |  FROM wc a JOIN wc b ON a.word = b.word AND a.src < b.src
       |  GROUP BY 1, 2
       |)
       |SELECT e.source_a, e.source_b, e.est_dot,
       |  COALESCE(x.exact_dot, 0) AS exact_dot
       |FROM est e LEFT JOIN ex x USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin

  /** sketch_kmv's oracle (shared verbatim with the streamed-sketch
    * twin). */
  private lazy val kmvOracleSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT event_type,
       |    (${ph("'kmv:' || CAST(user_id AS VARCHAR)")}
       |      * ((1 * 2654435761) % 2147483647)
       |      + (1 * 40503) % 2147483647) % 2147483647 AS h
       |  FROM events
       |), r AS (
       |  SELECT event_type, h,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |  FROM h
       |), agg AS (
       |  SELECT event_type, CAST(max(rk) AS BIGINT) AS n_min,
       |    max(CASE WHEN rk = 64 THEN h END) AS h_k
       |  FROM r WHERE rk <= 64 GROUP BY 1
       |), ex AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact
       |  FROM events GROUP BY 1
       |)
       |SELECT agg.event_type, ex.exact, agg.n_min,
       |  CASE WHEN agg.n_min < 64 THEN CAST(agg.n_min AS DOUBLE)
       |       ELSE ROUND(63.0 * 2147483647 / agg.h_k, 4) END AS kmv_est
       |FROM agg JOIN ex USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** sketch_quantile's oracle (shared verbatim with the streamed-grid
    * twin). */
  private lazy val quantileOracleSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    least(greatest(CAST(floor((value - 0.0) / 4.0) AS INT), 0), 127) AS bin,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), c AS (
      |  SELECT event_type, bin,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_values,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum
      |  FROM b
      |)
      |SELECT event_type, max(n_values) AS n_values,
      |  min(CASE WHEN cum >= ceil(0.5 * n_values) THEN bin END) AS p50_bin,
      |  ROUND((min(CASE WHEN cum >= ceil(0.5 * n_values) THEN bin END) + 1) * 4.0 + 0.0, 6) AS p50_est,
      |  min(CASE WHEN cum >= ceil(0.95 * n_values) THEN bin END) AS p95_bin,
      |  ROUND((min(CASE WHEN cum >= ceil(0.95 * n_values) THEN bin END) + 1) * 4.0 + 0.0, 6) AS p95_est
      |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin

  /** sketch_freq_cms's oracle (shared verbatim with the
    * streaming-maintained grid twin). */
  private lazy val cmsOracleSql: String =
    s"""WITH w AS (
       |  SELECT unnest($toksSql) AS word FROM documents
       |), ks AS (
       |  SELECT unnest(range(0, 4)) AS k
       |), cells AS (
       |  SELECT k, (${ph("word")} * (((k+1) * 2654435761) % 2147483647)
       |      + ((k+1) * 40503) % 2147483647) % 2147483647 % 1024 AS cell,
       |    count(*) AS n
       |  FROM w, ks GROUP BY 1, 2
       |), probes AS (
       |  SELECT unnest(['spark','table','join','merge','the','window',
       |                 'data','query']) AS word
       |), pc AS (
       |  SELECT word, k, (${ph("word")} * (((k+1) * 2654435761) % 2147483647)
       |      + ((k+1) * 40503) % 2147483647) % 2147483647 % 1024 AS cell
       |  FROM probes, ks
       |), ex AS (
       |  SELECT word, count(*) AS exact FROM w GROUP BY 1
       |)
       |SELECT p.word, CAST(min(COALESCE(c.n, 0)) AS BIGINT) AS est,
       |  CAST(COALESCE(min(e.exact), 0) AS BIGINT) AS exact
       |FROM pc p LEFT JOIN cells c ON p.k = c.k AND p.cell = c.cell
       |LEFT JOIN ex e ON p.word = e.word
       |GROUP BY p.word ORDER BY p.word""".stripMargin

  /** HyperLogLog (64 registers, ranks 1..26) of the user ids of `from`
    * per `keys`, the columns that `select` projects next to the hash:
    * `h`, the bucket/word split `b`, register ranks `r`, occupancy and
    * the sum of 2^(26-rank) in `agg`, and in `est` the estimate with the
    * small-range (linear counting) correction, `hll_est`. */
  private def hllCtes(keys: String, select: String = "",
      from: String = "events"): String = {
    val rhoCase = (0 until 25)
      .map(i => s"WHEN w >= ${1L << (24 - i)} THEN ${i + 1}")
      .mkString(" ")
    val termCase = (1 to 26)
      .map(m => s"WHEN $m THEN ${1L << (26 - m)}")
      .mkString(" ")
    val n = keys.split(",").length
    def ords(k: Int) = (1 to k).mkString(", ")
    s"""h AS (
       |  SELECT ${if (select.isEmpty) keys else select},
       |    (${ph("'hll:' || CAST(user_id AS VARCHAR)")}
       |      * ((1 * 2654435761) % 2147483647)
       |      + (1 * 40503) % 2147483647) % 2147483647 AS h
       |  FROM $from
       |), b AS (
       |  SELECT $keys, h % 64 AS bucket, h // 64 AS w FROM h
       |), r AS (
       |  SELECT $keys, bucket,
       |    max(CASE $rhoCase ELSE 26 END) AS m_j
       |  FROM b GROUP BY ${ords(n + 1)}
       |), agg AS (
       |  SELECT $keys, count(*) AS occupied,
       |    SUM(CASE m_j $termCase END) AS s_present
       |  FROM r GROUP BY ${ords(n)}
       |), est AS (
       |  SELECT $keys, occupied,
       |    CASE WHEN e_raw <= 160 AND occupied < 64
       |         THEN ROUND(64.0 * ln(64.0 / (64 - occupied)), 4)
       |         ELSE ROUND(e_raw, 4) END AS hll_est
       |  FROM (SELECT *, CAST(0.709 AS DOUBLE) * 64 * 64 * 67108864.0
       |      / (s_present + (64 - occupied) * 67108864) AS e_raw FROM agg)
       |)""".stripMargin
  }

  /** The HLL estimate per (event_type, time bucket `b` = `bucket`) next
    * to the exact distinct user count. */
  private def hllPerBucketSql(b: String, bucket: String): String =
    s"""WITH ${hllCtes(s"event_type, $b", s"event_type, $bucket AS $b")},
       |ex AS (
       |  SELECT event_type, $bucket AS $b,
       |    count(DISTINCT user_id) AS exact
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT est.event_type, est.$b, ex.exact,
       |  CAST(occupied AS BIGINT) AS occupied, hll_est
       |FROM est JOIN ex ON est.event_type = ex.event_type AND est.$b = ex.$b
       |ORDER BY est.event_type, est.$b""".stripMargin

  /** sketch_hll's oracle (shared verbatim with the streaming-maintained
    * register twin). */
  private lazy val hllOracleSql: String =
    s"""WITH ${hllCtes("event_type")},
       |ex AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact
       |  FROM events GROUP BY 1
       |)
       |SELECT est.event_type, ex.exact,
       |  CAST(occupied AS BIGINT) AS occupied, hll_est
       |FROM est JOIN ex ON est.event_type = ex.event_type
       |ORDER BY est.event_type""".stripMargin

  /** sketch_hll_sliding's oracle: the window estimate computed DIRECTLY
    * from each day's trailing-7-calendar-day event set (dense day
    * domain per topic), so the hash match proves the register-store
    * route (daily registers max-merged across the sliding window)
    * equals direct estimation. */
  private lazy val hllSlidingOracleSql: String =
    s"""WITH e AS (
       |  SELECT event_type, user_id,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
       |  FROM events
       |), sp AS (
       |  SELECT event_type, min(day) AS d0, max(day) AS d1
       |  FROM e GROUP BY 1
       |), days AS (
       |  SELECT sp.event_type, CAST(u.d AS DATE) AS day
       |  FROM sp, unnest(generate_series(CAST(sp.d0 AS TIMESTAMP),
       |    CAST(sp.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)
       |), wins AS (
       |  SELECT d.event_type, d.day, e.user_id
       |  FROM days d JOIN e ON e.event_type = d.event_type
       |    AND e.day BETWEEN d.day - 6 AND d.day
       |), ${hllCtes("event_type, day", from = "wins")},
       |ex AS (
       |  SELECT event_type, day, count(DISTINCT user_id) AS exact7
       |  FROM wins GROUP BY 1, 2
       |)
       |SELECT est.event_type, est.day, ex.exact7,
       |  CAST(est.occupied AS BIGINT) AS occupied, hll_est
       |FROM est JOIN ex ON est.event_type = ex.event_type
       |  AND est.day = ex.day
       |ORDER BY est.event_type, est.day""".stripMargin

  /** Trigram Kneser–Ney CTE chain ending in `kn3(w1, w2, w3, c123,
    * c12, n1p_fwd, n1p_bwd, t_types, p_kn)` plus the tokenized corpus
    * `w(doc_id, t)` (shared by lm_kn_trigram and lm_kn3_score). */
  private def kn3CtesOver(from: String): String =
    s"""w AS (
       |  SELECT doc_id, $toksSql AS t FROM $from
       |), t0 AS (
       |  SELECT unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
       |  FROM w WHERE len(t) >= 3
       |), tri AS (
       |  SELECT string_split(trigram, ' ')[1] AS w1,
       |    string_split(trigram, ' ')[2] AS w2,
       |    string_split(trigram, ' ')[3] AS w3, count(*) AS c123
       |  FROM t0 GROUP BY 1, 2, 3
       |), ctx AS (
       |  SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12,
       |    count(*) AS n1p_fwd
       |  FROM tri GROUP BY 1, 2
       |), cont AS (
       |  SELECT w3, count(*) AS n1p_bwd FROM tri GROUP BY 1
       |), ty AS (SELECT count(*) AS t_types FROM tri),
       |kn3 AS (
       |  SELECT w1, w2, w3, c123, c12, n1p_fwd, n1p_bwd, t_types,
       |    round((CAST(c123 AS DOUBLE) - 0.75) / CAST(c12 AS DOUBLE)
       |      + 0.75 * CAST(n1p_fwd AS DOUBLE) / CAST(c12 AS DOUBLE)
       |        * (CAST(n1p_bwd AS DOUBLE) / CAST(t_types AS DOUBLE)), 6)
       |      AS p_kn
       |  FROM tri JOIN ctx USING (w1, w2) JOIN cont USING (w3)
       |    CROSS JOIN ty
       |)""".stripMargin

  /** The pcaPower CTE chain through `v3(i, v)` plus the lattice table
    * `q(vec_id, dim, q)` (shared by emb_pca, its planted twin, and the
    * emb_pca_project readout). */
  private def pcaChainCtes(from: String): String = {
    s"""q AS (
       |  SELECT vec_id, d.d AS dim,
       |    CAST(floor(CAST(embedding[d.d + 1] AS DOUBLE) * 1000000) AS BIGINT)
       |      AS q
       |  FROM $from, (SELECT unnest(range(0, 64)) AS d) d
       |), gm AS (
       |  SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS gsum
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2
       |), g AS (
       |  SELECT i, j, (CASE WHEN gsum < 0 THEN -1 ELSE 1 END)
       |    * (abs(gsum) // 10000000) AS g
       |  FROM gm
       |), v0 AS (
       |  SELECT unnest(range(0, 64)) AS i, CAST(1000000 AS BIGINT) AS v
       |),
       |${powerIterCtes("g", "u", "m", "v")}""".stripMargin
  }

  /** Three power-iteration steps on the lattice matrix `g` from the
    * vector `<v>0`: products `<u>k`, scales `<m>k` and the rescaled
    * vectors `<v>1`..`<v>3`. */
  private def powerIterCtes(g: String, u: String, m: String, v: String): String =
    (1 to 3).map { k =>
      s"""$u$k AS (
         |  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS u
         |  FROM $g JOIN $v${k - 1} v ON g.j = v.i GROUP BY 1
         |), $m$k AS (
         |  SELECT greatest(max(abs(u)) // 1000000, 1) AS md FROM $u$k
         |), $v$k AS (
         |  SELECT i, (CASE WHEN u < 0 THEN -1 ELSE 1 END)
         |    * (abs(u) // md) AS v
         |  FROM $u$k, $m$k
         |)""".stripMargin
    }.mkString(",\n")

  /** The full deflation chain of pca2OracleBody (through comp 1 = v3
    * and comp 2 = pv3), WITHOUT a final select — shared with the
    * whitening oracle, which keeps deriving from both eigenvectors. */
  private def pca2ChainAll(from: String): String = {
    pcaChainCtes(from) +
      s""",
         |u4 AS (
         |  SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS u
         |  FROM g JOIN v3 v ON g.j = v.i GROUP BY 1
         |), wq AS (
         |  SELECT i, (CASE WHEN u < 0 THEN -1 ELSE 1 END)
         |    * (abs(u) // 1000000) AS w
         |  FROM u4
         |), sv AS (
         |  SELECT CAST(SUM(v.v * w.w) AS BIGINT) AS s,
         |    greatest(CAST(SUM(v.v * v.v) AS BIGINT), 1) AS vv
         |  FROM v3 v JOIN wq w ON v.i = w.i
         |), ac AS (
         |  SELECT (CASE WHEN s < 0 THEN -1 ELSE 1 END)
         |      * (abs(s) // vv) AS a,
         |    greatest(vv // 1000000, 1) AS dv
         |  FROM sv
         |), g2 AS (
         |  SELECT g.i, g.j,
         |    g.g - (CASE WHEN a * vi.v * vj.v < 0 THEN -1 ELSE 1 END)
         |        * (abs(a * vi.v * vj.v) // dv) AS g
         |  FROM g JOIN v3 vi ON g.i = vi.i JOIN v3 vj ON g.j = vj.i
         |    CROSS JOIN ac
         |), pv0 AS (
         |  SELECT unnest(range(0, 64)) AS i, CAST(1000000 AS BIGINT) AS v
         |),
         |${powerIterCtes("g2 g", "p", "pm", "pv")}""".stripMargin
  }

  /** Deflation + second power loop over [[pcaChainCtes]]'s g/v3 —
    * mirrors Similarity.pcaTop2's integer arithmetic step for step
    * (every div operand non-negative via the sign/abs spelling). */
  private def pca2OracleBody(from: String, prefix: String): String =
    prefix + pca2ChainAll(from) +
      s"""
         |SELECT CAST(1 AS BIGINT) AS comp_id, CAST(i AS BIGINT) AS dim,
         |  v AS comp, ROUND(v / 1000000.0, 6) AS loading FROM v3
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), CAST(i AS BIGINT), v,
         |  ROUND(v / 1000000.0, 6) FROM pv3
         |ORDER BY comp_id, dim""".stripMargin

  /** emb_whiten's oracle: projections onto v3/pv3, bucketed, variance
    * on the integer lattice, isqrt by the same 24-step bit descent the
    * Scala side unrolls, then the whitened division — every
    * negative-operand div in the sign/abs spelling. */
  private def whitenOracleBody(from: String): String = {
    val isqrtSteps = ((23 to 0 by -1).zipWithIndex).map { case (b, idx) =>
      val step = 1L << b
      s"""s${idx + 1} AS (
         |  SELECT comp_id, var_s,
         |    CASE WHEN (r + $step) * (r + $step) <= var_s
         |      THEN r + $step ELSE r END AS r
         |  FROM s$idx)""".stripMargin
    }.mkString(",\n")
    "WITH " + pca2ChainAll(from) +
      s""",
         |pj AS (
         |  SELECT q.vec_id, CAST(1 AS BIGINT) AS comp_id,
         |    CAST(SUM(q.q * v.v) AS BIGINT) AS proj
         |  FROM q JOIN v3 v ON q.dim = v.i GROUP BY 1
         |  UNION ALL
         |  SELECT q.vec_id, CAST(2 AS BIGINT),
         |    CAST(SUM(q.q * v.v) AS BIGINT)
         |  FROM q JOIN pv3 v ON q.dim = v.i GROUP BY 1
         |), pb AS (
         |  SELECT vec_id, comp_id, (CASE WHEN proj < 0 THEN -1 ELSE 1 END)
         |    * (abs(proj) // 10000000) AS pb
         |  FROM pj
         |), st AS (
         |  SELECT comp_id, count(*) AS n, CAST(sum(pb) AS BIGINT) AS sp,
         |    CAST(sum(pb * pb) AS BIGINT) AS sp2
         |  FROM pb GROUP BY 1
         |), s0 AS (
         |  SELECT comp_id,
         |    greatest(sp2 // n
         |      - ((CASE WHEN sp < 0 THEN -1 ELSE 1 END) * (abs(sp) // n))
         |      * ((CASE WHEN sp < 0 THEN -1 ELSE 1 END) * (abs(sp) // n)),
         |      1) AS var_s,
         |    CAST(0 AS BIGINT) AS r
         |  FROM st
         |),
         |$isqrtSteps
         |SELECT pb.vec_id, pb.comp_id, pb.pb,
         |  (CASE WHEN pb.pb < 0 THEN -1 ELSE 1 END)
         |    * ((abs(pb.pb) * 1000) // greatest(s24.r, 1)) AS w
         |FROM pb JOIN s24 ON pb.comp_id = s24.comp_id
         |ORDER BY pb.vec_id, pb.comp_id""".stripMargin
  }

  /** emb_pca's oracle: the 3-step integer power iteration unrolled as
    * CTEs over a `(vec_id, embedding)` relation (shared with the
    * planted-cluster twin — `prefix` carries the WITH head so the
    * planted relation's CTE can be prepended). */
  private def pcaOracleBody(from: String, prefix: String): String =
    prefix + pcaChainCtes(from) +
      s"""
         |SELECT CAST(i AS BIGINT) AS dim, v AS comp,
         |  ROUND(v / 1000000.0, 6) AS loading
         |FROM v3 ORDER BY dim""".stripMargin

  /** sim_probe_sweep's oracle body (shared with the planted twin). */
  private val probeSweepOracle: String =
    s"""WITH $ivfDistCtes, assign AS (
        |  SELECT vec_id, cent_id FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
        |), prnk AS (
        |  SELECT vec_id AS probe_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS crk
        |  FROM d WHERE vec_id < 20
        |), np AS (SELECT unnest([1, 2, 4]) AS nprobe),
        |pc AS (
        |  SELECT np.nprobe, p.probe_id, p.cent_id FROM prnk p, np
        |  WHERE p.crk <= np.nprobe
        |), cand AS (
        |  SELECT pc.nprobe, pc.probe_id, a.vec_id AS cand_id
        |  FROM pc JOIN assign a ON a.cent_id = pc.cent_id
        |  WHERE a.vec_id <> pc.probe_id
        |), sc AS (
        |  SELECT cd.nprobe, cd.probe_id, cd.cand_id,
        |    ${cosSql("p.embedding", "c.embedding", 64)} AS cos
        |  FROM cand cd
        |  JOIN embeddings p ON p.vec_id = cd.probe_id
        |  JOIN embeddings c ON c.vec_id = cd.cand_id
        |), ivf AS (
        |  SELECT nprobe, probe_id, cand_id FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY nprobe, probe_id
        |    ORDER BY cos DESC, cand_id) <= 5
        |), bcos AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    ${cosSql("p.embedding", "c.embedding", 64)} AS cos
        |  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
        |  WHERE p.vec_id < 20
        |), brute AS (
        |  SELECT probe_id, cand_id FROM bcos
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cos DESC, cand_id) <= 5
        |)
        |SELECT CAST(nprobe AS BIGINT) AS nprobe, count(*) AS n_hits,
        |  ROUND(count(*) / 100.0, 6) AS recall
        |FROM ivf JOIN brute USING (probe_id, cand_id)
        |GROUP BY 1 ORDER BY nprobe""".stripMargin


  /** Multi-script plant markers: the A marker is
    * precomposed lowercase (é, Cyrillic бета, Greek ω); the B marker is
    * the same text DECOMPOSED (e + U+0301) and UPPER-cased — NFC + the
    * Unicode case fold must land both on one normal form. */
  private val markerA = " caf\u00e9 \u0431\u0435\u0442\u0430 \u03c9"
  private val markerB = " CAFE\u0301 \u0411\u0415\u0422\u0410 \u03a9"

  /** Locale-fold plant pair: lowercase Turkish /
    * German / Greek forms vs their uppercase spellings \u2014 the pair
    * normalizes to one string only if the explicit \u0130/\u0131/\u03a3/\u03c2 table and
    * the \u00df \u2192 ss replace land identically on both engines (both sides
    * \u2192 "\u2026 istanbul kapi strasse \u03bb\u03cc\u03b3\u03bf\u03c3"). */
  private val markerC = " istanbul kap\u0131 stra\u00dfe " +
    "\u03bb\u03cc\u03b3\u03bf\u03c2"
  private val markerD = " \u0130STANBUL KAPI STRASSE " +
    "\u039b\u038c\u0393\u039f\u03a3"

  /** ASCII upper/digits → full-width forms — builds the width-variant
    * plant copies (the normalizer's [[TextAnalysis.FullwidthFrom]] table
    * folds them back). */
  private val fwFrom = (('A' to 'Z') ++ ('0' to '9')).mkString
  private val fwTo = (('A' to 'Z').map(c => (0xFF21 + c - 'A').toChar) ++
    ('0' to '9').map(c => (0xFF10 + c - '0').toChar)).mkString

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The normalizer's planted duplicates (the text_pii planting
    * pattern), byte-different copies that normalize back to the
    * original, so `dedup_normalized` provably finds groups at every scale
    * factor while byte-exact hashing cannot pair them. Every 13th doc is
    * copied upper-cased with trailing bangs. Every 17th is copied twice with non-ASCII
    * markers: copy A appends the precomposed multi-script marker, copy B
    * is the UPPER-cased FULL-WIDTH text plus the DECOMPOSED upper marker;
    * the two normalize to the same string only if NFC, the width fold
    * and the Unicode case fold all land. Every 19th is copied twice with
    * the same base text, one copy carrying the lowercase
    * Turkish/German/Greek marker and the other its uppercase spelling;
    * they co-normalize only through the explicit İ/ı/Σ/ς fold table +
    * ß → ss. */
  private val noisyPlants = Seq(
    Plant(13, 10000000L, concat(upper(col("text")), lit("  !!")),
      "upper(text) || '  !!'"),
    Plant(17, 20000000L, concat(col("text"), lit(markerA)),
      s"text || ${sqlLit(markerA)}"),
    Plant(17, 30000000L, concat(translate(upper(col("text")), fwFrom, fwTo),
      lit(markerB)),
      s"translate(upper(text), ${sqlLit(fwFrom)}, ${sqlLit(fwTo)}) || ${sqlLit(markerB)}"),
    Plant(19, 40000000L, concat(col("text"), lit(markerC)),
      s"text || ${sqlLit(markerC)}"),
    Plant(19, 50000000L, concat(col("text"), lit(markerD)),
      s"text || ${sqlLit(markerD)}"))

  private def noisyDocs(docs: DataFrame): DataFrame =
    noisyPlants.foldLeft(docs.select(col("doc_id"), col("text"))) {
      (acc, p) => acc.unionAll(p.rows(docs))
    }

  private val noisySql = noisyPlants.map(_.rowsSql)
    .mkString("SELECT doc_id, text FROM documents\nUNION ALL\n", "\nUNION ALL\n", "")

  /** The Unicode normalizer's oracle twin: NFC →
    * full-width + locale-exception fold (the identical translate
    * tables, embedded) → Unicode lower → ß → ss → category strip
    * (\p{L}/\p{N} in RE2 ≡ Java regex) → collapse. */
  private val normSql =
    "trim(regexp_replace(regexp_replace(replace(lower(translate(" +
      "nfc_normalize(text), " +
      sqlLit(graft.operators.TextAnalysis.FullwidthFrom +
        graft.operators.TextAnalysis.CaseFoldFrom) + ", " +
      sqlLit(graft.operators.TextAnalysis.FullwidthTo +
        graft.operators.TextAnalysis.CaseFoldTo) +
      ")), 'ß', 'ss'), '[^\\p{L}\\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Kneser–Ney CTE chain ending in `kn(w1, w2, c12, c1, n1p_fwd,
    * n1p_bwd, b_types, p_kn)` plus the tokenized corpus `w(doc_id, t)`
    * (shared by lm_kn_model, lm_kn_score, and — trained over the capped
    * survivor set — curate_daily). */
  private def knCtesOver(from: String): String =
    s"""w AS (
       |  SELECT doc_id, $toksSql AS t FROM $from
       |), b0 AS (
       |  SELECT
       |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
       |  FROM w WHERE len(t) >= 2
       |), bi AS (
       |  SELECT string_split(bigram, ' ')[1] AS w1,
       |    string_split(bigram, ' ')[2] AS w2, count(*) AS c12
       |  FROM b0 GROUP BY 1, 2
       |), l AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, count(*) AS n1p_fwd
       |  FROM bi GROUP BY 1
       |), r AS (
       |  SELECT w2, count(*) AS n1p_bwd FROM bi GROUP BY 1
       |), t AS (SELECT count(*) AS b_types FROM bi),
       |kn AS (
       |  SELECT w1, w2, c12, c1, n1p_fwd, n1p_bwd, b_types,
       |    round((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
       |      + 0.75 * CAST(n1p_fwd AS DOUBLE) / CAST(c1 AS DOUBLE)
       |        * (CAST(n1p_bwd AS DOUBLE) / CAST(b_types AS DOUBLE)), 6) AS p_kn
       |  FROM bi JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
       |)""".stripMargin

  /** The BPE training loop as a DuckDB CTE chain (the SQL twin of
    * Tokenizer.bpeTrain): c0 = per-word-occurrence char symbols encoded
    * with a U+001F separator; each round k has pair counts `p_k`, the
    * (cnt desc, l, r) argmax `b_k`, and the greedily rewritten corpus
    * `c_k` via the SAME scalar-string fold as the Spark side. */
  private def bpeCtes(rounds: Int, withPos: Boolean = false,
      from: String = "documents"): String = {
    val carry = if (withPos) ", wpos" else ""
    val c0 =
      if (withPos)
        s"""c0 AS (
           |  SELECT doc_id, p.pos AS wpos,
           |    array_to_string(string_split(p.w, ''), chr(31)) AS enc
           |  FROM (SELECT doc_id,
           |        unnest(list_transform(range(1, len(t) + 1),
           |          i -> struct_pack(pos := i, w := t[i]))) AS p
           |        FROM (SELECT doc_id, $toksSql AS t FROM $from))
           |)""".stripMargin
      else
        s"""c0 AS (
           |  SELECT doc_id, array_to_string(string_split(w, ''), chr(31)) AS enc
           |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM $from)
           |)""".stripMargin
    val sb = new StringBuilder(c0)
    for (k <- 1 to rounds) {
      sb ++= s""",
         |p$k AS (
         |  SELECT p.l AS l, p.r AS r, count(*) AS cnt
         |  FROM (
         |    SELECT unnest(list_transform(range(1, len(syms)),
         |      i -> struct_pack(l := syms[i], r := syms[i+1]))) AS p
         |    FROM (SELECT string_split(enc, chr(31)) AS syms FROM c${k - 1})
         |  ) GROUP BY 1, 2
         |),
         |b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |c$k AS (
         |  SELECT doc_id$carry,
         |    $bpeMergeSql AS enc
         |  FROM c${k - 1}, b$k b
         |)""".stripMargin
    }
    sb.result()
  }

  /** CTEs `syms(doc_id, wpos, spos, sym)` + `vocab(sym, tok_id)` +
    * `enc(doc_id, pos, tok_id, sym)` over the positioned BPE chain's
    * final corpus `c$rounds` — the SQL twin of Tokenizer.bpeEncode
    * (shared by tokenizer_encode and pack_ids). */
  private def bpeEncodeCtes(rounds: Int, from: String = "documents"): String =
    s"""${bpeCtes(rounds, withPos = true, from)},
       |syms AS (
       |  SELECT doc_id, wpos, u.spos AS spos, u.s AS sym
       |  FROM (SELECT doc_id, wpos,
       |        unnest(list_transform(range(1, len(ss) + 1),
       |          i -> struct_pack(spos := i, s := ss[i]))) AS u
       |        FROM (SELECT doc_id, wpos,
       |              string_split(enc, chr(31)) AS ss FROM c$rounds))
       |),
       |vocab AS (
       |  SELECT sym,
       |    CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS tok_id
       |  FROM (SELECT DISTINCT sym FROM syms)
       |),
       |enc AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, spos)
       |      - 1 AS BIGINT) AS pos,
       |    tok_id, sym
       |  FROM syms JOIN vocab USING (sym)
       |)""".stripMargin

  /** The sampled layout writers' shared SQL pieces: the affine
    * sample priority over the (orderkey, linenumber) row key, and the
    * tail CTE chain (deterministic 1024-row bottom-k sample →
    * within-sample quantile boundaries → count-of-bounds-≤-key file
    * assignment → per-file footer stats). Expects a `pr` CTE exposing
    * (l_partkey, l_suppkey, l_orderkey, l_linenumber, z, pu). */
  private lazy val sampledPuSql: String =
    s"(${ph("'sample:' || CAST(l_orderkey AS VARCHAR) || " +
      "':' || CAST(l_linenumber AS VARCHAR)")}" +
      " * ((1 * 2654435761) % 2147483647)" +
      " + (1 * 40503) % 2147483647) % 2147483647"

  private lazy val sampledLayoutTailSql: String =
    """samp AS (
      |  SELECT z FROM pr
      |  ORDER BY pu, l_orderkey, l_linenumber LIMIT 1024
      |), srt AS (
      |  SELECT z, row_number() OVER (ORDER BY z) - 1 AS r FROM samp
      |), bounds AS (
      |  SELECT z AS bv FROM srt WHERE r % 32 = 0 AND r > 0
      |)
      |SELECT (SELECT count(*) FROM bounds b WHERE b.bv <= pr.z)
      |    AS file_id,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
      |  min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
      |FROM pr GROUP BY 1 ORDER BY file_id""".stripMargin

  /** The xy2d Hilbert descent of Portable.withHilbert, unrolled as 16
    * chained CTEs h0..h16 (final key = h16.d); p.-qualified references
    * pin every x/y/d to the PREVIOUS step (no lateral-alias
    * ambiguity). `carry` columns ride along unchanged. */
  private def hilbertCtes(carry: Seq[String], x0: String, y0: String,
      from: String): String = {
    val n1 = (1L << 16) - 1
    val cols = carry.map(c => s"p.$c").mkString(", ")
    val steps = ((15 to 0 by -1).zipWithIndex).map { case (i, idx) =>
      val s = 1L << i
      val rx = s"(p.x // $s) % 2"
      val ry = s"(p.y // $s) % 2"
      s"""h${idx + 1} AS (
         |  SELECT $cols,
         |    CASE WHEN $ry = 1 THEN p.x
         |         WHEN $rx = 1 THEN $n1 - p.y ELSE p.y END AS x,
         |    CASE WHEN $ry = 1 THEN p.y
         |         WHEN $rx = 1 THEN $n1 - p.x ELSE p.x END AS y,
         |    p.d + ${s * s} * (CASE WHEN $rx = 0 AND $ry = 0 THEN 0
         |      WHEN $rx = 0 THEN 1 WHEN $ry = 0 THEN 3 ELSE 2 END) AS d
         |  FROM h$idx p)""".stripMargin
    }.mkString(",\n")
    s"""h0 AS (
       |  SELECT ${carry.mkString(", ")},
       |    CAST($x0 AS BIGINT) AS x, CAST($y0 AS BIGINT) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM $from
       |),
       |$steps""".stripMargin
  }

  /** The minhash-LSH candidate-pairs pipeline as a reusable CTE chain
    * ending in `pairs(doc_a, doc_b)` (shared by dedup_minhash and
    * dedup_clusters). */
  private def minhashPairsCte(where: String = "",
      from: String = "documents", bands: Int = 4): String = {
    val rows = 16 / bands
    s"""tok AS (
       |  SELECT doc_id, $toksSql AS w, text FROM $from $where
       |), sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 3
       |         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |         ELSE [text] END AS shingles
       |  FROM tok
       |), hs AS (
       |  SELECT doc_id, list_transform(shingles, sg -> ${ph("sg")}) AS hh FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 16), k ->
       |      list_min(list_transform(hh, h -> (h * (((k+1) * 2654435761) % 2147483647)
       |        + ((k+1) * 40503) % 2147483647) % 2147483647))) AS sig
       |  FROM hs
       |), bands AS (
       |  SELECT doc_id, b.band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, $rows), i -> sig[band * $rows + i + 1])),
       |      (a, x) -> (a * 31 + x) % 2147483647) AS bh
       |  FROM sig, (SELECT unnest(range(0, $bands)) AS band) b
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** Σ `term` over the index list `idx` (bound to `i`), left-folded
    * from 0.0 in DOUBLE: the summation order of the native vector
    * kernels, so the float sums match to the last bit. */
  private def foldSql(idx: String, term: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($idx, i -> $term)), (a, x) -> a + x)"
  private def dims(d: Int): String = s"range(1, ${d + 1})"
  /** Every index of `embedding`, 1-based. */
  private val embDims = "range(1, len(embedding) + 1)"
  /** Element i of vector `v` as DOUBLE. */
  private def dbl(v: String): String = s"CAST($v[i] AS DOUBLE)"

  /** Brute-force top-5 of each of the 20 probes (`vec_id < 20`, alias
    * `p`) over every vector `c` that `pairOn` admits, ranked by `score`
    * (descending for a similarity, ties by candidate id) and output
    * rounded as `out`: the exact ground truth of the vector search rows
    * (cosine, L2, inner product, hard negatives). */
  private def bruteTopKSql(score: String, out: String, desc: Boolean,
      cand: String = "cand_id", pairOn: String = "p.vec_id <> c.vec_id"): String = {
    val dir = if (desc) " DESC" else ""
    s"""WITH probes AS (SELECT * FROM embeddings WHERE vec_id < 20),
       |sc AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS $cand,
       |    $score AS score
       |  FROM probes p JOIN embeddings c ON $pairOn
       |)
       |SELECT probe_id, $cand, ROUND(score, 6) AS $out
       |FROM sc
       |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY score$dir, $cand) <= 5
       |ORDER BY probe_id, $out$dir, $cand""".stripMargin
  }
  /** Dot product of the `d`-dim vectors `x` and `y`. */
  private def dotSql(x: String, y: String, d: Int): String =
    foldSql(dims(d), s"${dbl(x)} * ${dbl(y)}")
  /** Euclidean norm of the `d`-dim vector `x`. */
  private def vecNormSql(x: String, d: Int): String = s"sqrt(${dotSql(x, x, d)})"
  /** Cosine of the `d`-dim vectors `x` and `y`. */
  private def cosSql(x: String, y: String, d: Int): String =
    s"${dotSql(x, y, d)}\n      / (${vecNormSql(x, d)} * ${vecNormSql(y, d)})"
  /** Squared L2 distance over i = 1..`d` of the element expressions `xi`
    * and `yi` (DOUBLE, written in terms of `i`). */
  private def l2sqSql(xi: String, yi: String, d: Int): String =
    foldSql(dims(d), s"($xi - $yi) * ($xi - $yi)")

  /** Squared distance of `embedding` to its label's centroid, the
    * per-dim sums `sxs` over `n_label` members. */
  private def centroidSqSql: String = foldSql(embDims,
    "(CAST(embedding[i] AS DOUBLE) - sxs[i] / n_label) * (CAST(embedding[i] AS DOUBLE) - sxs[i] / n_label)")

  /** Coordinate `j` (0-based) of the sign projection of `embedding`,
    * rounded to 6 places: the dot with the ±1 row whose sign hashes
    * (i+1, j+1). */
  private def signProjSql(j: String): String = "round(" +
    foldSql("range(0, len(embedding))", "CAST(embedding[i+1] AS DOUBLE) *\n" +
      s"  (CASE WHEN (((i+1) * ((($j+1) * 2654435761) % 2147483647))\n" +
      s"              + ((($j+1) * 40503) % 2147483647))\n" +
      "             % 2147483647 % 2 = 0\n" +
      "        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)") + ", 6)"

  /** The 8-plane random-hyperplane LSH bucket of `embedding`: bit p is
    * set when the dot with plane p (hash-derived coefficients in
    * [-1, 1]) is positive. */
  private def lshBucketSql: String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), p ->\n" +
      "  CASE WHEN " + foldSql(dims(64), "CAST(embedding[i] AS DOUBLE) *" +
        " (CAST((i * (((p+1) * 2654435761) % 2147483647)" +
        " + ((p+1) * 40503) % 2147483647) % 2147483647 AS DOUBLE) / 2147483647 * 2 - 1)") +
      " > 0\n  THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)), (a, x) -> a + x)"

  /** `b(vec_id, embedding, bucket, prj)`, each vector's LSH bucket and
    * its integer projection on a ninth plane, and `r`, the rank `rk` of
    * `prj` within the bucket: the candidate windows of the kNN graph. */
  private def lshRankCtes: String =
    s"""b AS (
       |  SELECT vec_id, embedding, $lshBucketSql AS bucket,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 65), i ->
       |      CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) *
       |      (((i * (((8+1) * 2654435761) % 2147483647)
       |         + ((8+1) * 40503) % 2147483647) % 2147483647) * 2 - 2147483647)
       |    )), (a, x) -> a + x) AS prj
       |  FROM embeddings
       |), r AS (
       |  SELECT vec_id, embedding, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY prj, vec_id) AS rk
       |  FROM b
       |)""".stripMargin

  /** `cents(cent_id, cent_vec)`, the 8 IVF centroids (every 32nd of the
    * first 256 vectors), and `d(vec_id, cent_id, dist)`, each vector's
    * squared L2 distance to each centroid. */
  private def ivfDistCtes: String =
    s"""cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_vec
       |  FROM embeddings WHERE vec_id % 32 = 0 AND vec_id < 256
       |), d AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ${l2sqSql(dbl("e.embedding"), dbl("c.cent_vec"), 64)} AS dist
       |  FROM embeddings e, cents c
       |)""".stripMargin

  /** Semantic near-dup components: `cos(id_a, id_b, c)`, the cosine of
    * every same-label pair of embeddings, `p`, the pairs at c >= 0.35,
    * and [[componentsCtes]] over `p`. Needs `WITH RECURSIVE`. */
  private def semanticComponentsCtes: String =
    s"""cos AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding", 64)} AS c
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |), p AS (
       |  SELECT id_a, id_b FROM cos WHERE c >= 0.35
       |), ${componentsCtes("p", "id_a", "id_b")}""".stripMargin

  /** One Lloyd round of k-means from the seeds `cents0` over the vectors
    * of `from`: `d1` (distances), `a1` (assignments), `m1` (the
    * decimal-exact member means) and `c1` (the moved centroids; a seed
    * with no member stays put). */
  private def lloydRoundCtes(from: String): String =
    s"""d1 AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |    ${l2sqSql(dbl("e.embedding"), dbl("c.cv"), 64)} AS dist
       |  FROM $from e, cents0 c
       |), a1 AS (
       |  SELECT vec_id, embedding, cent_id FROM d1
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
       |), m1 AS (
       |  SELECT cent_id, i.i - 1 AS pos,
       |    ROUND(CAST(sum(CAST(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE)
       |      AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS mean
       |  FROM a1, (SELECT unnest(range(1, 65)) AS i) i
       |  GROUP BY 1, 2
       |), c1 AS (
       |  SELECT cent_id, list(mean ORDER BY pos) AS cv
       |  FROM (
       |    SELECT c0.cent_id, p.pos,
       |      COALESCE(m.mean, CAST(c0.cv[CAST(p.pos + 1 AS INT)] AS DOUBLE)) AS mean
       |    FROM cents0 c0
       |    CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) p
       |    LEFT JOIN m1 m ON m.cent_id = c0.cent_id AND m.pos = p.pos
       |  ) GROUP BY cent_id
       |)""".stripMargin

  /** The PQ codebook seeds `cents`: every 32nd of the first 256 vectors. */
  private lazy val pqCentsCte: String =
    """cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cv
      |  FROM embeddings WHERE vec_id % 32 = 0 AND vec_id < 256
      |)""".stripMargin

  /** Each vector's distance to each seed in each of the 8 subspaces, as
    * the CTE `name` (after `ss`, over [[pqCentsCte]]). */
  private def pqSubdistCtes(name: String): String =
    s"""ss AS (SELECT unnest(range(0, 8)) AS s),
       |$name AS (
       |  SELECT e.vec_id, ss.s, c.cent_id,
       |    $pqSubDistSql AS dist
       |  FROM embeddings e, ss, cents c
       |)""".stripMargin

  /** [[pqSubdistCtes]] as `subdist`, plus `codes`: each vector's nearest
    * seed per subspace. */
  private lazy val pqCodesCtes: String =
    s"""${pqSubdistCtes("subdist")}, codes AS (
       |  SELECT vec_id, s, cent_id AS code FROM subdist
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cent_id) = 1
       |)""".stripMargin

  /** The IVF lists over the seeds: `fulld` (full-vector distances),
    * `assigned` (each vector's list) and `plists` (the 2 lists each of
    * the 10 probes searches). */
  private lazy val pqListsCtes: String =
    s"""fulld AS (
       |  SELECT e.vec_id, c.cent_id,
       |    ${l2sqSql(dbl("e.embedding"), dbl("c.cv"), 64)} AS dist
       |  FROM embeddings e, cents c
       |), assigned AS (
       |  SELECT vec_id, cent_id FROM fulld
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
       |), plists AS (
       |  SELECT vec_id AS probe_id, cent_id FROM fulld WHERE vec_id < 10
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) <= 2
       |)""".stripMargin

  /** The residual of embedding `e` from seed `c`, as a 64-double list. */
  private def pqResidualSql(e: String): String =
    s"""list_transform(range(1, 65), i ->
       |      CAST($e.embedding[CAST(i AS INT)] AS DOUBLE)
       |        - CAST(c.cv[CAST(i AS INT)] AS DOUBLE))""".stripMargin

  /** The asymmetric distance: `t.dist` summed in subspace order. */
  private def pqAdcSum(t: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list($t.dist ORDER BY $t.s)),
       |      (a, x) -> a + x)""".stripMargin

  /** The 5 nearest candidates of each probe by `adc.ad`. */
  private lazy val pqAdcTop5Sql: String =
    """SELECT probe_id, cand_id, ROUND(ad, 6) AS adc_dist
      |FROM (SELECT * FROM adc
      |      QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY ad, cand_id) <= 5)
      |ORDER BY probe_id, adc_dist, cand_id""".stripMargin

  /** Each vector's PQ code per subspace (with its distance as `err`). */
  private def pqEncodeSql(withErr: Boolean): String =
    s"""WITH $pqCentsCte, ${pqSubdistCtes("d")}
       |SELECT vec_id, CAST(s AS BIGINT) AS subspace, cent_id AS code${
         if (withErr) ",\n  ROUND(dist, 6) AS err" else ""}
       |FROM d
       |QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cent_id) = 1
       |ORDER BY vec_id, subspace""".stripMargin

  /** Squared L2 distance of subvector `ss.s` (8 dims) of `e.embedding`
    * to that of centroid `c.cv`: the PQ subspace distance. */
  private def pqSubDistSql: String = l2sqSql(
    "CAST(e.embedding[ss.s*8+i] AS DOUBLE)", "CAST(c.cv[ss.s*8+i] AS DOUBLE)", 8)

  /** TextAnalysis.quality's score of a token list `w` with the
    * stopwords 'the' and 'a', rounded to 6 places. */
  private def qualitySql: String =
    "ROUND(0.5 * (len(list_distinct(w)) * 1.0 / len(w))" +
      " + 0.3 * (1.0 - len(list_filter(w, t -> list_contains(['the','a'], t))) * 1.0 / len(w))" +
      " + 0.2 * least(len(w) / 100.0, 1.0), 6)"

  /** Connected components of the undirected pairs `from(a, b)`: `e`
    * holds both directions, `reach(src, dst)` its transitive closure and
    * `labels(ldoc, cl)` each node's smallest reachable id, its component
    * label. Needs `WITH RECURSIVE`. */
  private def componentsCtes(from: String = "pairs", a: String = "doc_a",
      b: String = "doc_b"): String =
    s"""e AS (
       |  SELECT $a AS a, $b AS b FROM $from
       |  UNION SELECT $b AS a, $a AS b FROM $from
       |), reach(src, dst) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
       |), labels AS (
       |  SELECT src AS ldoc, min(dst) AS cl FROM reach GROUP BY src
       |)""".stripMargin

  /** The stages of the configured curation over the en/es/fr documents:
    * minhash [[componentsCtes]] (`labels`), the quality score `q(doc_id,
    * quality)`, and the decontamination screen, in which `g` holds each
    * doc's 8-char gram hashes, `bg` the grams of the benchmark split
    * (doc_id % 97 = 0) with df <= 2, and `cont` the other docs sharing
    * one of them. Needs `WITH RECURSIVE`. */
  private def curationCtes: String =
    s"""${minhashPairsCte("WHERE lang IN ('en','es','fr')")},
       |${componentsCtes()}, q AS (
       |  SELECT doc_id, $qualitySql AS quality
       |  FROM (SELECT doc_id, $toksSql AS w FROM documents
       |        WHERE lang IN ('en','es','fr'))
       |), ${contaminationCtes(" WHERE lang IN ('en','es','fr')")}""".stripMargin

  /** One arm of a planted-recall eval: the plant's copies unioned into
    * the corpus, its 16-perm minhash pairs at `bands`, and `label`
    * followed by n_truth, n_caught, n_other and recall against the
    * plant's truth pairs (the SQL twin of `plantedRecall`). */
  private def plantedEvalSql(p: Plant, label: String, bands: Int = 4): String =
    s"""SELECT * FROM (
       |WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  ${p.rowsSql}
       |),
       |${minhashPairsCte(from = "corpus", bands = bands)},
       |truth AS (
       |  ${p.truthSql}
       |),
       |j AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_truth
       |  FROM pairs p
       |  LEFT JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
       |)
       |SELECT $label,
       |  (SELECT count(*) FROM truth) AS n_truth,
       |  CAST(SUM(is_truth) AS BIGINT) AS n_caught,
       |  CAST(SUM(1 - is_truth) AS BIGINT) AS n_other,
       |  ROUND(SUM(is_truth) * 1.0 / (SELECT count(*) FROM truth), 6)
       |    AS recall
       |FROM j)""".stripMargin

  /** Fixed-point PageRank iteration chain (the SQL twin of
    * Graph.pageRankFixed): expects CTEs `ed(src, dst, w)` and
    * `nodes(node)` upstream; emits `ow`, `nn`, `r0` … `r{iters}` with
    * the SAME integer arithmetic (`//` ≡ Spark's `div` on positives). */
  private def pageRankCtes(iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): String = {
    val sb = new StringBuilder(
      s"""ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM ed GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (
         |  SELECT node,
         |    (CAST($scale AS BIGINT) * ${dampDen - dampNum}) // (n * $dampDen) AS base,
         |    CAST($scale AS BIGINT) // n AS rank
         |  FROM nodes, nn
         |)""".stripMargin)
    for (k <- 1 to iters) {
      sb ++= s""",
         |r$k AS (
         |  SELECT b.node, b.base,
         |    b.base + ($dampNum * coalesce(s.in_sum, 0)) // $dampDen AS rank
         |  FROM r0 b LEFT JOIN (
         |    SELECT ed.dst, CAST(SUM((CAST(ed.w AS BIGINT) * r.rank) // ow.out_w) AS BIGINT) AS in_sum
         |    FROM ed JOIN ow USING (src) JOIN r${k - 1} r ON ed.src = r.node
         |    GROUP BY 1
         |  ) s ON b.node = s.dst
         |)""".stripMargin
    }
    sb.result()
  }

  private lazy val baseOracle: Map[String, String] = Map(
    "curate_corpus" ->
      s"""WITH RECURSIVE ${minhashPairsCte()},
         |${componentsCtes()}, q AS (
         |  SELECT doc_id, lang, source,
         |    $qualitySql AS quality
         |  FROM (SELECT doc_id, lang, source, $toksSql AS w FROM documents)
         |), kept AS (
         |  SELECT q.* FROM q LEFT JOIN labels l ON q.doc_id = l.ldoc
         |  WHERE q.quality >= 0.62 AND (l.ldoc IS NULL OR l.cl = q.doc_id)
         |)
         |SELECT lang, source, count(*) AS n_curated,
         |  CAST(ROUND(SUM(CAST(quality AS DECIMAL(8,6))), 4) AS DOUBLE) AS quality_sum
         |FROM kept GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "dedup_exact" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    array_to_string(list_sort(list_distinct($toksSql)), ' ') AS key
         |  FROM documents
         |)
         |SELECT ${ph("key")} AS key_hash, min(doc_id) AS keeper,
         |       count(*) AS n_docs
         |FROM k GROUP BY 1 ORDER BY keeper""".stripMargin,

    "dedup_minhash" ->
      s"""WITH ${minhashPairsCte()}
         |SELECT doc_a, doc_b FROM pairs ORDER BY 1, 2""".stripMargin,

    "dedup_eval" ->
      Seq("tail" -> tailPlant, "half" -> halfPlant).map { case (level, p) =>
        plantedEvalSql(p, s"'$level' AS level")
      }.mkString("", "\nUNION ALL\n", "\nORDER BY level"),

    "dedup_eval_bands" ->
      Seq(2, 4, 8).map { b =>
        plantedEvalSql(halfPlant, s"CAST($b AS BIGINT) AS bands", bands = b)
      }.mkString("", "\nUNION ALL\n", "\nORDER BY bands"),

    "curate_semantic" ->
      s"""WITH RECURSIVE $semanticComponentsCtes, kept AS (
         |  SELECT v.* FROM embeddings v LEFT JOIN labels l ON v.vec_id = l.ldoc
         |  WHERE l.ldoc IS NULL OR l.cl = v.vec_id
         |), ${labelCentroidCtes("kept")}, dist AS (
         |  SELECT vec_id, e.label,
         |    CAST(ROUND(sqrt($centroidSqSql), 6) AS DECIMAL(16,6)) AS d
         |  FROM kept e JOIN cen USING (label)
         |), ds AS (
         |  SELECT label, SUM(d) AS sum_d, count(*) AS n_d FROM dist GROUP BY 1
         |), surv AS (
         |  SELECT dist.vec_id, dist.label FROM dist JOIN ds USING (label)
         |  WHERE d * 50 * n_d <= sum_d * 51
         |), samp AS (
         |  SELECT label, vec_id FROM (
         |    SELECT label, vec_id,
         |      row_number() OVER (PARTITION BY label ORDER BY pu, vec_id) AS rk
         |    FROM (
         |      SELECT label, vec_id,
         |        (${ph("'sample:' || CAST(vec_id AS VARCHAR)")}
         |          * ((1 * 2654435761) % 2147483647)
         |          + (1 * 40503) % 2147483647) % 2147483647 AS pu
         |      FROM surv
         |    )
         |  ) WHERE rk <= 10
         |)
         |SELECT r.label, r.n_raw,
         |  coalesce(kd.n_dedup, 0) AS n_dedup,
         |  coalesce(sv.n_screened, 0) AS n_screened,
         |  coalesce(sp.n_sampled, 0) AS n_sampled
         |FROM (SELECT label, count(*) AS n_raw FROM embeddings GROUP BY 1) r
         |LEFT JOIN (SELECT label, count(*) AS n_dedup FROM kept GROUP BY 1) kd
         |  USING (label)
         |LEFT JOIN (SELECT label, count(*) AS n_screened FROM surv GROUP BY 1) sv
         |  USING (label)
         |LEFT JOIN (SELECT label, count(*) AS n_sampled FROM samp GROUP BY 1) sp
         |  USING (label)
         |ORDER BY label""".stripMargin,

    "vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS word FROM documents)
         |  GROUP BY 1
         |), c AS (
         |  SELECT cnt,
         |    SUM(cnt) OVER (ORDER BY cnt DESC, word
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM counts
         |), t AS (
         |  SELECT CAST(SUM(cnt) AS BIGINT) AS tot, count(*) AS n_words
         |  FROM counts
         |)
         |SELECT max(n_words) AS n_words, max(tot) AS n_tokens,
         |  CAST(SUM(CASE WHEN cum * 2 < tot THEN 1 ELSE 0 END) + 1
         |    AS BIGINT) AS n_cover_50,
         |  CAST(SUM(CASE WHEN cum * 10 < tot * 9 THEN 1 ELSE 0 END) + 1
         |    AS BIGINT) AS n_cover_90,
         |  CAST(SUM(CASE WHEN cum * 100 < tot * 99 THEN 1 ELSE 0 END) + 1
         |    AS BIGINT) AS n_cover_99
         |FROM c, t""".stripMargin,

    "source_overlap_sketch" ->
      s"""WITH $sourceSlotsCtes
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_match,
         |  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16
         |    AS est_jaccard
         |FROM slots a JOIN slots b
         |  ON a.slot = b.slot AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_minhash_est" ->
      s"""WITH ${minhashPairsCte()}
         |SELECT p.doc_a, p.doc_b,
         |  CAST(list_sum(list_transform(range(1, 17), i ->
         |    CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT)
         |    AS n_match,
         |  CAST(list_sum(list_transform(range(1, 17), i ->
         |    CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
         |    / 16 AS est_jaccard
         |FROM pairs p
         |JOIN sig sa ON p.doc_a = sa.doc_id
         |JOIN sig sb ON p.doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_graph_triangles" ->
      s"""WITH ${minhashEdgeCtes("ed")}, tri AS (
         |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
         |  FROM ed e1
         |  JOIN ed e2 ON e1.b = e2.a
         |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
         |), nodes AS (
         |  SELECT ta AS d FROM tri
         |  UNION ALL SELECT tb FROM tri
         |  UNION ALL SELECT tc FROM tri
         |), deg AS (
         |  SELECT d, count(*) AS degree FROM (
         |    SELECT a AS d FROM ed UNION ALL SELECT b AS d FROM ed)
         |  GROUP BY 1
         |), tpd AS (
         |  SELECT d, count(*) AS n_tri FROM nodes GROUP BY 1
         |)
         |SELECT deg.d AS doc_id, deg.degree,
         |  CAST(coalesce(tpd.n_tri, 0) AS BIGINT) AS n_tri
         |FROM deg LEFT JOIN tpd ON deg.d = tpd.d
         |ORDER BY doc_id""".stripMargin,

    "graph_kcore" ->
      s"""WITH ${minhashEdgeCtes("ed0")}, keep1 AS (
         |  SELECT d FROM (SELECT a AS d FROM ed0 UNION ALL SELECT b FROM ed0)
         |  GROUP BY 1 HAVING count(*) >= 2
         |), ed1 AS (
         |  SELECT a, b FROM ed0
         |  WHERE a IN (SELECT d FROM keep1) AND b IN (SELECT d FROM keep1)
         |), keep2 AS (
         |  SELECT d FROM (SELECT a AS d FROM ed1 UNION ALL SELECT b FROM ed1)
         |  GROUP BY 1 HAVING count(*) >= 2
         |), ed2 AS (
         |  SELECT a, b FROM ed1
         |  WHERE a IN (SELECT d FROM keep2) AND b IN (SELECT d FROM keep2)
         |), keep3 AS (
         |  SELECT d FROM (SELECT a AS d FROM ed2 UNION ALL SELECT b FROM ed2)
         |  GROUP BY 1 HAVING count(*) >= 2
         |), ed3 AS (
         |  SELECT a, b FROM ed2
         |  WHERE a IN (SELECT d FROM keep3) AND b IN (SELECT d FROM keep3)
         |)
         |SELECT d AS doc_id, count(*) AS degree
         |FROM (SELECT a AS d FROM ed3 UNION ALL SELECT b FROM ed3)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "dedup_graph_suggest" ->
      s"""WITH ${minhashEdgeCtes("ed")}, adj AS (
         |  SELECT a AS y, b AS x FROM ed
         |  UNION ALL SELECT b AS y, a AS x FROM ed
         |), cn AS (
         |  SELECT l.x AS doc_a, r.x AS doc_b, count(*) AS common
         |  FROM adj l JOIN adj r ON l.y = r.y AND l.x < r.x
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, common FROM cn
         |WHERE common >= 1 AND NOT EXISTS
         |  (SELECT 1 FROM ed WHERE a = doc_a AND b = doc_b)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_threshold_sweep" ->
      s"""WITH ${minhashPairsCte()},
         |est AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(list_sum(list_transform(range(1, 17), i ->
         |      CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS BIGINT)
         |      AS n_match
         |  FROM pairs p
         |  JOIN sig sa ON p.doc_a = sa.doc_id
         |  JOIN sig sb ON p.doc_b = sb.doc_id
         |), th AS (
         |  SELECT t.t_match, e.doc_a, e.doc_b
         |  FROM est e, (SELECT CAST(unnest([4, 6, 8, 10, 12]) AS BIGINT)
         |    AS t_match) t
         |  WHERE e.n_match >= t.t_match
         |), np AS (
         |  SELECT t_match, count(*) AS n_pairs FROM th GROUP BY 1
         |), nd AS (
         |  SELECT t_match, count(DISTINCT d) AS n_docs FROM (
         |    SELECT t_match, doc_a AS d FROM th
         |    UNION ALL SELECT t_match, doc_b AS d FROM th)
         |  GROUP BY 1
         |)
         |SELECT np.t_match, np.n_pairs, nd.n_docs
         |FROM np JOIN nd ON np.t_match = nd.t_match
         |ORDER BY np.t_match""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH $lshRankCtes, pr AS (
        |  SELECT p.vec_id AS ia, c.vec_id AS ib,
        |    ${cosSql("p.embedding", "c.embedding", 64)} AS cos
        |  FROM r p JOIN r c ON p.bucket = c.bucket
        |    AND c.rk > p.rk AND c.rk <= p.rk + 16
        |), cos AS (
        |  SELECT ia AS src, ib AS dst, cos FROM pr
        |  UNION ALL
        |  SELECT ib AS src, ia AS dst, cos FROM pr
        |), edges AS (
        |  SELECT src, dst FROM cos
        |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) <= 5
        |), od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
        |idg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY 1),
        |mu AS (
        |  SELECT e1.src, count(*) AS n_mutual
        |  FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
        |  GROUP BY 1
        |)
        |SELECT v.vec_id,
        |  coalesce(od.out_deg, 0) AS out_deg,
        |  coalesce(idg.in_deg, 0) AS in_deg,
        |  coalesce(mu.n_mutual, 0) AS n_mutual
        |FROM embeddings v
        |LEFT JOIN od ON v.vec_id = od.src
        |LEFT JOIN idg ON v.vec_id = idg.dst
        |LEFT JOIN mu ON v.vec_id = mu.src
        |ORDER BY v.vec_id""".stripMargin,

    // the same rank/pair chain swept over window arms {4, 8, 16}: a
    // pair carries its rank gap, each arm keeps gap <= arm, per-(arm,
    // src) top-5 by cosine, then per-arm edge/mutual counts
    "sim_knn_window_sweep" ->
      s"""WITH $lshRankCtes, pr AS (
        |  SELECT p.vec_id AS ia, c.vec_id AS ib, c.rk - p.rk AS gap,
        |    ${cosSql("p.embedding", "c.embedding", 64)} AS cos
        |  FROM r p JOIN r c ON p.bucket = c.bucket
        |    AND c.rk > p.rk AND c.rk <= p.rk + 16
        |), arms AS (
        |  SELECT CAST(win AS BIGINT) AS win FROM (VALUES (4), (8), (16)) t(win)
        |), cos AS (
        |  SELECT a.win, ia AS src, ib AS dst, cos FROM pr, arms a WHERE pr.gap <= a.win
        |  UNION ALL
        |  SELECT a.win, ib AS src, ia AS dst, cos FROM pr, arms a WHERE pr.gap <= a.win
        |), edges AS (
        |  SELECT win, src, dst FROM cos
        |  QUALIFY row_number() OVER (PARTITION BY win, src ORDER BY cos DESC, dst) <= 5
        |), ne AS (SELECT win, count(*) AS n_edges FROM edges GROUP BY 1),
        |mu AS (
        |  SELECT e1.win, count(*) AS n_mutual
        |  FROM edges e1 JOIN edges e2
        |    ON e1.win = e2.win AND e1.src = e2.dst AND e1.dst = e2.src
        |  GROUP BY 1
        |)
        |SELECT a.win, COALESCE(ne.n_edges, 0) AS n_edges,
        |  COALESCE(mu.n_mutual, 0) AS n_mutual
        |FROM arms a
        |LEFT JOIN ne ON a.win = ne.win
        |LEFT JOIN mu ON a.win = mu.win
        |ORDER BY a.win""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashPairsCte()},
         |${componentsCtes()}
         |SELECT ldoc AS doc_id, cl AS cluster, ldoc = cl AS is_keeper
         |FROM labels ORDER BY doc_id""".stripMargin,

    "dedup_keeper_quality" ->
      s"""WITH RECURSIVE ${minhashPairsCte()},
         |${componentsCtes()}, q AS (
         |  SELECT doc_id,
         |    $qualitySql AS quality
         |  FROM (SELECT doc_id, $toksSql AS w FROM documents)
         |), j AS (
         |  SELECT l.ldoc AS doc_id, l.cl AS cluster, q.quality,
         |    row_number() OVER (PARTITION BY l.cl
         |      ORDER BY q.quality DESC NULLS LAST, l.ldoc) AS rk
         |  FROM labels l JOIN q ON q.doc_id = l.ldoc
         |)
         |SELECT doc_id, cluster, quality, CAST(rk = 1 AS INT) AS is_keeper
         |FROM j ORDER BY doc_id""".stripMargin,

    "dedup_apply" ->
      s"""WITH RECURSIVE ${minhashPairsCte()},
         |${componentsCtes()}
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN l.ldoc IS NULL OR l.cl = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN l.ldoc IS NOT NULL AND l.cl <> d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.ldoc
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "dedup_simhash" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform($toksSql, tk -> ${ph("tk")}) AS hh
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), j ->
         |      CASE WHEN list_sum(list_transform(hh, h ->
         |        CASE WHEN (h // (CAST(1 AS BIGINT) << j)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), (a, x) -> a + x) AS simhash
         |  FROM th
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hd
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_incremental" ->
      s"""WITH ${minhashPairsCte()}
         |SELECT i.doc_id, min(h.doc_id) AS first_hist_doc,
         |  CAST(count(DISTINCT i.band * 2147483647 + i.bh) AS BIGINT) AS n_buckets
         |FROM bands h JOIN bands i ON h.band = i.band AND h.bh = i.bh
         |WHERE h.doc_id % 10 < 8 AND i.doc_id % 10 >= 8
         |GROUP BY 1 ORDER BY i.doc_id""".stripMargin,

    "dedup_simhash64" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform($toksSql, tk -> ${ph("tk")}) AS lo
         |  FROM documents
         |), h64 AS (
         |  SELECT doc_id, list_transform(lo, l ->
         |    l + ((l * (((32+1) * 2654435761) % 2147483647)
         |          + ((32+1) * 40503) % 2147483647) % 2147483647)
         |        * 2147483648) AS hh
         |  FROM th
         |), sh AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 62), j ->
         |      CASE WHEN list_sum(list_transform(hh, h ->
         |        CASE WHEN (h // (CAST(1 AS BIGINT) << j)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), (a, x) -> a + x) AS simhash
         |  FROM h64
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hd
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_prefix_jaccard" ->
      s"""WITH w AS (
         |  SELECT doc_id, text, $toksSql AS ws FROM documents
         |), g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ws) >= 3
         |         THEN list_distinct(list_transform(range(1, len(ws) - 1),
         |           i -> ${ph("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")}))
         |         ELSE [${ph("text")}] END AS ng
         |  FROM w
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.ng, b.ng)) AS inter_sz,
         |  len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)) AS union_sz
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |WHERE 5 * len(list_intersect(a.ng, b.ng))
         |  >= 4 * (len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)))
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardOracleSql,
    // IDENTICAL SQL — the forced prefix (100 TB) path and the
    // sorted-merge verify path must land on the same relation
    "dedup_ngram_jaccard_prefix" -> ngramJaccardOracleSql,
    "dedup_ngram_jaccard_merge" -> ngramJaccardOracleSql,

    "dedup_embedding" ->
      s"""WITH cos AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosSql("a.embedding", "b.embedding", 64)} AS c
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, ROUND(c, 6) AS cosine
        |FROM cos WHERE c >= 0.35 ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE $semanticComponentsCtes
        |SELECT ldoc AS doc_id, cl AS cluster, ldoc = cl AS is_keeper
        |FROM labels ORDER BY doc_id""".stripMargin,

    "dedup_medoid" ->
      s"""WITH RECURSIVE $semanticComponentsCtes,
        |cl AS (SELECT ldoc AS doc_id, cl AS cluster FROM labels),
        |q AS (
        |  SELECT cl.cluster, em.vec_id, t.i AS dim,
        |    CAST(floor(CAST(em.embedding[t.i] AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM embeddings em JOIN cl ON em.vec_id = cl.doc_id, range(1, 65) t(i)
        |), sums AS (
        |  SELECT cluster, dim, CAST(SUM(qv) AS BIGINT) AS s, count(*) AS n
        |  FROM q GROUP BY 1, 2
        |), sc AS (
        |  SELECT q.cluster, q.vec_id,
        |    CAST(SUM(sums.n * q.qv * q.qv - 2 * q.qv * sums.s) AS BIGINT) AS score
        |  FROM q JOIN sums ON q.cluster = sums.cluster AND q.dim = sums.dim
        |  GROUP BY 1, 2
        |), nm AS (
        |  SELECT cluster, count(*) AS n_members FROM cl GROUP BY 1
        |)
        |SELECT cluster, medoid, n_members, score FROM (
        |  SELECT sc.cluster, sc.vec_id AS medoid, nm.n_members, sc.score,
        |    row_number() OVER (PARTITION BY sc.cluster
        |      ORDER BY sc.score, sc.vec_id) AS rk
        |  FROM sc JOIN nm ON sc.cluster = nm.cluster
        |) WHERE rk = 1 ORDER BY cluster""".stripMargin,

    "sim_cosine_topk" ->
      bruteTopKSql(cosSql("p.embedding", "c.embedding", 64), "cosine", desc = true),

    "sim_ivf" ->
      s"""WITH $ivfDistCtes
        |SELECT vec_id, cent_id, ROUND(dist, 6) AS dist
        |FROM d
        |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
        |ORDER BY vec_id""".stripMargin,

    // sample-trained / corpus-assigned IVF: the sample CTE is
    // sample_exact_k's own draw (strata = vec_id % 16, k = 12), seeds
    // the sample's 8 smallest ids, ONE Lloyd round over ONLY the
    // sample (decimal-exact means), then every corpus vector assigns
    // to its nearest sample-trained centroid
    "sim_ivf_sampled" ->
      s"""WITH u AS (
         |  SELECT vec_id, vec_id % 16 AS strata,
         |    (${ph("'sample:' || CAST(vec_id AS VARCHAR)")}
         |      * ((1 * 2654435761) % 2147483647)
         |      + (1 * 40503) % 2147483647) % 2147483647 AS pu
         |  FROM embeddings
         |), sampled AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (PARTITION BY strata
         |      ORDER BY pu, vec_id) AS rk FROM u) WHERE rk <= 12
         |), semb AS (
         |  SELECT e.vec_id, e.embedding
         |  FROM embeddings e JOIN sampled USING (vec_id)
         |), cents0 AS (
         |  SELECT vec_id AS cent_id, embedding AS cv FROM semb
         |  ORDER BY vec_id LIMIT 8
         |), ${lloydRoundCtes("semb")}, d2 AS (
         |  SELECT e.vec_id, c.cent_id,
         |    ${l2sqSql(dbl("e.embedding"), "c.cv[i]", 64)} AS dist
         |  FROM embeddings e, c1 c
         |)
         |SELECT vec_id, cent_id, ROUND(dist, 6) AS dist
         |FROM d2
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
         |ORDER BY vec_id""".stripMargin,

    "sim_probe_sweep" -> probeSweepOracle,

    // same sweep SQL over the planted relation: prepend the pemb CTE and
    // point every embeddings reference at it
    "sim_probe_sweep_planted" ->
      ("WITH " + plantedCte + ",\n"
        + probeSweepOracle.stripPrefix("WITH ")
          .replaceAll("\\bembeddings\\b", "pemb")),

    "sim_ivf_refined" ->
      s"""WITH $ivfDistCtes, a AS (
        |  SELECT vec_id, cent_id FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
        |), x AS (
        |  SELECT a.cent_id, i.i - 1 AS pos,
        |    CAST(CAST(e.embedding[CAST(i.i AS INT)] AS DOUBLE)
        |      AS DECIMAL(27,10)) AS xv
        |  FROM a JOIN embeddings e USING (vec_id),
        |       (SELECT unnest(range(1, 65)) AS i) i
        |)
        |SELECT cent_id, CAST(pos AS BIGINT) AS pos,
        |  count(*) AS n_assigned,
        |  ROUND(CAST(sum(xv) AS DOUBLE) / count(*), 6) AS mean
        |FROM x GROUP BY 1, 2 ORDER BY cent_id, pos""".stripMargin,

    "sim_ann_lsh" ->
      s"""WITH b AS (
        |  SELECT vec_id, $lshBucketSql AS bucket
        |  FROM embeddings
        |)
        |SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "text_langid" -> s"$langidSelectSql ORDER BY doc_id",

    "text_langid_planted" -> {
      val langs = langEvalMarkers.map(_._1)
      val mk = langEvalMarkers.toMap
      def mkList(l: String) = mk(l).map(w => s"'$w'").mkString("[", ",", "]")
      val scores = langs.map(l =>
        s"len(list_filter($toksSql, t -> list_contains(${mkList(l)}, t))) AS score_$l")
        .mkString(",\n    ")
      val pred = langs.init.map { l =>
        val ge = langs.filter(_ != l)
          .map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $ge THEN '$l'"
      }.mkString("\n    ") + s"\n    ELSE '${langs.last}' END"
      s"""WITH $langPlantedCte, sc AS (
         |  SELECT doc_id, lang,
         |    $scores
         |  FROM pl
         |), p AS (
         |  SELECT lang, CASE
         |    $pred AS pred_lang
         |  FROM sc
         |), c AS (
         |  SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2
         |)
         |SELECT lang, pred_lang, n,
         |  round(CAST(n AS DOUBLE)
         |    / (SUM(n) OVER (PARTITION BY lang)), 6) AS share
         |FROM c ORDER BY lang, pred_lang""".stripMargin
    },

    "text_langid_eval" ->
      s"""WITH p AS ($langidSelectSql),
         |j AS (
         |  SELECT d.lang, p.pred_lang FROM p
         |  JOIN documents d ON p.doc_id = d.doc_id
         |), c AS (
         |  SELECT lang, pred_lang, count(*) AS n FROM j GROUP BY 1, 2
         |)
         |SELECT lang, pred_lang, n,
         |  round(CAST(n AS DOUBLE)
         |    / (SUM(n) OVER (PARTITION BY lang)), 6) AS share
         |FROM c ORDER BY lang, pred_lang""".stripMargin,

    "text_langid_profile" ->
      s"""WITH ${langProfileCtes("documents")}
         |SELECT doc_id, profile_lang AS pred_lang, score
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, profile_lang) = 1
         |ORDER BY doc_id""".stripMargin,

    "text_langid_profile_planted" ->
      langProfileConfusionSql(langPlantedCte, "pl", holdout = false),

    "text_langid_profile_holdout" ->
      langProfileConfusionSql(langHoldoutCte, "pl2", holdout = true),

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  ROUND(len(list_distinct(w)) * 1.0 / len(w), 6) AS uniq_ratio,
         |  ROUND(len(list_filter(w, t -> list_contains(['the','a'], t))) * 1.0 / len(w), 6) AS stop_ratio,
         |  ROUND(list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w), 6) AS avg_wlen,
         |  $qualitySql AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS bpe_tokens
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, ${ph("text")} AS fp,
         |  CASE WHEN len(text) >= 8
         |       THEN list_min(list_transform(range(1, len(text) - 6), i -> ${ph("text[i:i+7]")}))
         |       ELSE ${ph("text")} END AS winnow_min
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_gopher" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |r AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
         |    len(w) >= 50 AND len(w) <= 100000 AS r_ntok,
         |    list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w) >= 3.0
         |      AND list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w) <= 10.0 AS r_wlen,
         |    len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) * 1.0 / len(w) >= 0.8 AS r_alpha,
         |    len(list_filter(w, t -> list_contains(['the','a'], t))) >= 2 AS r_stop
         |  FROM t
         |)
         |SELECT doc_id, n_tok, r_ntok, r_wlen, r_alpha, r_stop,
         |  r_ntok AND r_wlen AND r_alpha AND r_stop AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    "curate_funnel" ->
      s"""WITH RECURSIVE $curationCtes, ded AS (
         |  SELECT d.doc_id FROM documents d
         |  LEFT JOIN labels l ON d.doc_id = l.ldoc
         |  WHERE d.lang IN ('en','es','fr')
         |    AND (l.ldoc IS NULL OR l.cl = d.doc_id)
         |), qd AS (
         |  SELECT ded.doc_id FROM ded JOIN q USING (doc_id)
         |  WHERE q.quality >= 0.6
         |)
         |SELECT stage, n_docs FROM (
         |  SELECT '0_input' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT '1_lang', count(*) FROM documents
         |    WHERE lang IN ('en','es','fr')
         |  UNION ALL SELECT '2_dedup', count(*) FROM ded
         |  UNION ALL SELECT '3_quality', count(*) FROM qd
         |  UNION ALL SELECT '4_decontaminated', count(*) FROM qd
         |    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
         |) ORDER BY stage""".stripMargin,

    "curate_configured" ->
      s"""WITH RECURSIVE $curationCtes, clean AS (
         |  SELECT d.doc_id, ${ph("CAST(d.doc_id AS VARCHAR)")} % 8 AS shard,
         |    len($toksSql) AS n_tok
         |$curatedDocsSql
         |)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum
         |FROM clean GROUP BY 1 ORDER BY shard""".stripMargin,

    "curate_split" ->
      s"""WITH RECURSIVE $curationCtes, clean AS (
         |  SELECT d.doc_id, ${ph("CAST(d.doc_id AS VARCHAR)")} % 8 AS shard,
         |    len($toksSql) AS n_tok,
         |    CAST((${ph("'split:' || CAST(d.doc_id AS VARCHAR)")}
         |        * ((1 * 2654435761) % 2147483647) + (1 * 40503) % 2147483647)
         |      % 2147483647 AS DOUBLE) / 2147483647 AS u
         |$curatedDocsSql
         |)
         |SELECT CASE WHEN u < 0.9 THEN 'train'
         |            WHEN u < 0.9 + 0.05 THEN 'valid'
         |            ELSE 'test' END AS split,
         |  shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum
         |FROM clean GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, source, lang
         |FROM documents
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ${ph("CAST(doc_id AS VARCHAR)")}, doc_id) <= 5
         |ORDER BY source, doc_id""".stripMargin,

    "text_winnow" ->
      s"""WITH hs AS (
         |  SELECT doc_id, text,
         |    list_transform(range(1, len(text) - 6), i -> ${ph("text[i:i+7]")}) AS h
         |  FROM documents
         |), fps AS (
         |  SELECT doc_id,
         |    CASE WHEN len(text) < 8 THEN [${ph("text")}]
         |         WHEN len(h) <= 4 THEN [list_min(h)]
         |         ELSE list_distinct(list_transform(range(1, len(h) - 2), i -> list_min(h[i:i+3])))
         |    END AS fps
         |  FROM hs
         |)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM fps ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |b AS (
         |  SELECT doc_id, len(w) AS nw,
         |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
         |  FROM t
         |)
         |SELECT doc_id,
         |  CASE WHEN nw < 2 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(len(bg) AS BIGINT) END AS n_bigrams,
         |  CASE WHEN nw < 2 THEN 0.0
         |       ELSE ROUND((len(bg) - len(list_distinct(bg))) * 1.0 / len(bg), 6)
         |  END AS dup_bigram_frac,
         |  CASE WHEN nw < 2 THEN 0.0
         |       ELSE ROUND(list_max(list_transform(list_distinct(bg),
         |              g -> len(list_filter(bg, x -> x = g)))) * 1.0 / len(bg), 6)
         |  END AS top_bigram_frac
         |FROM b ORDER BY doc_id""".stripMargin,

    "text_pii" ->
      """WITH d AS (
        |  SELECT source,
        |    text || (CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@example.com'
        |                  WHEN doc_id % 3 = 1 THEN ' host 10.0.' || (doc_id % 256) || '.7'
        |                  ELSE '' END) AS t
        |  FROM documents
        |), c AS (
        |  SELECT source,
        |    len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |    len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips
        |  FROM d
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_emails + n_ips > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
        |  CAST(SUM(n_ips) AS BIGINT) AS n_ips
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "mix_upsample" ->
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 2.5
         |         WHEN source = 'src1' THEN 1.25 ELSE 1.0 END AS r,
         |    CAST((${ph("'mix:' || CAST(doc_id AS VARCHAR)")}
         |        * ((1 * 2654435761) % 2147483647) + (1 * 40503) % 2147483647)
         |      % 2147483647 AS DOUBLE) / 2147483647 AS u
         |  FROM documents
         |), n AS (
         |  SELECT doc_id, source, r,
         |    CAST(floor(r) AS BIGINT)
         |      + CASE WHEN u < r - floor(r) THEN 1 ELSE 0 END AS n_copies
         |  FROM m
         |), x AS (
         |  SELECT doc_id, source, r, n_copies,
         |    unnest(range(1, n_copies + 1)) AS copy
         |  FROM n WHERE n_copies > 0
         |)
         |SELECT source, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_rows,
         |  CAST(sum(CASE WHEN copy = 1 AND n_copies > floor(r)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extra
         |FROM x GROUP BY source ORDER BY source""".stripMargin,

    "vocab_merge" ->
      s"""WITH c AS (
         |  SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS word FROM documents)
         |  GROUP BY 1
         |)
         |SELECT word, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, word) - 1 AS BIGINT)
         |    AS vocab_id
         |FROM c WHERE cnt >= 2 ORDER BY vocab_id""".stripMargin,

    "sample_temperature" ->
      s"""WITH cnts AS (
         |  SELECT source, count(*) AS cnt FROM documents GROUP BY source
         |), m AS (SELECT min(cnt) AS min_cnt FROM cnts),
         |k AS (
         |  SELECT d.source,
         |    sqrt(CAST(m.min_cnt AS DOUBLE) / CAST(c.cnt AS DOUBLE)) AS keep_frac,
         |    CAST((${ph("'t2:' || CAST(doc_id AS VARCHAR)")}
         |        * ((1 * 2654435761) % 2147483647) + (1 * 40503) % 2147483647)
         |      % 2147483647 AS DOUBLE) / 2147483647 AS u
         |  FROM documents d JOIN cnts c USING (source) CROSS JOIN m
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN u < keep_frac THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ROUND(MAX(keep_frac), 6) AS keep_frac
         |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "decontaminate" ->
      s"""WITH ${docGramCte()}, bg AS (
         |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
         |), cg AS (
         |  SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0
         |)
         |SELECT cg.doc_id, count(*) AS n_shared
         |FROM cg JOIN bg USING (gram)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "decontaminate_eval" -> {
      val gramSel = "unnest(list_distinct(CASE WHEN len(text) >= 24 " +
        s"""THEN list_transform(range(1, len(text) - 22), i -> ${ph("text[i:i+23]")}) """ +
        s"""ELSE [${ph("text")}] END)) AS gram"""
      val arms = Seq(12, 23, 24, 64).map { l =>
        s"""  SELECT c.doc_id + ${20000000L + l * 1000000L} AS doc_id,
           |    c.text || ' ' || substr(e.text, 10, $l) AS text
           |  FROM corp c, exc e WHERE c.doc_id % 13 = 0""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH bench AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
         |), corp AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |), exc AS (
         |  SELECT text FROM bench ORDER BY doc_id LIMIT 1
         |), planted AS (
         |$arms
         |), u AS (
         |  SELECT doc_id, text FROM corp
         |  UNION ALL SELECT doc_id, text FROM planted
         |), g AS (
         |  SELECT doc_id, $gramSel FROM u
         |), bgr AS (
         |  SELECT $gramSel FROM bench
         |), bg AS (SELECT DISTINCT gram FROM bgr),
         |fl AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)),
         |lv AS (
         |  SELECT doc_id, CASE WHEN doc_id < 20000000 THEN 0
         |    ELSE (doc_id - 20000000) // 1000000 END AS level
         |  FROM u
         |)
         |SELECT CAST(level AS BIGINT) AS level, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  ROUND(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
         |    / count(*), 6) AS catch_rate
         |FROM lv LEFT JOIN fl f USING (doc_id)
         |GROUP BY level ORDER BY level""".stripMargin
    },

    "sketch_kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    (${ph("'kmv:' || CAST(user_id AS VARCHAR)")}
         |      * ((1 * 2654435761) % 2147483647)
         |      + (1 * 40503) % 2147483647) % 2147483647 AS h
         |  FROM events
         |), mkr AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM h
         |), mk AS (SELECT * FROM mkr WHERE rk <= 64),
         |est AS (
         |  SELECT event_type,
         |    CASE WHEN max(rk) < 64 THEN CAST(max(rk) AS DOUBLE)
         |         ELSE ROUND(63.0 * 2147483647
         |           / max(CASE WHEN rk = 64 THEN h END), 4) END AS est
         |  FROM mk GROUP BY 1
         |), pairs AS (
         |  SELECT a.event_type AS key_a, b.event_type AS key_b,
         |    a.est AS est_a, b.est AS est_b
         |  FROM est a JOIN est b ON a.event_type < b.event_type
         |), mem AS (
         |  SELECT p.key_a, p.key_b, m.h FROM pairs p
         |  JOIN mk m ON m.event_type = p.key_a
         |  UNION ALL
         |  SELECT p.key_a, p.key_b, m.h FROM pairs p
         |  JOIN mk m ON m.event_type = p.key_b
         |), mr AS (
         |  SELECT key_a, key_b, h,
         |    row_number() OVER (PARTITION BY key_a, key_b ORDER BY h) AS rk
         |  FROM (SELECT DISTINCT key_a, key_b, h FROM mem)
         |), ue AS (
         |  SELECT key_a, key_b,
         |    CASE WHEN max(rk) < 64 THEN CAST(max(rk) AS DOUBLE)
         |         ELSE ROUND(63.0 * 2147483647
         |           / max(CASE WHEN rk = 64 THEN h END), 4) END AS est_union
         |  FROM (SELECT * FROM mr WHERE rk <= 64) GROUP BY 1, 2
         |)
         |SELECT p.key_a, p.key_b, p.est_a, p.est_b, ue.est_union,
         |  greatest(ROUND(p.est_a + p.est_b - ue.est_union, 4), 0.0)
         |    AS est_intersection,
         |  ROUND(greatest(ROUND(p.est_a + p.est_b - ue.est_union, 4), 0.0)
         |    / ue.est_union, 6) AS est_jaccard
         |FROM pairs p JOIN ue USING (key_a, key_b)
         |ORDER BY key_a, key_b""".stripMargin,

    "sketch_hll" -> hllOracleSql,

    // IDENTICAL SQL to sketch_hll — the streaming register table must
    // estimate exactly what the batch registers do
    "sketch_hll_stream" -> hllOracleSql,

    // direct WEEKLY estimate over events — the Spark side rolls day
    // registers into weeks, so the hash match proves merge ≡ direct
    "sketch_hll_weekly" ->
      hllPerBucketSql("week", "CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)"),

    "sketch_hll_sliding" -> hllSlidingOracleSql,

    "sketch_hll_daily" -> hllPerBucketSql("day", "CAST(CAST(ts AS TIMESTAMP) AS DATE)"),

    // IDENTICAL direct SQL for both the shard-merged and the streamed
    // moments — the hash match IS the proof in each case
    "sketch_moments_stream" ->
      """WITH q AS (
        |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS q
        |  FROM events
        |), a AS (
        |  SELECT event_type, count(*) AS n, CAST(SUM(q) AS BIGINT) AS s1,
        |    CAST(SUM(q * q) AS BIGINT) AS s2
        |  FROM q GROUP BY 1
        |)
        |SELECT event_type, n, s1, s2,
        |  CAST(s1 // n AS BIGINT) AS mean_milli,
        |  CAST(s2 // n - (s1 // n) * (s1 // n) AS BIGINT) AS var_milli2
        |FROM a ORDER BY event_type""".stripMargin,

    "sketch_hll_merge" ->
      s"""WITH ${hllCtes("event_type")}
         |SELECT event_type, CAST(occupied AS BIGINT) AS occupied, hll_est
         |FROM est ORDER BY event_type""".stripMargin,

    "sketch_kmv" -> kmvOracleSql,

    // IDENTICAL SQL to sketch_kmv — the streamed bottom-k state must
    // drain to the batch sketch exactly
    "sketch_kmv_stream" -> kmvOracleSql,

    "sketch_distinct" ->
      s"""WITH sk AS (
         |  SELECT event_type,
         |    count(DISTINCT ${ph("CAST(user_id AS VARCHAR)")} % 256) AS occupied
         |  FROM events GROUP BY event_type
         |), ex AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact
         |  FROM events GROUP BY event_type
         |)
         |SELECT sk.event_type, ex.exact, sk.occupied,
         |  CASE WHEN sk.occupied = 256 THEN CAST('inf' AS DOUBLE)
         |       ELSE ROUND(-256.0 * ln((256 - sk.occupied) / 256), 4) END AS estimate
         |FROM sk JOIN ex ON sk.event_type = ex.event_type
         |ORDER BY sk.event_type""".stripMargin,

    "vec_norms" ->
      s"""SELECT vec_id, label,
        |  ROUND(sqrt(${foldSql(embDims, "CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)")}),
        |    6) AS l2_norm,
        |  len(embedding) AS dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "mm_audio" ->
      s"""WITH $audioEnergyCtes, agg AS (
        |  SELECT doc_id, count(*) AS n_windows, sum(energy) AS total,
        |    max(energy) AS peak_energy
        |  FROM e GROUP BY 1
        |)
        |SELECT e.doc_id, CAST(a.n_windows AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN 2 * a.n_windows * e.energy < a.total
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_quiet,
        |  CAST(min(CASE WHEN e.energy = a.peak_energy THEN e.w_idx END)
        |    AS BIGINT) AS peak_idx,
        |  CAST(a.peak_energy AS BIGINT) AS peak_energy
        |FROM e JOIN agg a ON e.doc_id = a.doc_id
        |GROUP BY e.doc_id, a.n_windows, a.peak_energy
        |ORDER BY e.doc_id""".stripMargin,

    "mm_audio_fingerprint" ->
      s"""WITH $audioEnergyCtes, d AS (
         |  SELECT doc_id, w_idx, energy,
         |    lag(energy) OVER (PARTITION BY doc_id ORDER BY w_idx) AS prev
         |  FROM e
         |)
         |SELECT doc_id, count(*) AS n_windows,
         |  CAST(COALESCE(SUM(CASE WHEN w_idx <= 62 AND energy > prev
         |    THEN CAST(1 AS BIGINT) << CAST(w_idx - 1 AS INT)
         |    ELSE 0 END), 0) AS BIGINT) AS fp
         |FROM d GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "mm_audio_dups" ->
      s"""WITH $audioEnergyCtes, d AS (
         |  SELECT doc_id, w_idx, energy,
         |    lag(energy) OVER (PARTITION BY doc_id ORDER BY w_idx) AS prev
         |  FROM e
         |), f AS (
         |  SELECT doc_id, count(*) AS n_windows,
         |    CAST(COALESCE(SUM(CASE WHEN w_idx <= 62 AND energy > prev
         |      THEN CAST(1 AS BIGINT) << CAST(w_idx - 1 AS INT)
         |      ELSE 0 END), 0) AS BIGINT) AS fp
         |  FROM d GROUP BY 1
         |)
         |SELECT n_windows, fp, min(doc_id) AS keeper, count(*) AS n_clips
         |FROM f GROUP BY 1, 2 HAVING count(*) > 1
         |ORDER BY keeper""".stripMargin,

    "mm_frames" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    unnest(range(0, (len(text) + 63) // 64, 2)) AS frame_idx
         |  FROM documents
         |)
         |SELECT doc_id, frame_idx,
         |  ${ph("substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)")} AS frame_hash
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_scene_cuts" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    unnest(range(0, (len(text) + 63) // 64, 2)) AS frame_idx
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, frame_idx,
         |    ${ph("substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)")}
         |      AS frame_hash
         |  FROM f
         |), d AS (
         |  SELECT doc_id, frame_hash,
         |    lag(frame_hash) OVER (PARTITION BY doc_id ORDER BY frame_idx)
         |      AS prev
         |  FROM h
         |)
         |SELECT doc_id, count(*) AS n_frames,
         |  CAST(SUM(CASE WHEN prev IS NOT NULL AND frame_hash <> prev
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
         |FROM d GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "mm_features" ->
      s"""SELECT doc_id, CAST(len(text) AS BIGINT) AS byte_len,
         |  CAST(len(text) // 256 + 1 AS BIGINT) AS n_frames,
         |  ${ph("substr(text, 1, 16)")} AS header_hash
         |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_resize" ->
      s"""WITH p AS (
         |  SELECT doc_id, text, length(text) AS len,
         |    greatest(1, (length(text) + 63) // 64) AS step
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, (len + step - 1) // step AS n_bytes,
         |    list_reduce(
         |      list_transform(range(0, (len + step - 1) // step),
         |        i -> substr(text, CAST(i * step + 1 AS INT), 1)),
         |      (a, b) -> a || b) AS resized
         |  FROM p
         |)
         |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
         |  ${ph("resized")} AS resized_hash
         |FROM r ORDER BY doc_id""".stripMargin,

    "mm_decode" ->
      s"""WITH ${mediaPixelCtes(withPos = false)}, agg AS (
         |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum
         |  FROM px GROUP BY 1
         |)
         |${mediaRowsSql("agg", "a", "px_sum")}""".stripMargin,

    "sketch_freq_cms" -> cmsOracleSql,

    "sketch_cms_dot" -> cmsDotOracleSql,

    // IDENTICAL SQL to sketch_cms_dot — the streamed per-source grids
    // must equal the batch grids, so the derived dot matches exactly
    "sketch_cms_dot_stream" -> cmsDotOracleSql,

    // IDENTICAL SQL to sketch_freq_cms — the streaming grid must
    // estimate exactly what the batch grid does
    "sketch_freq_cms_stream" -> cmsOracleSql,

    "sketch_quantile" -> quantileOracleSql,

    // IDENTICAL SQL to sketch_quantile — streamed bin counts equal the
    // batch counts, so the readout matches
    "sketch_quantile_stream" -> quantileOracleSql,

    "curate_ingest_stream" ->
      s"""WITH ${docGramCte()}, $bloomHitCtes, cont AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
         |  FROM hit WHERE c = 3 GROUP BY 1
         |), ${classifierCtes(benchHeldOut = true)}
         |SELECT sc.doc_id, sc.lang, sc.n_tok, sc.score,
         |  sc.score > 0 AS pred,
         |  ${ph("CAST(sc.doc_id AS VARCHAR)")} % 16 AS shard,
         |  COALESCE(cont.n_contaminated, 0) AS n_contaminated
         |FROM sc LEFT JOIN cont ON sc.doc_id = cont.doc_id
         |ORDER BY sc.doc_id""".stripMargin,

    "decontaminate_bloom" ->
      s"""WITH ${docGramCte()}, $bloomHitCtes
         |SELECT doc_id, count(*) AS n_maybe_shared
         |FROM hit WHERE c = 3
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "pack_sequences" ->
      s"""WITH $packRunCtes, e AS (
         |  SELECT source, tok_end, tok_end - n_tok AS tok_start,
         |    unnest(range((tok_end - n_tok) // 256, (tok_end - 1) // 256 + 1))
         |      AS seq_id
         |  FROM s
         |)
         |SELECT source, seq_id, count(*) AS n_docs,
         |  CAST(sum(least(tok_end, (seq_id + 1) * 256)
         |    - greatest(tok_start, seq_id * 256)) AS BIGINT) AS n_tokens
         |FROM e GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin,

    "pack_nosplit" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, least(len($toksSql), 256) AS fill
         |  FROM documents WHERE len($toksSql) > 0
         |), c AS (
         |  SELECT source, doc_id, fill, 256 // fill AS k,
         |    row_number() OVER (PARTITION BY source, 256 // fill
         |      ORDER BY fill DESC, doc_id) - 1 AS rk
         |  FROM t
         |)
         |SELECT source, CAST(k AS BIGINT) AS k,
         |  CAST(rk // k AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(fill) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(fill) AS DOUBLE) / 256, 6) AS fill_rate
         |FROM c GROUP BY 1, 2, 3 ORDER BY source, k, bin""".stripMargin,

    "cdc_apply" -> cdcApplyOracleSql,

    // IDENTICAL SQL to cdc_apply — the streamed last-writer state must
    // equal the batch rank-window merge row for row
    "cdc_apply_stream" -> cdcApplyOracleSql,

    "mix_fill_budget" ->
      s"""WITH a AS (
         |  SELECT source, CAST(SUM(len($toksSql)) AS BIGINT) AS avail,
         |    1 + CAST(length(source) % 5 AS BIGINT) AS w
         |  FROM documents GROUP BY 1
         |), tt AS (
         |  SELECT CAST(sum(avail) AS BIGINT) AS total_avail,
         |    CAST(sum(w) AS BIGINT) AS w_total
         |  FROM a
         |), c AS (
         |  SELECT source, avail, w, w_total,
         |    (total_avail * 3) // 5 AS budget,
         |    (avail * 1000000) // w AS ord
         |  FROM a, tt
         |), r AS (
         |  SELECT *,
         |    row_number() OVER (ORDER BY ord, source) AS pos,
         |    budget - (SUM(avail) OVER (ORDER BY ord, source
         |      ROWS UNBOUNDED PRECEDING) - avail) AS rem_prev,
         |    w_total - (SUM(w) OVER (ORDER BY ord, source
         |      ROWS UNBOUNDED PRECEDING) - w) AS w_rem_prev
         |  FROM c
         |), s AS (
         |  SELECT *, avail * w_rem_prev < rem_prev * w AS sat_local FROM r
         |), cut AS (
         |  SELECT pos AS cutpos, rem_prev AS rem_cut,
         |    w_rem_prev AS w_rem_cut
         |  FROM s WHERE NOT sat_local ORDER BY pos LIMIT 1
         |), f AS (
         |  SELECT source, w, avail, budget, s.pos < cut.cutpos AS saturated,
         |    CAST(CASE WHEN s.pos < cut.cutpos THEN avail
         |         ELSE (cut.rem_cut * w) // cut.w_rem_cut END AS BIGINT)
         |      AS alloc
         |  FROM s, cut
         |)
         |SELECT source, w, avail, saturated, alloc,
         |  round(CAST(alloc AS DOUBLE) / budget, 6) AS alloc_share
         |FROM f ORDER BY source""".stripMargin,

    "split_kfold" ->
      s"""WITH k AS (
         |  SELECT doc_id, source, len($toksSql) AS n_tok,
         |    (${ph("'fold:' || CAST(doc_id AS VARCHAR)")}
         |        * ((1 * 2654435761) % 2147483647) + (1 * 40503) % 2147483647)
         |      % 2147483647 % 5 AS fold
         |  FROM documents
         |)
         |SELECT CAST(fold AS BIGINT) AS fold, source,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum,
         |  min(doc_id) AS min_id
         |FROM k GROUP BY 1, 2 ORDER BY fold, source""".stripMargin,

    "text_templates_stream" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0
         |), st AS (
         |  SELECT doc_id,
         |    text || ' req ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM base
         |), k AS (
         |  SELECT doc_id,
         |    ${ph("regexp_replace(text, '[0-9]+', '#', 'g')")} AS tmpl_hash,
         |    CASE WHEN doc_id >= 1000000 THEN 2 ELSE doc_id % 2 END AS b
         |  FROM st
         |), fr AS (
         |  SELECT tmpl_hash, doc_id AS first_doc FROM (
         |    SELECT tmpl_hash, doc_id, row_number() OVER (
         |      PARTITION BY tmpl_hash ORDER BY b, doc_id) AS rn
         |    FROM k) WHERE rn = 1
         |)
         |SELECT d.doc_id, d.tmpl_hash, f.first_doc
         |FROM k d JOIN fr f ON d.tmpl_hash = f.tmpl_hash
         |WHERE d.doc_id <> f.first_doc
         |ORDER BY d.doc_id""".stripMargin,

    "text_templates" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents
         |  WHERE doc_id % 13 = 0
         |), st AS (
         |  SELECT doc_id,
         |    text || ' req ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM corpus
         |), k AS (
         |  SELECT doc_id,
         |    ${ph("regexp_replace(text, '[0-9]+', '#', 'g')")} AS tmpl_hash,
         |    ${ph("text")} AS raw_hash
         |  FROM st
         |)
         |SELECT tmpl_hash, min(doc_id) AS keeper, count(*) AS n_docs,
         |  CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_variants
         |FROM k GROUP BY 1
         |HAVING count(*) > 1 AND count(DISTINCT raw_hash) > 1
         |ORDER BY keeper""".stripMargin,

    "curate_dup_rate" ->
      s"""WITH k AS (
         |  SELECT doc_id, source,
         |    array_to_string(list_sort(list_distinct($toksSql)), ' ') AS key
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, source, ${ph("key")} AS key_hash FROM k
         |), m AS (
         |  SELECT doc_id, source,
         |    min(doc_id) OVER (PARTITION BY key_hash) AS keeper
         |  FROM h
         |), a AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_dups
         |  FROM m GROUP BY 1
         |)
         |SELECT source, n_docs, n_dups,
         |  round(CAST(n_dups AS DOUBLE) / n_docs, 6) AS dup_rate
         |FROM a ORDER BY source""".stripMargin,

    "shard_rebalance" ->
      s"""WITH s AS (
         |  SELECT ${ph("CAST(doc_id AS VARCHAR)")} % 32 AS shard, n_chars
         |  FROM documents
         |), z AS (
         |  SELECT shard, CAST(sum(n_chars) AS BIGINT) AS size
         |  FROM s GROUP BY 1
         |), tt AS (
         |  SELECT CAST(sum(size) AS BIGINT) AS total,
         |    count(*) AS n_shards FROM z
         |), t AS (
         |  SELECT shard, size, total, n_shards,
         |    row_number() OVER (ORDER BY shard) - 1 AS rk
         |  FROM z, tt
         |), e AS (
         |  SELECT shard, size - (total // n_shards
         |    + CASE WHEN rk < total % n_shards THEN 1 ELSE 0 END) AS excess
         |  FROM t
         |), d AS (
         |  SELECT shard AS from_shard, excess,
         |    CAST(sum(excess) OVER (ORDER BY excess DESC, shard
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS d_end
         |  FROM e WHERE excess > 0
         |), r AS (
         |  SELECT shard AS to_shard, -excess AS deficit,
         |    CAST(sum(-excess) OVER (ORDER BY -excess DESC, shard
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r_end
         |  FROM e WHERE excess < 0
         |)
         |SELECT from_shard, to_shard,
         |  CAST(least(d_end, r_end)
         |    - greatest(d_end - excess, r_end - deficit) AS BIGINT) AS moved
         |FROM d JOIN r
         |  ON (d_end - excess) < r_end AND (r_end - deficit) < d_end
         |WHERE least(d_end, r_end)
         |    - greatest(d_end - excess, r_end - deficit) > 0
         |ORDER BY from_shard, to_shard""".stripMargin,

    "pack_efficiency" ->
      s"""WITH $packRunCtes, d AS (
         |  SELECT source, tok_end,
         |    (tok_end - n_tok) // 256 AS first_seq,
         |    (tok_end - 1) // 256 AS last_seq
         |  FROM s
         |), a AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(max(tok_end) AS BIGINT) AS total_tokens,
         |    CAST((max(tok_end) - 1) // 256 + 1 AS BIGINT) AS n_seqs,
         |    CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_split_docs
         |  FROM d GROUP BY 1
         |)
         |SELECT source, n_docs, total_tokens, n_seqs, n_split_docs,
         |  ROUND(total_tokens / (n_seqs * 256.0), 6) AS fill_rate
         |FROM a ORDER BY source""".stripMargin,

    "pack_seqlen_sweep" ->
      s"""WITH $packRunCtes, arms AS (
         |  SELECT CAST(unnest([32, 64, 128, 256]) AS BIGINT) AS seq_len
         |), d AS (
         |  SELECT source, seq_len, tok_end, n_tok,
         |    (tok_end - n_tok) // seq_len AS first_seq,
         |    (tok_end - 1) // seq_len AS last_seq
         |  FROM s, arms
         |), a AS (
         |  SELECT source, seq_len, count(*) AS n_docs,
         |    CAST(max(tok_end) AS BIGINT) AS total_tokens,
         |    CAST((max(tok_end) - 1) // seq_len + 1 AS BIGINT) AS n_seqs,
         |    CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_split_docs
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT source, seq_len, n_docs, total_tokens, n_seqs, n_split_docs,
         |  ROUND(total_tokens * 1.0 / (n_seqs * seq_len), 6) AS fill_rate
         |FROM a ORDER BY source, seq_len""".stripMargin,

    "quality_sweep" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |q AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality
         |  FROM t
         |), tot AS (
         |  SELECT count(*) AS all_docs, CAST(SUM(n_tokens) AS BIGINT) AS all_toks
         |  FROM q
         |), taus AS (
         |  SELECT CAST(unnest([0.5, 0.62, 0.7, 0.8]) AS DOUBLE) AS tau
         |)
         |SELECT tau,
         |  CAST(SUM(CASE WHEN quality >= tau THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN quality >= tau THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS tok_kept,
         |  ROUND(SUM(CASE WHEN quality >= tau THEN 1 ELSE 0 END) * 1.0
         |    / max(all_docs), 6) AS keep_frac,
         |  ROUND(SUM(CASE WHEN quality >= tau THEN n_tokens ELSE 0 END) * 1.0
         |    / max(all_toks), 6) AS tok_frac
         |FROM q, taus, tot
         |GROUP BY tau ORDER BY tau""".stripMargin,

    "lm_unigram_score" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest($toksSql) AS word FROM documents
         |), c AS (
         |  SELECT word, count(*) AS cnt FROM w GROUP BY 1
         |), t AS (
         |  SELECT count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS n_total
         |  FROM c
         |)
         |SELECT doc_id, count(*) AS n_tok,
         |  CAST(sum(cnt) AS BIGINT) AS freq_sum,
         |  CAST(sum(CASE WHEN cnt * n_words < n_total THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_rare,
         |  CAST(sum(cnt) AS DOUBLE) / count(*) AS avg_freq
         |FROM w JOIN c USING (word) CROSS JOIN t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "lm_interp_score" ->
      s"""WITH w AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |), wu AS (
         |  SELECT unnest(t) AS word FROM w
         |), uni AS (
         |  SELECT word, count(*) AS ucnt FROM wu GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(ucnt) AS BIGINT) AS n_total FROM uni
         |), b AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM w WHERE len(t) >= 2
         |), bs AS (
         |  SELECT doc_id, bigram,
         |    string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2
         |  FROM b
         |), bc AS (
         |  SELECT bigram, count(*) AS bcnt FROM b GROUP BY 1
         |), j AS (
         |  SELECT bs.doc_id,
         |    (7 * ((bc.bcnt * 1000) // u1.ucnt)
         |      + 3 * ((u2.ucnt * 1000) // t.n_total)) // 10 AS p
         |  FROM bs JOIN bc USING (bigram)
         |  JOIN uni u1 ON bs.w1 = u1.word
         |  JOIN uni u2 ON bs.w2 = u2.word
         |  CROSS JOIN tot t
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(p) AS BIGINT) AS interp_sum_milli,
         |  CAST(sum(CASE WHEN p < 10 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_improbable
         |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "lm_bigram_score" ->
      s"""WITH w AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |), b AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM w WHERE len(t) >= 2
         |), c AS (
         |  SELECT bigram, count(*) AS cnt FROM b GROUP BY 1
         |), t AS (
         |  SELECT count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_total
         |  FROM c
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(cnt) AS BIGINT) AS freq_sum,
         |  CAST(sum(CASE WHEN cnt * n_types < n_total THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_rare,
         |  CAST(sum(cnt) AS DOUBLE) / count(*) AS avg_freq
         |FROM b JOIN c USING (bigram) CROSS JOIN t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_spans" ->
      spanCountsSql("range(0, len(w) // 16)", "j", "j*16"),

    "dedup_spans_overlap" ->
      spanCountsSql("range(0, len(w) - 16 + 1, 8)", "st", "st"),

    "dedup_spans_cascade" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS w FROM documents
         |), ${spanCandCtes("", "t", "w")},
         |${spanIslandCtes("", "t", "w", cand = true)}
         |$spanIslandRowsSql""".stripMargin,

    "dedup_spans_exact" ->
      s"""WITH $spanPlantedCte, ${spanIslandCtes("", "pl", "t", cand = false)}
         |$spanIslandRowsSql""".stripMargin,

    "dedup_spans_recall" ->
      s"""WITH $spanPlantedCte, ${spanIslandCtes("", "pl", "t", cand = false)}, ex AS (
         |  SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end
         |  FROM isl GROUP BY doc_id, g
         |), ${spanCandCtes("c", "pl", "t")},
         |${spanIslandCtes("c", "pl", "t", cand = true)}, ca AS (
         |  SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end
         |  FROM cisl GROUP BY doc_id, g
         |), flag AS (
         |  SELECT e.span_end - e.span_start + 1 AS span_len,
         |    CASE WHEN EXISTS (SELECT 1 FROM ca c WHERE c.doc_id = e.doc_id
         |      AND c.span_start <= e.span_end AND c.span_end >= e.span_start)
         |      THEN 1 ELSE 0 END AS hit
         |  FROM ex e
         |)
         |SELECT CAST(span_len AS BIGINT) AS span_len,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(*) FILTER (WHERE hit = 0) AS BIGINT) AS n_missed,
         |  round(avg(CAST(hit AS DOUBLE)), 6) AS recall
         |FROM flag GROUP BY span_len
         |ORDER BY span_len""".stripMargin,

    "sim_pq" -> pqEncodeSql(withErr = true),

    "sim_pq_stream" -> pqEncodeSql(withErr = false),

    "sim_pq_books" ->
      s"""WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv,
        |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS ord
        |  FROM embeddings WHERE vec_id % 32 = 0 AND vec_id < 256
        |), ss AS (SELECT unnest(range(0, 8)) AS s),
        |pp AS (SELECT unnest(range(0, 8)) AS pos),
        |d AS (
        |  SELECT e.vec_id, ss.s, c.ord,
        |    $pqSubDistSql AS dist
        |  FROM embeddings e, ss, cents c
        |), a AS (
        |  SELECT vec_id, s, ord FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, ord) = 1
        |), mm AS (
        |  SELECT a.s, a.ord AS code, pp.pos,
        |    ROUND(CAST(sum(CAST(CAST(e.embedding[CAST(a.s*8 + pp.pos + 1 AS INT)]
        |      AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS mean
        |  FROM a JOIN embeddings e ON e.vec_id = a.vec_id, pp
        |  GROUP BY 1, 2, 3
        |), grid AS (
        |  SELECT ss.s, c.ord AS code, pp.pos,
        |    CAST(c.cv[CAST(ss.s*8 + pp.pos + 1 AS INT)] AS DOUBLE) AS init
        |  FROM cents c, ss, pp
        |)
        |SELECT CAST(g.s AS BIGINT) AS subspace, CAST(g.code AS BIGINT) AS code,
        |  CAST(g.pos AS BIGINT) AS pos, COALESCE(m.mean, g.init) AS coord
        |FROM grid g LEFT JOIN mm m
        |  ON m.s = g.s AND m.code = g.code AND m.pos = g.pos
        |ORDER BY subspace, code, pos""".stripMargin,

    "sim_pq_topk" ->
      s"""WITH $pqCentsCte, $pqCodesCtes, adc AS (
        |  SELECT p.vec_id AS probe_id, v.vec_id AS cand_id,
        |    ${pqAdcSum("p")} AS ad
        |  FROM codes v JOIN subdist p ON v.s = p.s AND v.code = p.cent_id
        |  WHERE p.vec_id < 10 AND p.vec_id <> v.vec_id
        |  GROUP BY 1, 2
        |)
        |$pqAdcTop5Sql""".stripMargin,

    "sim_pq_ivf" ->
      s"""WITH $pqCentsCte, $pqListsCtes, $pqCodesCtes, adc AS (
        |  SELECT p.vec_id AS probe_id, v.vec_id AS cand_id,
        |    ${pqAdcSum("p")} AS ad
        |  FROM codes v
        |  JOIN assigned a ON a.vec_id = v.vec_id
        |  JOIN plists pl ON pl.cent_id = a.cent_id
        |  JOIN subdist p ON v.s = p.s AND v.code = p.cent_id
        |    AND p.vec_id = pl.probe_id
        |  WHERE p.vec_id <> v.vec_id
        |  GROUP BY 1, 2
        |)
        |$pqAdcTop5Sql""".stripMargin,

    "sim_pq_residual" ->
      s"""WITH $pqCentsCte, $pqListsCtes, res AS (
        |  SELECT a.vec_id, a.cent_id, ${pqResidualSql("e")} AS r
        |  FROM assigned a
        |  JOIN embeddings e USING (vec_id)
        |  JOIN cents c ON c.cent_id = a.cent_id
        |), ss AS (SELECT unnest(range(0, 8)) AS s),
        |rsub AS (
        |  SELECT res.vec_id, ss.s, c.cent_id AS cb,
        |    ${l2sqSql("res.r[CAST(ss.s*8+i AS INT)]", "CAST(c.cv[CAST(ss.s*8+i AS INT)] AS DOUBLE)", 8)} AS dist
        |  FROM res, ss, cents c
        |), codes AS (
        |  SELECT vec_id, s, cb AS code FROM rsub
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cb) = 1
        |), pres AS (
        |  SELECT pl.probe_id, pl.cent_id, ${pqResidualSql("e")} AS r
        |  FROM plists pl
        |  JOIN embeddings e ON e.vec_id = pl.probe_id
        |  JOIN cents c ON c.cent_id = pl.cent_id
        |), pdt AS (
        |  SELECT p.probe_id, p.cent_id, ss.s, c.cent_id AS cb,
        |    ${l2sqSql("p.r[CAST(ss.s*8+i AS INT)]", "CAST(c.cv[CAST(ss.s*8+i AS INT)] AS DOUBLE)", 8)} AS dist
        |  FROM pres p, ss, cents c
        |), adc AS (
        |  SELECT t.probe_id, v.vec_id AS cand_id,
        |    ${pqAdcSum("t")} AS ad
        |  FROM codes v
        |  JOIN assigned a ON a.vec_id = v.vec_id
        |  JOIN pdt t ON t.cent_id = a.cent_id AND t.s = v.s AND t.cb = v.code
        |  WHERE t.probe_id <> v.vec_id
        |  GROUP BY 1, 2
        |)
        |$pqAdcTop5Sql""".stripMargin,

    "sim_ivf_trained" ->
      s"""WITH cents0 AS (
        |  SELECT vec_id AS cent_id, embedding AS cv
        |  FROM embeddings WHERE vec_id % 32 = 0 AND vec_id < 256
        |), ${lloydRoundCtes("embeddings")}, d2 AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    ${l2sqSql(dbl("e.embedding"), "c.cv[i]", 64)} AS dist
        |  FROM embeddings e, c1 c
        |), a2 AS (
        |  SELECT vec_id, embedding, cent_id FROM d2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) = 1
        |), x AS (
        |  SELECT a2.cent_id, i.i - 1 AS pos,
        |    CAST(CAST(a2.embedding[CAST(i.i AS INT)] AS DOUBLE)
        |      AS DECIMAL(27,10)) AS xv
        |  FROM a2, (SELECT unnest(range(1, 65)) AS i) i
        |)
        |SELECT cent_id, CAST(pos AS BIGINT) AS pos,
        |  count(*) AS n_assigned,
        |  ROUND(CAST(sum(xv) AS DOUBLE) / count(*), 6) AS mean
        |FROM x GROUP BY 1, 2 ORDER BY cent_id, pos""".stripMargin,

    "quality_calibrate" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents
         |), sc AS (
         |  SELECT doc_id, source,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks, t -> (${ph("t")} % 2001) - 1000)),
         |      (a, x) -> a + x) AS score
         |  FROM d
         |), m AS (
         |  SELECT source, median(score) AS med FROM sc GROUP BY 1
         |), a AS (
         |  SELECT sc.doc_id, sc.source, sc.score, m.med
         |  FROM sc JOIN m USING (source)
         |), md AS (
         |  SELECT source, median(abs(score - med)) AS mad FROM a GROUP BY 1
         |)
         |SELECT a.doc_id, a.source, a.score,
         |  ROUND(CASE WHEN md.mad = 0 THEN 0.0
         |        ELSE (a.score - a.med) / md.mad END, 6) AS z,
         |  CASE WHEN md.mad = 0 THEN true
         |       ELSE (a.score - a.med) / md.mad > -1.0 END AS keep
         |FROM a JOIN md USING (source) ORDER BY a.doc_id""".stripMargin,

    "quality_classifier" -> classifierSql(withShard = false),

    // the batch classifier's SQL + the shard key — the streamed
    // projection must land on it exactly
    "quality_classifier_stream" -> classifierSql(withShard = true),

    "train_export" ->
      s"""WITH RECURSIVE ${minhashPairsCte()},
         |${componentsCtes()}, q AS (
         |  SELECT doc_id,
         |    $qualitySql AS quality
         |  FROM (SELECT doc_id, $toksSql AS w FROM documents)
         |), kept AS (
         |  SELECT q.doc_id FROM q LEFT JOIN labels l ON q.doc_id = l.ldoc
         |  WHERE q.quality >= 0.62 AND (l.ldoc IS NULL OR l.cl = q.doc_id)
         |), ${contaminationCtes("")}, clean AS (
         |  SELECT d.doc_id, ${ph("CAST(d.doc_id AS VARCHAR)")} % 16 AS shard,
         |    len($toksSql) AS n_tok
         |  FROM documents d JOIN kept k ON d.doc_id = k.doc_id
         |  WHERE d.doc_id % 97 <> 0
         |    AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         |)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum
         |FROM clean GROUP BY 1 ORDER BY shard""".stripMargin,

    "shard_export" ->
      s"""WITH s AS (
         |  SELECT ${ph("CAST(doc_id AS VARCHAR)")} % 64 AS shard,
         |    doc_id, n_chars
         |  FROM documents
         |)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM s GROUP BY 1 ORDER BY shard""".stripMargin,

    "shard_checksums" ->
      s"""WITH sh AS (
         |  SELECT ${ph("CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         |    ${ph("CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')")} AS h,
         |    len($toksSql) AS ntk
         |  FROM documents
         |)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntk) AS BIGINT) AS n_tok,
         |  bit_xor(h) AS content_xor
         |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin,

    "train_export_sink" ->
      s"""WITH s AS (
         |  SELECT ${ph("CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         |    len($toksSql) AS n_tok
         |  FROM documents
         |)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_sum
         |FROM s GROUP BY 1 ORDER BY shard""".stripMargin,

    "shard_zorder" ->
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
         |    (${zTermsSql("l_partkey")}) AS z
         |  FROM lineitem
         |), ${rankedFileStatsSql("z", "z")}""".stripMargin,

    "shard_zorder_sampled" ->
      s"""WITH pr AS (
         |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
         |    (${zTermsSql("l_partkey")}) AS z, $sampledPuSql AS pu
         |  FROM lineitem
         |), $sampledLayoutTailSql""".stripMargin,

    "shard_hilbert_sampled" ->
      s"""WITH ${hilbertCtes(
            Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
            "l_partkey", "l_suppkey", "lineitem")},
         |pr AS (
         |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
         |    d AS z, $sampledPuSql AS pu
         |  FROM h16
         |), $sampledLayoutTailSql""".stripMargin,

    "shard_hilbert" ->
      s"""WITH ${hilbertCtes(
            Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
            "l_partkey", "l_suppkey", "lineitem")},
         |${rankedFileStatsSql("d", "h16")}""".stripMargin,

    "shard_hilbert_prune" ->
      probePruneSql(s"""${hilbertCtes(
            Seq("pk_bucket", "l_suppkey", "l_orderkey", "l_linenumber"),
            "pk_bucket", "l_suppkey", "z0")},
         |hz AS (
         |  SELECT h16.*, (${zTermsSql("pk_bucket")}) AS z FROM h16
         |)""".stripMargin, "hz", Seq("hilbert" -> "d", "zorder" -> "z")),

    "shard_zorder_prune" ->
      probePruneSql(s"""z2 AS (
         |  SELECT z0.*, (${zTermsSql("pk_bucket")}) AS z FROM z0
         |)""".stripMargin, "z2",
        Seq("zorder" -> "z", "pk_sorted" -> "pk_bucket", "natural" -> "")),

    "dedup_contained" ->
      """WITH d AS (SELECT doc_id, text FROM documents)
        |SELECT a.doc_id AS doc_in, b.doc_id AS doc_out
        |FROM d a JOIN d b
        |  ON substr(a.text, 1, 16) = substr(b.text, 1, 16)
        | AND length(a.text) < length(b.text)
        | AND substr(b.text, 1, CAST(length(a.text) AS INTEGER)) = a.text
        |ORDER BY doc_in, doc_out""".stripMargin,

    // cumulative thresholds written as the same double-arithmetic chain
    // the Spark side folds (0.9, 0.9 + 0.05) so both engines compare u
    // against bit-identical bounds
    "curate_pareto" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    CAST(round($qualitySql * 1000000) AS BIGINT)
         |      AS q_micro,
         |    CAST(len(w) AS BIGINT) AS n_tokens
         |  FROM t WHERE len(w) > 0
         |)
         |SELECT p.doc_id, p.q_micro, p.n_tokens FROM q p
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM q a
         |  WHERE a.q_micro >= p.q_micro AND a.n_tokens >= p.n_tokens
         |    AND (a.q_micro > p.q_micro OR a.n_tokens > p.n_tokens))
         |ORDER BY p.q_micro DESC, p.n_tokens, p.doc_id""".stripMargin,

    "split_temporal" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events
        |), b AS (
        |  SELECT min(day) AS d0, max(day) AS d1 FROM ev
        |), c AS (
        |  SELECT d0 + CAST((date_diff('day', d0, d1) * 4) // 5 AS INT) AS cut
        |  FROM b
        |), g AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_before,
        |    CAST(SUM(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_after
        |  FROM ev, c GROUP BY 1
        |)
        |SELECT user_id, n_before, n_after,
        |  CASE WHEN n_after = 0 THEN 'train'
        |       WHEN n_before = 0 THEN 'valid' ELSE 'straddle' END AS bucket
        |FROM g ORDER BY user_id""".stripMargin,

    "split_assign" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    CAST((${ph("'split:' || CAST(doc_id AS VARCHAR)")}
         |        * ((1 * 2654435761) % 2147483647) + (1 * 40503) % 2147483647)
         |      % 2147483647 AS DOUBLE) / 2147483647 AS u,
         |    len($toksSql) AS n_tok
         |  FROM documents
         |), a AS (
         |  SELECT doc_id, n_tok,
         |    CASE WHEN u < 0.9 THEN 'train'
         |         WHEN u < 0.9 + 0.05 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM k
         |)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_sum, min(doc_id) AS min_id
         |FROM a GROUP BY 1 ORDER BY split""".stripMargin,

    "source_overlap" -> sourceOverlapSql(1),

    "source_overlap_bounded" -> sourceOverlapSql(16),

    "source_overlap_flagged" ->
      s"""WITH $sourceSlotsCtes, flag AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16
         |      AS est_jaccard
         |  FROM slots a JOIN slots b ON a.slot = b.slot AND a.source < b.source
         |  GROUP BY 1, 2
         |  HAVING SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) >= 2
         |), ${sourceGramCtes(1)},
         |sizes AS (SELECT src, count(*) AS n_grams FROM g GROUP BY 1),
         |p AS (
         |  SELECT f.source_a, f.source_b, count(*) AS n
         |  FROM flag f
         |  JOIN g a ON a.src = f.source_a
         |  JOIN g b ON b.src = f.source_b AND a.gram = b.gram
         |  GROUP BY 1, 2
         |)
         |SELECT f.source_a, f.source_b, f.est_jaccard,
         |  CAST(COALESCE(p.n, 0) AS BIGINT) AS n_shared,
         |  ROUND(COALESCE(p.n, 0)
         |    / (sa.n_grams + sb.n_grams - COALESCE(p.n, 0)), 6) AS jaccard
         |FROM flag f
         |LEFT JOIN p USING (source_a, source_b)
         |JOIN sizes sa ON sa.src = f.source_a
         |JOIN sizes sb ON sb.src = f.source_b
         |ORDER BY source_a, source_b""".stripMargin,

    "text_redact" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    text || (CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@example.com'
         |                  WHEN doc_id % 3 = 1 THEN ' host 10.0.' || (doc_id % 256) || '.7'
         |                  ELSE '' END) AS t
         |  FROM documents
         |), r AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
         |      + len(regexp_extract_all(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
         |      AS BIGINT) AS n_redactions,
         |    regexp_replace(
         |      regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
         |      '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS redacted
         |  FROM d
         |)
         |SELECT doc_id, n_redactions, ${ph("redacted")} AS redacted_hash
         |FROM r ORDER BY doc_id""".stripMargin,

    "dsir_select" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source IN ('src0','src1','src2','src3') AS is_target,
         |    unnest($toksSql) AS word
         |  FROM documents
         |), pd AS (
         |  SELECT doc_id, is_target, ${ph("word")} % 64 AS bucket, count(*) AS n
         |  FROM tok GROUP BY 1, 2, 3
         |), bb AS (
         |  SELECT bucket, CAST(SUM(n) AS BIGINT) AS r_n,
         |         CAST(SUM(CASE WHEN is_target THEN n ELSE 0 END) AS BIGINT) AS t_n
         |  FROM pd GROUP BY 1
         |), tot AS (
         |  SELECT CAST(SUM(r_n) AS BIGINT) AS r_tot, CAST(SUM(t_n) AS BIGINT) AS t_tot FROM bb
         |), w AS (
         |  SELECT bucket,
         |    CAST(ROUND(ln(CAST((t_n + 1) * (r_tot + 64) AS DOUBLE)
         |      / CAST((r_n + 1) * (t_tot + 64) AS DOUBLE)), 6) AS DECIMAL(16,6)) AS w
         |  FROM bb, tot
         |)
         |SELECT doc_id,
         |  CAST(SUM(n * w) AS DOUBLE) AS dsir_score,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  SUM(n * w) > 0 AS selected
         |FROM pd JOIN w USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "curate_curriculum" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    $qualitySql AS quality
         |  FROM t WHERE len(w) > 0
         |)
         |SELECT doc_id, quality,
         |  row_number() OVER (ORDER BY quality DESC, doc_id) - 1 AS curriculum_rank
         |FROM q ORDER BY curriculum_rank""".stripMargin,

    "sketch_heavy_hitters" -> heavyHittersOracleSql,

    // IDENTICAL SQL to sketch_heavy_hitters — the streamed grid gates
    // the same exact recount (no false negatives either way)
    "sketch_heavy_hitters_stream" -> heavyHittersOracleSql,

    "emb_centroid" ->
      s"""WITH ${labelCentroidCtes("embeddings")}
        |SELECT vec_id, e.label, n_label,
        |  ROUND(sqrt($centroidSqSql), 6) AS centroid_dist
        |FROM embeddings e JOIN cen USING (label)
        |ORDER BY vec_id""".stripMargin,

    "mix_schedule" ->
      s"""WITH s AS (
         |  SELECT source, CAST(SUM(len($toksSql)) AS BIGINT) AS n_tok
         |  FROM documents GROUP BY 1
         |), pw AS (
         |  SELECT source, n_tok,
         |    CAST(ROUND(sqrt(CAST(n_tok AS DOUBLE)), 6) AS DECIMAL(18,6)) AS pw
         |  FROM s
         |), tot AS (SELECT SUM(pw) AS pw_tot FROM pw),
         |sh AS (
         |  SELECT source, n_tok, pw,
         |    CAST(ROUND(CAST(pw AS DOUBLE) / CAST(pw_tot AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
         |  FROM pw, tot
         |), fl AS (
         |  SELECT source, n_tok, p,
         |    p >= CAST(0.06 AS DECIMAL(18,6)) AS capped
         |  FROM sh
         |), m AS (
         |  SELECT SUM(CASE WHEN capped THEN p - CAST(0.06 AS DECIMAL(18,6))
         |             ELSE CAST(0 AS DECIMAL(18,6)) END) AS excess,
         |         SUM(CASE WHEN NOT capped THEN p
         |             ELSE CAST(0 AS DECIMAL(18,6)) END) AS uncapped
         |  FROM fl
         |)
         |SELECT source, n_tok, CAST(p AS DOUBLE) AS raw_share, capped,
         |  CAST(share AS DOUBLE) AS share,
         |  CAST(FLOOR(CAST(share AS DOUBLE) * 1000000) AS BIGINT) AS alloc_tokens
         |FROM (
         |  SELECT source, n_tok, p, capped,
         |    CASE WHEN capped THEN CAST(0.06 AS DECIMAL(18,6))
         |         ELSE CAST(ROUND(CAST(p AS DOUBLE)
         |           + CAST(excess AS DOUBLE) * CAST(p AS DOUBLE)
         |             / CAST(uncapped AS DOUBLE), 6) AS DECIMAL(18,6)) END AS share
         |  FROM fl, m
         |) ORDER BY source""".stripMargin,

    "tokenizer_bpe" ->
      s"""WITH ${bpeCtes(5)}
         |${(1 to 5).map(k =>
              s"SELECT $k AS round, l AS left_sym, r AS right_sym, cnt FROM b$k")
              .mkString("", "\nUNION ALL ", "")}
         |ORDER BY round""".stripMargin,

    "tokenizer_encode" ->
      s"""WITH ${bpeEncodeCtes(5)}
         |SELECT doc_id, pos, tok_id, sym FROM enc
         |WHERE doc_id % 7 = 0
         |ORDER BY doc_id, pos""".stripMargin,

    // sample-trained / corpus-applied: the training chain (c0..c5 and
    // the b$k argmax pairs) runs over ONLY the exact-k sampled docs
    // (sample_exact_k's own draw at k=50); the corpus-side e-chain
    // applies those sample-trained pairs to the doc_id%7 subset and ids
    // come from the SAMPLE's vocab (LEFT JOIN → NULL for OOV symbols)
    "tokenizer_bpe_sampled" -> {
      val eChain = (1 to 5).map(k =>
        s"""e$k AS (
           |  SELECT doc_id, wpos,
           |    $bpeMergeSql AS enc
           |  FROM e${k - 1}, b$k b
           |)""".stripMargin).mkString(",\n")
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |    (${ph("'sample:' || CAST(doc_id AS VARCHAR)")}
         |      * ((1 * 2654435761) % 2147483647)
         |      + (1 * 40503) % 2147483647) % 2147483647 AS pu
         |  FROM documents
         |), sampled AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY source
         |      ORDER BY pu, doc_id) AS rk FROM u) WHERE rk <= 50
         |), sdocs AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN sampled USING (doc_id)
         |),
         |${bpeCtes(5, withPos = false, from = "sdocs")},
         |ssyms AS (
         |  SELECT unnest(string_split(enc, chr(31))) AS sym FROM c5
         |),
         |vocab AS (
         |  SELECT sym,
         |    CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS tok_id
         |  FROM (SELECT DISTINCT sym FROM ssyms)
         |),
         |e0 AS (
         |  SELECT doc_id, p.pos AS wpos,
         |    array_to_string(string_split(p.w, ''), chr(31)) AS enc
         |  FROM (SELECT doc_id,
         |        unnest(list_transform(range(1, len(t) + 1),
         |          i -> struct_pack(pos := i, w := t[i]))) AS p
         |        FROM (SELECT doc_id, $toksSql AS t FROM documents
         |              WHERE doc_id % 7 = 0))
         |),
         |$eChain,
         |fsyms AS (
         |  SELECT doc_id, wpos, u2.spos AS spos, u2.s AS sym
         |  FROM (SELECT doc_id, wpos,
         |        unnest(list_transform(range(1, len(ss) + 1),
         |          i -> struct_pack(spos := i, s := ss[i]))) AS u2
         |        FROM (SELECT doc_id, wpos,
         |              string_split(enc, chr(31)) AS ss FROM e5))
         |),
         |enc2 AS (
         |  SELECT f.doc_id,
         |    CAST(row_number() OVER (PARTITION BY f.doc_id
         |      ORDER BY f.wpos, f.spos) - 1 AS BIGINT) AS pos,
         |    v.tok_id
         |  FROM fsyms f LEFT JOIN vocab v USING (sym)
         |)
         |SELECT doc_id, pos, tok_id FROM enc2 ORDER BY doc_id, pos""".stripMargin
    },

    "pack_length_hist" ->
      s"""WITH t AS (
         |  SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents
         |)
         |SELECT source,
         |  CAST(CASE WHEN n_tok < 16 THEN 1 WHEN n_tok < 64 THEN 16
         |       WHEN n_tok < 256 THEN 64 WHEN n_tok < 1024 THEN 256
         |       ELSE 1024 END AS BIGINT) AS bucket_lo,
         |  count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
         |FROM t WHERE n_tok > 0
         |GROUP BY 1, 2 ORDER BY source, bucket_lo""".stripMargin,

    "tokenizer_vocab" ->
      s"""WITH ${bpeEncodeCtes(5)}
         |SELECT sym, tok_id FROM vocab ORDER BY tok_id""".stripMargin,

    // the oracle side is the trivial identity — that asymmetry is the
    // point: the engine's whole BPE chain must land back on it
    "tokenizer_roundtrip" ->
      s"""SELECT doc_id, array_to_string($toksSql, '') AS rebuilt
         |FROM documents
         |WHERE len($toksSql) > 0
         |ORDER BY doc_id""".stripMargin,

    "pack_ids" -> packIdsOracle(),

    // the capstone chain: quality gate (curate_corpus's 0.62 bar) →
    // train on SURVIVORS → encode → pack; the oracle replays every
    // stage over the filtered relation
    "train_corpus_ids" -> packIdsOracle(from = "q", prefix =
      s"""q AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      $qualitySql AS quality
         |    FROM (SELECT doc_id, source, text, $toksSql AS w FROM documents)
         |  ) WHERE quality >= 0.62
         |),
         |""".stripMargin),

    "tokenizer_apply" ->
      s"""WITH ${bpeCtes(5)},
         |nch AS (
         |  SELECT doc_id, CAST(SUM(len(string_split(enc, chr(31)))) AS BIGINT) AS n_chars
         |  FROM c0 GROUP BY 1
         |),
         |nsy AS (
         |  SELECT doc_id, CAST(SUM(len(string_split(enc, chr(31)))) AS BIGINT) AS n_symbols
         |  FROM c5 GROUP BY 1
         |)
         |SELECT doc_id, n_chars, n_symbols
         |FROM nch JOIN nsy USING (doc_id) ORDER BY doc_id""".stripMargin,

    "emb_quantize_sq" -> {
      val x = dbl("embedding")
      // the cell centre of x in its dim's 256-cell [min, max] grid
      val q = s"(mns[i] + ((CASE WHEN mxs[i] > mns[i] THEN least(greatest(floor(($x - mns[i])" +
        " / (mxs[i] - mns[i]) * 256), 0), 255) ELSE 0 END) + 0.5) * (mxs[i] - mns[i]) / 256)"
      s"""WITH s AS (
        |  SELECT dim, CAST(min(x) AS DOUBLE) AS mn, CAST(max(x) AS DOUBLE) AS mx
        |  FROM (SELECT unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS dim FROM embeddings)
        |  GROUP BY 1
        |), sl AS (
        |  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM s
        |)
        |SELECT vec_id, label,
        |  ROUND(sqrt(${foldSql(embDims, s"($x - $q) * ($x - $q)")}), 6) AS sq_distortion
        |FROM embeddings, sl
        |ORDER BY vec_id""".stripMargin
    },

    "emb_project" ->
      s"""SELECT vec_id, label, j AS dim,
        |  ${signProjSql("j")} AS val
        |FROM embeddings, (SELECT unnest(range(0, 16)) AS j)
        |ORDER BY vec_id, dim""".stripMargin,

    "emb_pca" -> pcaOracleBody("embeddings", "WITH "),

    // same iteration chain over the planted-cluster relation
    "emb_pca_planted" ->
      pcaOracleBody("pemb", "WITH " + plantedCte + ",\n"),

    "emb_pca2" -> pca2OracleBody("embeddings", "WITH "),

    "emb_whiten" -> whitenOracleBody("embeddings"),

    "emb_pca_project" ->
      s"""WITH ${pcaChainCtes("embeddings")},
         |p AS (
         |  SELECT q.vec_id, CAST(SUM(q.q * v.v) AS BIGINT) AS proj
         |  FROM q JOIN v3 v ON q.dim = v.i GROUP BY 1
         |)
         |SELECT vec_id, proj,
         |  CAST((CASE WHEN proj < 0 THEN -1 ELSE 1 END)
         |    * (abs(proj) // 1000000000000) AS BIGINT) AS proj_bucket
         |FROM p ORDER BY vec_id""".stripMargin,

    "sim_l2_topk" ->
      bruteTopKSql(l2sqSql(dbl("p.embedding"), dbl("c.embedding"), 64), "l2sq",
        desc = false),

    "sim_mips" ->
      bruteTopKSql(dotSql("p.embedding", "c.embedding", 64), "dot", desc = true),

    "sketch_bloom_fpr" ->
      s"""WITH ${docGramCte()}, bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 <> 0),
         |${bloomBitsCte("bg")}, cpos AS (
         |  SELECT gram, unnest($bloomPosSql) AS pos
         |  FROM cg
         |), hit AS (
         |  SELECT gram, count(*) AS c FROM cpos JOIN bpos USING (pos)
         |  GROUP BY 1
         |), t AS (
         |  SELECT cg.gram, cg.gram IN (SELECT gram FROM bg) AS in_bench,
         |    COALESCE(h.c, 0) = 3 AS pos_hit
         |  FROM cg LEFT JOIN hit h USING (gram)
         |), agg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN NOT in_bench THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_tested,
         |    CAST(SUM(CASE WHEN NOT in_bench AND pos_hit THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_false_pos,
         |    CAST(SUM(CASE WHEN in_bench THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_shared
         |  FROM t
         |)
         |SELECT n_tested, n_false_pos,
         |  round(CAST(n_false_pos AS DOUBLE) / n_tested, 6) AS fp_rate,
         |  n_shared, (SELECT count(*) FROM bpos) AS bits_set,
         |  CAST(4096 AS BIGINT) AS m_bits
         |FROM agg""".stripMargin,

    "text_rake" ->
      s"""WITH w0 AS (
         |  SELECT doc_id, p.pos AS pos, p.w AS word
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(range(1, len(t) + 1),
         |        i -> struct_pack(pos := i, w := t[i]))) AS p
         |    FROM (SELECT doc_id, $toksSql AS t FROM documents))
         |), f AS (
         |  SELECT doc_id, pos, word, word IN ('the', 'a') AS is_stop,
         |    CAST(SUM(CASE WHEN word IN ('the', 'a') THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phrase_id
         |  FROM w0
         |), pl AS (
         |  SELECT doc_id, phrase_id, word,
         |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
         |  FROM f WHERE NOT is_stop
         |)
         |SELECT word, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS degree,
         |  round(CAST(sum(plen) AS DOUBLE) / count(*), 6) AS score
         |FROM pl GROUP BY 1 ORDER BY score DESC, word LIMIT 200""".stripMargin,

    "curate_domain_cap" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents
        |) WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    "curate_dq_report" ->
      s"""WITH alld AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM documents GROUP BY 1
         |), t AS (
         |  SELECT source, $toksSql AS w FROM documents
         |), q AS (
         |  SELECT source, CAST(len(w) AS BIGINT) AS n_tok,
         |    $qualitySql AS quality
         |  FROM t WHERE len(w) > 0
         |), sc AS (
         |  SELECT source, count(*) AS n_scored,
         |    ROUND(CAST(SUM(n_tok) AS DOUBLE) / count(*), 6) AS mean_tokens,
         |    ROUND(CAST(SUM(CAST(quality AS DECIMAL(12,6))) AS DOUBLE)
         |      / count(*), 6) AS mean_quality
         |  FROM q GROUP BY 1
         |), lg AS (
         |  SELECT source, lang, count(*) AS ln FROM documents GROUP BY 1, 2
         |), top AS (
         |  SELECT source, lang AS top_lang, ln,
         |    row_number() OVER (PARTITION BY source ORDER BY ln DESC, lang) AS rk
         |  FROM lg
         |)
         |SELECT a.source, a.n_docs, a.total_chars, s.n_scored,
         |  s.mean_tokens, s.mean_quality, t2.top_lang,
         |  ROUND(t2.ln * 1.0 / a.n_docs, 6) AS top_lang_share
         |FROM alld a JOIN sc s ON a.source = s.source
         |JOIN top t2 ON t2.source = a.source AND t2.rk = 1
         |ORDER BY a.source""".stripMargin,

    "quota_gate" ->
      """SELECT doc_id, domain, slot FROM (
        |  SELECT doc_id, source AS domain,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id) AS BIGINT) AS slot
        |  FROM documents
        |) WHERE slot <= 20 ORDER BY domain, slot""".stripMargin,

    // the cross-batch quota relation: admission in (batch, doc id)
    // order, first-20 per domain with 1-based slots
    "quota_gate_multibatch" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |ar AS (
         |  SELECT d.doc_id, d.source AS domain,
         |    d.doc_id + CASE WHEN d.doc_id % 7 = 0
         |      THEN nn.n ELSE 0 END AS arrival
         |  FROM documents d, nn
         |), rk AS (
         |  SELECT doc_id, domain,
         |    row_number() OVER (ORDER BY arrival, doc_id) - 1 AS rk
         |  FROM ar
         |), bt AS (
         |  SELECT doc_id, domain, rk // greatest((nn.n + 4) // 5, 1) AS batch
         |  FROM rk, nn
         |)
         |SELECT doc_id, domain, slot FROM (
         |  SELECT doc_id, domain,
         |    CAST(row_number() OVER (PARTITION BY domain
         |      ORDER BY batch, doc_id) AS BIGINT) AS slot
         |  FROM bt
         |) WHERE slot <= 20 ORDER BY domain, slot""".stripMargin,

    // the cross-batch registry relation: batch = arrival-rank chunk
    // (planted one-chunk redelivery for every 7th doc), first = min doc
    // id within the bucket's EARLIEST batch, later (doc, bucket) pairs
    // collide
    "dedup_gate_multibatch" ->
      s"""WITH ${minhashPairsCte()},
         |nn AS (SELECT count(*) AS n FROM documents),
         |ar AS (
         |  SELECT d.doc_id,
         |    d.doc_id + CASE WHEN d.doc_id % 7 = 0
         |      THEN nn.n ELSE 0 END AS arrival
         |  FROM documents d, nn
         |), rk AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY arrival, doc_id) - 1 AS rk
         |  FROM ar
         |), bt AS (
         |  SELECT doc_id, rk // greatest((nn.n + 4) // 5, 1) AS batch
         |  FROM rk, nn
         |), bk AS (
         |  SELECT b.doc_id,
         |    CAST(b.band AS BIGINT) * 2147483647 + b.bh AS bucket, bt.batch
         |  FROM bands b JOIN bt ON b.doc_id = bt.doc_id
         |), fb AS (
         |  SELECT bucket, min(batch) AS fbatch FROM bk GROUP BY 1
         |), fs AS (
         |  SELECT bk.bucket, min(bk.doc_id) AS first_doc
         |  FROM bk JOIN fb ON bk.bucket = fb.bucket AND bk.batch = fb.fbatch
         |  GROUP BY 1
         |)
         |SELECT b.doc_id, b.bucket, f.first_doc
         |FROM bk b JOIN fs f USING (bucket)
         |WHERE b.doc_id <> f.first_doc
         |ORDER BY doc_id, bucket""".stripMargin,

    // the streaming registry's collision relation: portable minhash
    // banding (same CTE chain as dedup_minhash), bucket = band·M + bh,
    // first = per-bucket min doc id, one row per later (doc, bucket)
    "dedup_gate_stream" ->
      s"""WITH ${minhashPairsCte()},
         |bk AS (
         |  SELECT doc_id, CAST(band AS BIGINT) * 2147483647 + bh AS bucket
         |  FROM bands
         |), fs AS (
         |  SELECT bucket, min(doc_id) AS first_doc FROM bk GROUP BY 1
         |)
         |SELECT b.doc_id, b.bucket, f.first_doc
         |FROM bk b JOIN fs f USING (bucket)
         |WHERE b.doc_id <> f.first_doc
         |ORDER BY doc_id, bucket""".stripMargin,

    "curate_daily" ->
      s"""WITH nm AS (
         |  SELECT doc_id, text, source, n_chars, ${ph("norm")} AS norm_hash FROM (
         |    SELECT doc_id, text, source, n_chars, $normSql AS norm FROM documents
         |  )
         |), keep AS (
         |  SELECT norm_hash, min(doc_id) AS doc_id FROM nm GROUP BY 1
         |), kept AS (
         |  SELECT nm.doc_id, nm.text, nm.source, nm.n_chars
         |  FROM nm JOIN keep ON nm.norm_hash = keep.norm_hash
         |                   AND nm.doc_id = keep.doc_id
         |), capped AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY n_chars DESC, doc_id) AS rk
         |    FROM kept
         |  ) WHERE rk <= 20
         |),
         |${knCtesOver("capped")},
         |db AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM w WHERE len(t) >= 2
         |), sc AS (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(SUM(CASE WHEN p_kn < 0.002 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_improbable
         |  FROM db JOIN kn ON db.bigram = kn.w1 || ' ' || kn.w2
         |  GROUP BY 1
         |), gated AS (
         |  SELECT c.doc_id, c.source, c.text
         |  FROM capped c LEFT JOIN sc ON c.doc_id = sc.doc_id
         |  WHERE sc.n_bigrams IS NULL OR sc.n_improbable * 20 <= sc.n_bigrams
         |), samp AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY source
         |      ORDER BY pu, doc_id) AS rk FROM (
         |      SELECT doc_id, source,
         |        (${ph("'sample:' || CAST(doc_id AS VARCHAR)")}
         |          * ((1 * 2654435761) % 2147483647)
         |          + (1 * 40503) % 2147483647) % 2147483647 AS pu
         |      FROM gated
         |    )
         |  ) WHERE rk <= 3
         |)
         |SELECT g.source,
         |  CASE WHEN s.doc_id IS NOT NULL THEN 'valid' ELSE 'train' END AS split,
         |  count(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS tok_sum
         |FROM gated g LEFT JOIN samp s ON g.doc_id = s.doc_id
         |GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    "sample_exact_k" ->
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |    (${ph("'sample:' || CAST(doc_id AS VARCHAR)")}
         |      * ((1 * 2654435761) % 2147483647)
         |      + (1 * 40503) % 2147483647) % 2147483647 AS pu
         |  FROM documents
         |)
         |SELECT doc_id, source, sample_rank FROM (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY pu, doc_id) AS BIGINT) AS sample_rank
         |  FROM u
         |) WHERE sample_rank <= 7 ORDER BY source, sample_rank""".stripMargin,

    "sample_weighted_k" -> weightedKOracleSql,

    // IDENTICAL SQL to sample_weighted_k — the shard-merged weighted
    // draw must equal the direct draw row for row (bottom-k under any
    // fixed total order merges)
    "sample_weighted_k_merge" -> weightedKOracleSql,

    "lm_kn_model" ->
      s"""WITH ${knCtesOver("documents")}
         |SELECT w1, w2, c12, c1, n1p_fwd, n1p_bwd, b_types, p_kn
         |FROM kn ORDER BY c12 DESC, w1, w2 LIMIT 200""".stripMargin,

    "lm_kn_trigram" ->
      s"""WITH ${kn3CtesOver("documents")}
         |SELECT w1, w2, w3, c123, c12, n1p_fwd, n1p_bwd, t_types, p_kn
         |FROM kn3 ORDER BY c123 DESC, w1, w2, w3 LIMIT 200""".stripMargin,

    "lm_kn3_score" ->
      s"""WITH ${kn3CtesOver("documents")},
         |db AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
         |  FROM w WHERE len(t) >= 3
         |), kt AS (
         |  SELECT w1 || ' ' || w2 || ' ' || w3 AS trigram, p_kn FROM kn3
         |)
         |SELECT doc_id, count(*) AS n_trigrams,
         |  CAST(sum(CASE WHEN p_kn < 0.02 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_improbable,
         |  round(min(p_kn), 6) AS min_p
         |FROM db JOIN kt USING (trigram)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "lm_kn_score" ->
      s"""WITH ${knCtesOver("documents")},
         |db AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM w WHERE len(t) >= 2
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(SUM(CASE WHEN p_kn < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_improbable,
         |  round(min(p_kn), 6) AS min_p
         |FROM db JOIN kn ON db.bigram = kn.w1 || ' ' || kn.w2
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      s"""WITH noisy AS ($noisySql),
         |nm AS (
         |  SELECT doc_id, text, $normSql AS norm FROM noisy
         |)
         |SELECT doc_id, ${ph("norm")} AS norm_hash,
         |  CAST(length(norm) AS BIGINT) AS n_norm, norm <> text AS changed
         |FROM nm ORDER BY doc_id""".stripMargin,

    "dedup_normalized" ->
      s"""WITH noisy AS ($noisySql),
         |nm AS (
         |  SELECT doc_id, $normSql AS norm FROM noisy
         |)
         |SELECT ${ph("norm")} AS norm_hash, min(doc_id) AS keeper,
         |  count(*) AS n_docs
         |FROM nm GROUP BY 1 HAVING count(*) > 1
         |ORDER BY keeper""".stripMargin,

    "text_chunks" ->
      s"""WITH w AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |), ch AS (
         |  SELECT doc_id, off, off // 24 AS chunk_id,
         |    list_slice(t, off + 1, off + 32) AS chunk
         |  FROM (
         |    SELECT doc_id, t, unnest(range(0, len(t), 24)) AS off
         |    FROM w WHERE len(t) > 0
         |  )
         |)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len(chunk) AS BIGINT) AS n_tok,
         |  ${ph("array_to_string(chunk, ' ')")} AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "dedup_chunks" ->
      s"""WITH w AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |), ch AS (
         |  SELECT doc_id, list_slice(t, off + 1, off + 32) AS chunk
         |  FROM (
         |    SELECT doc_id, t, unnest(range(0, len(t), 24)) AS off
         |    FROM w WHERE len(t) > 0
         |  )
         |)
         |SELECT ${ph("array_to_string(chunk, ' ')")} AS chunk_hash,
         |  min(doc_id) AS keeper_doc, count(*) AS n_dups
         |FROM ch GROUP BY 1 HAVING count(*) > 1
         |ORDER BY chunk_hash""".stripMargin,

    "dedup_lines" ->
      s"""WITH $lineCtes
         |$lineCleanSql
         |ORDER BY doc_id""".stripMargin,

    "dedup_lines_support" ->
      s"""WITH $lineCtes
         |SELECT sup, CAST(count(*) AS BIGINT) AS n_distinct_lines
         |FROM sup GROUP BY sup ORDER BY sup""".stripMargin,

    "dedup_lines_registry" ->
      s"""WITH $lineCtes
         |SELECT line, sup FROM sup ORDER BY line""".stripMargin,

    "dedup_lines_intra" ->
      s"""WITH ${lineSplitCtes(s"$lineHeader $lineHeader ", "ln")}, v AS (
         |  SELECT doc_id, n_lines, line_id, line,
         |    row_number() OVER (PARTITION BY doc_id, line
         |      ORDER BY line_id) = 1 AS keep
         |  FROM ln
         |)
         |SELECT doc_id, n_lines,
         |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |  COALESCE(array_to_string(
         |    list(line ORDER BY line_id) FILTER (WHERE keep), ' '), '')
         |    AS text_clean
         |FROM v GROUP BY doc_id, n_lines ORDER BY doc_id""".stripMargin,

    "dedup_lines_sweep" ->
      s"""WITH $lineCtes,
         |arms AS (SELECT unnest([2, 3, 5]) AS min_support)
         |SELECT a.min_support,
         |  CAST(count(DISTINCT CASE WHEN s.sup >= a.min_support
         |    THEN ln.doc_id END) AS BIGINT) AS docs_affected,
         |  CAST(sum(CASE WHEN s.sup >= a.min_support THEN 1 ELSE 0 END)
         |    AS BIGINT) AS lines_stripped,
         |  CAST(sum(CASE WHEN s.sup >= a.min_support
         |    THEN len(list_filter(string_split(ln.line, ' '), t -> t <> ''))
         |    ELSE 0 END) AS BIGINT) AS tok_removed
         |FROM ln JOIN sup s USING (line) CROSS JOIN arms a
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_lines_stored" ->
      s"""WITH ${lineSplitCtes(s"$lineHeader ", "lnall")}, sup_old AS (
         |  SELECT line, count(DISTINCT doc_id) AS sup FROM lnall
         |  WHERE doc_id % 2 = 0 GROUP BY line
         |), ln AS (SELECT * FROM lnall WHERE doc_id % 2 = 1),
         |sup_new AS (
         |  SELECT line, count(DISTINCT doc_id) AS sup FROM ln GROUP BY line
         |), boiler AS (
         |  SELECT n.line FROM sup_new n
         |  LEFT JOIN sup_old o ON n.line = o.line
         |  WHERE n.sup + COALESCE(o.sup, 0) >= 3
         |)
         |SELECT ln.doc_id, ln.n_lines,
         |  CAST(count(*) FILTER (WHERE b.line IS NULL) AS BIGINT) AS n_kept,
         |  COALESCE(array_to_string(
         |    list(ln.line ORDER BY ln.line_id) FILTER (WHERE b.line IS NULL),
         |    ' '), '') AS text_clean
         |FROM ln LEFT JOIN boiler b ON ln.line = b.line
         |GROUP BY ln.doc_id, ln.n_lines
         |ORDER BY doc_id""".stripMargin,

    "curate_boilerplate" ->
      s"""WITH $lineCtes,
         |cleaned AS (
         |$lineCleanSql
         |)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN len(list_filter(
         |      string_split(c.text_clean, ' '), t -> t <> '')) < 20
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_requalified,
         |  CAST(sum(c.n_lines) AS BIGINT) AS lines_total,
         |  CAST(sum(c.n_kept) AS BIGINT) AS lines_kept,
         |  CAST(sum(len(w.t)) AS BIGINT) AS tok_before,
         |  CAST(sum(len(list_filter(
         |    string_split(c.text_clean, ' '), t -> t <> ''))) AS BIGINT)
         |    AS tok_after
         |FROM cleaned c
         |JOIN documents d ON c.doc_id = d.doc_id
         |JOIN w ON w.doc_id = c.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "dedup_lines_stream" ->
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '$lineHeader ' || text
         |         ELSE text END AS text
         |  FROM documents
         |), nn AS (SELECT count(*) AS n FROM corpus),
         |bat AS (
         |  SELECT doc_id,
         |    ((row_number() OVER (ORDER BY doc_id)) - 1)
         |      // ((nn.n + 4) // 5) AS batch
         |  FROM corpus, nn
         |), w AS (
         |  SELECT doc_id, $toksSql AS t FROM corpus
         |), ln AS (
         |  SELECT w2.doc_id, bat.batch, (off // 10) AS line_id,
         |    CAST((len(t) + 9) // 10 AS BIGINT) AS n_lines,
         |    array_to_string(list_slice(t, off + 1, off + 10), ' ') AS line
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t), 10)) AS off
         |        FROM w WHERE len(t) > 0) w2
         |  JOIN bat ON w2.doc_id = bat.doc_id
         |), supb AS (
         |  SELECT line, batch, count(DISTINCT doc_id) AS d
         |  FROM ln GROUP BY line, batch
         |), cum AS (
         |  SELECT line, batch,
         |    COALESCE(SUM(d) OVER (PARTITION BY line ORDER BY batch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS sup_before
         |  FROM supb
         |), g AS (
         |  SELECT ln.doc_id, ln.n_lines, ln.line_id, ln.line,
         |    cum.sup_before < 3 AS kept
         |  FROM ln JOIN cum
         |    ON ln.line = cum.line AND ln.batch = cum.batch
         |)
         |SELECT doc_id, n_lines,
         |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         |  COALESCE(array_to_string(
         |    list(line ORDER BY line_id) FILTER (WHERE kept), ' '), '')
         |    AS text_clean
         |FROM g GROUP BY doc_id, n_lines ORDER BY doc_id""".stripMargin,

    "sim_project_rerank" ->
      s"""WITH pr AS (
        |  SELECT vec_id AS id,
        |    list_transform(range(0, 16), j -> ${signProjSql("j")}) AS proj
        |  FROM embeddings
        |), coarse AS (
        |  SELECT p.id AS probe_id, c.id AS cand_id,
        |    ${l2sqSql("p.proj[i]", "c.proj[i]", 16)} AS pdist
        |  FROM pr p JOIN pr c ON p.id < 10 AND c.id <> p.id
        |), short AS (
        |  SELECT probe_id, cand_id FROM coarse
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |    ORDER BY pdist, cand_id) <= 100
        |), cs AS (
        |  SELECT s.probe_id, s.cand_id,
        |    ${cosSql("p.embedding", "c.embedding", 64)} AS cos
        |  FROM short s JOIN embeddings p ON p.vec_id = s.probe_id
        |               JOIN embeddings c ON c.vec_id = s.cand_id
        |)
        |SELECT probe_id, cand_id, ROUND(cos, 6) AS cosine FROM cs
        |QUALIFY row_number() OVER (PARTITION BY probe_id
        |  ORDER BY cos DESC, cand_id) <= 5
        |ORDER BY probe_id, cosine DESC, cand_id""".stripMargin,

    "graph_source_rank" ->
      s"""WITH ${minhashPairsCte()},
         |ds AS (SELECT doc_id, source FROM documents),
         |ps AS (
         |  SELECT a.source AS sa, b.source AS sb
         |  FROM pairs JOIN ds a ON pairs.doc_a = a.doc_id
         |             JOIN ds b ON pairs.doc_b = b.doc_id
         |  WHERE a.source <> b.source
         |), ed AS (
         |  SELECT src, dst, count(*) AS w FROM (
         |    SELECT sa AS src, sb AS dst FROM ps
         |    UNION ALL SELECT sb AS src, sa AS dst FROM ps
         |  ) GROUP BY 1, 2
         |), nodes AS (SELECT DISTINCT source AS node FROM documents),
         |${pageRankCtes(5)}
         |SELECT node, rank FROM r5 ORDER BY node""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE ${minhashPairsCte()},
         |${componentsCtes()}, sizes AS (
         |  SELECT cl, count(*) AS sz FROM labels GROUP BY cl
         |)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(SUM(sz - 1) AS BIGINT) AS docs_removed
         |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    "sim_radius" ->
      s"""WITH probes AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10
        |), cos AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    ${cosSql("p.embedding", "c.embedding", 64)} AS c
        |  FROM probes p JOIN embeddings c ON p.vec_id <> c.vec_id
        |)
        |SELECT probe_id, cand_id, ROUND(c, 6) AS cosine
        |FROM cos WHERE c >= 0.3 ORDER BY probe_id, cand_id""".stripMargin,

    "text_bm25" ->
      s"""WITH lens AS (
         |  SELECT doc_id, len($toksSql) AS len FROM documents
         |), stats AS (
         |  SELECT count(*) AS n,
         |    CAST(SUM(len) AS DOUBLE) / count(*) AS avglen
         |  FROM lens
         |), tf AS (
         |  SELECT doc_id, word, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS word FROM documents)
         |  WHERE word IN ('table', 'fast', 'scan')
         |  GROUP BY 1, 2
         |), dfs AS (
         |  SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
         |), idf AS (
         |  SELECT word, df,
         |    CAST(ROUND(ln((n - df + 0.5) / (df + 0.5) + 1), 6)
         |      AS DECIMAL(16,6)) AS idf
         |  FROM dfs, stats
         |), scored AS (
         |  SELECT t.doc_id, t.tf, i.idf,
         |    CAST(ROUND(t.tf * (1.2 + 1)
         |      / (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.len / s.avglen)), 6)
         |      AS DECIMAL(16,6)) AS tff
         |  FROM tf t JOIN idf i USING (word)
         |  JOIN lens l USING (doc_id), stats s
         |)
         |SELECT doc_id, count(*) AS n_terms,
         |  CAST(SUM(tf) AS BIGINT) AS n_hits,
         |  CAST(ROUND(SUM(idf * tff), 6) AS DOUBLE) AS bm25
         |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_cooccur" ->
      s"""WITH t AS (
         |  SELECT DISTINCT doc_id, u.tok
         |  FROM documents, unnest(list_distinct($toksSql)) AS u(tok)
         |), tot AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |p AS (
         |  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_xy
         |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY 1, 2
         |)
         |SELECT tok_a, tok_b, c_xy,
         |  ROUND(c_xy * 1.0 * n / (ca.c * cb.c), 6) AS lift
         |FROM p JOIN tot ca ON tok_a = ca.tok JOIN tot cb ON tok_b = cb.tok, n
         |WHERE c_xy >= 5
         |ORDER BY tok_a, tok_b""".stripMargin,

    "text_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, word, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS word FROM documents)
         |  GROUP BY 1, 2
         |), dfs AS (
         |  SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
         |), idf AS (
         |  SELECT word, df,
         |    CAST(ROUND(ln((SELECT count(*) FROM documents) * 1.0
         |      / CAST(df AS DOUBLE)), 6) AS DECIMAL(18,6)) AS idf
         |  FROM dfs
         |)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rank, word, tf, df,
         |  CAST(score AS DOUBLE) AS tfidf
         |FROM (
         |  SELECT t.doc_id, t.word, t.tf, i.df, t.tf * i.idf AS score,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY t.tf * i.idf DESC, t.word) AS rk
         |  FROM tf t JOIN idf i USING (word)
         |) WHERE rk <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    "sim_hard_negatives" ->
      bruteTopKSql(cosSql("p.embedding", "c.embedding", 64), "cosine", desc = true,
        cand = "neg_id", pairOn = "p.label <> c.label"),

    "mm_phash" ->
      s"""WITH ${mediaPixelCtes(withPos = true)}, agg AS (
         |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM px GROUP BY 1
         |), hsh AS (
         |  SELECT p.doc_id,
         |    CAST(SUM(CASE WHEN p.v * a.n > a.total
         |      THEN (CAST(1 AS BIGINT) << CAST(p.pos AS INTEGER)) ELSE 0 END)
         |      AS BIGINT) AS phash
         |  FROM px p JOIN agg a USING (doc_id) GROUP BY 1
         |)
         |${mediaRowsSql("hsh", "s", "phash")}""".stripMargin,

    "mm_phash_dups" ->
      s"""WITH $phashCtes
         |SELECT s.phash, count(*) AS n_docs, min(i.doc_id) AS min_doc
         |FROM ids i JOIN hsh s USING (id2)
         |GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY phash""".stripMargin,

    "mm_phash_gate_stream" ->
      s"""WITH $phashCtes,
         |dp AS (
         |  SELECT i.doc_id, h.phash, i.doc_id % 3 AS b
         |  FROM ids i JOIN hsh h USING (id2)
         |), fr AS (
         |  SELECT phash, doc_id AS first_doc FROM (
         |    SELECT phash, doc_id,
         |      row_number() OVER (PARTITION BY phash ORDER BY b, doc_id) AS rn
         |    FROM dp) WHERE rn = 1
         |)
         |SELECT d.doc_id, d.phash, f.first_doc
         |FROM dp d JOIN fr f ON d.phash = f.phash
         |WHERE d.doc_id <> f.first_doc
         |ORDER BY d.doc_id, d.phash""".stripMargin,

    "text_entropy" ->
      s"""WITH c AS (
        |  SELECT doc_id, list_filter(string_split(text, ''), ch -> ch <> '') AS cs
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, cs, list_sort(list_distinct(cs)) AS ds FROM c
        |)
        |SELECT doc_id,
        |  CAST(len(cs) AS BIGINT) AS n_chars,
        |  CAST(len(ds) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(cs) > 0 THEN
        |    ROUND(${foldSql("ds", "-(len(list_filter(cs, x -> x = i)) * 1.0 / len(cs))" +
        " * ln(len(list_filter(cs, x -> x = i)) * 1.0 / len(cs))")}, 6)
        |  END AS entropy
        |FROM d ORDER BY doc_id""".stripMargin,

    "curate_budget" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |q AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality
         |  FROM t WHERE len(w) > 0
         |), c AS (
         |  SELECT doc_id, quality, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM q
         |)
         |SELECT doc_id, quality, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 30000 ORDER BY doc_id""".stripMargin,

    "shuffle_export" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    (${ph("'shuffle:' || CAST(doc_id AS VARCHAR)")}
         |        * ((1 * 2654435761) % 2147483647) + (1 * 40503) % 2147483647)
         |      % 2147483647 AS h
         |  FROM documents
         |)
         |SELECT doc_id, h,
         |  row_number() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos
         |FROM k ORDER BY shuffle_pos""".stripMargin,
  )

  /** `sim_pq_stored`'s oracle IS `sim_pq_ivf`'s, and
    * `dedup_index_stored`'s IS `dedup_incremental`'s: a stored-artifact
    * search must return precisely what the in-memory build returns —
    * the parquet round-trip of ints/longs is value-exact, so any
    * divergence is a REAL bug in the artifact lifecycle. */
  lazy val oracle: Map[String, String] =
    baseOracle + ("sim_pq_stored" -> baseOracle("sim_pq_ivf")) +
      ("dedup_index_stored" -> baseOracle("dedup_incremental")) +
      // the flush/restart eviction protocol must be INVISIBLE to
      // verdicts: each evicted replay answers to its never-flushed
      // twin's SQL verbatim
      ("dedup_lines_evict" -> baseOracle("dedup_lines_stream")) +
      ("dedup_gate_evict" -> baseOracle("dedup_gate_multibatch")) +
      // in-stream EventTimeTimeout eviction must likewise be
      // invisible: the TTL replays answer to the same SQL verbatim
      ("dedup_lines_ttl" -> baseOracle("dedup_lines_stream")) +
      ("dedup_gate_ttl" -> baseOracle("dedup_gate_multibatch")) +
      // the COMPOSED lifecycle (flush → registry-seeded restart WITH
      // in-stream TTL) must also be invisible — same SQL verbatim
      ("dedup_lines_ttl_stored" -> baseOracle("dedup_lines_stream")) +
      ("dedup_gate_ttl_stored" -> baseOracle("dedup_gate_multibatch")) +
      // the streaming-maintained holdout must equal the batch draw
      // row for row — bottom-k is a monoid, so the oracle is shared
      ("sample_exact_k_stream" -> baseOracle("sample_exact_k")) +
      ("sample_weighted_k_stream" -> baseOracle("sample_weighted_k")) +
      // the ingest-side Bloom gate must flag the batch gate's exact
      // doc set, measured false positives included
      ("decontaminate_stream" -> baseOracle("decontaminate_bloom")) +
      // the compacted registry must flag exactly what the full history
      // index flags
      ("dedup_registry_compact" -> baseOracle("dedup_incremental")) +
      // the incremental merge must equal the full build
      ("vocab_build" -> baseOracle("vocab_merge")) +
      // direct (no shards): the hash match is the merge ≡ direct proof
      ("sketch_moments" -> baseOracle("sketch_moments_stream")) +
      // scored against the stored vocab artifacts: with minCount=1 their
      // counts are exactly the corpus counts, so the twins are the
      // inline-count SQL
      ("lm_unigram_vocab" -> baseOracle("lm_unigram_score")) +
      ("lm_bigram_vocab" -> baseOracle("lm_bigram_score")) +
      // the streamed narrow encoder must emit the batch join+window
      // encode's exact id relation
      ("tokenizer_encode_stream" -> baseOracle("tokenizer_encode")) +
      // the streaming gate must admit the batch window's exact
      // (doc, slot) relation
      ("quota_gate_stream" -> baseOracle("quota_gate")) +
      // the shard-merged draw must equal the direct draw row for row
      // (the bottom-k merge theorem)
      ("sample_exact_k_merge" -> baseOracle("sample_exact_k"))
}
