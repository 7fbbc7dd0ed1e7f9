package graft

import graft.operators.{Dedup, SyncConfig, SyncPipeline}
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: nulls, empties, and empty inputs must flow
  * through (and out of) the pipeline without exceptions — the reference
  * logs-and-skips, never crashes (pulsar.rs:241, es.rs:374). */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = SyncConfig(globalFilters = Seq("drop"),
    rewriteRules = Seq(("t", "x")), rateLimits = Map("a" -> 1))

  test("null/empty/garbage messages are dropped, valid ones survive") {
    val msgs = Seq(
      (1L, "t1", "2024-01-01 00:00:00", null.asInstanceOf[String]),
      (2L, "t1", "2024-01-01 00:00:00", ""),
      (3L, "t1", "2024-01-01 00:00:00", "not json"),
      (4L, "t1", "2024-01-01 00:00:00", "[1,2,3]"),
      (5L, "t1", "2024-01-01 00:00:00", """{"k": 1}"""))
      .toDF("msg_id", "topic", "publish_time", "data")
      .withColumn("publish_time", col("publish_time").cast("timestamp"))
    val out = SyncPipeline(cfg)(msgs)
    assert(out.select("msg_id").as[Long].collect().toSeq == Seq(5L))
  }

  test("empty input produces empty output everywhere, no exceptions") {
    val empty = Seq.empty[(Long, String, java.sql.Timestamp, String)]
      .toDF("msg_id", "topic", "publish_time", "data")
    assert(SyncPipeline(cfg)(empty).count() == 0)
    val emptyDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "lang")
    assert(Dedup.exactGroups(emptyDocs).count() == 0)
    assert(Dedup.minhashCandidates(emptyDocs).count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, 3, 4, 5, "lang").count() == 0)
    assert(Dedup.winnowCandidates(emptyDocs).count() == 0)
  }

  test("winnow candidates finds docs sharing long substrings") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "xx the quick brown fox jumps over the lazy dog yy"),
      (3L, "completely different content with no overlap at all zz"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidates(docs, ngram = 8, window = 4,
      minShared = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("curation operators survive null/empty/unicode text") {
    import graft.operators.Curation
    val docs = Seq(
      (0L, null.asInstanceOf[String], "en", "s0", 0L),
      (1L, "", "en", "s0", 0L),
      (2L, "héllo wörld héllo", "de", "s0", 17L),
      (3L, "plain ascii text", "en", "s1", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    // classifier: null text → null score (not a crash); empty → 0/false
    val scored = Curation.hashedLinearScore(docs).orderBy("doc_id").collect()
    assert(scored(0).isNullAt(scored(0).fieldIndex("score")))
    assert(scored(1).getAs[Long]("score") === 0L &&
      !scored(1).getAs[Boolean]("pred"))
    assert(scored(2).getAs[Long]("n_tok") === 3L)

    // packing: null/empty docs contribute nothing; unicode tokens count
    val packed = Curation.packSequences(docs, seqLen = 4)
    assert(packed.agg(sum("n_tokens")).head.getLong(0) === 6L)

    // containment + LM scoring run clean over the degenerate rows
    assert(Curation.containedPairs(docs).count() === 0L)
    val lm = Curation.lmUnigramScore(docs)
    assert(lm.count() === 2L) // only docs with tokens produce rows
  }

  test("round-3 operators survive degenerate input") {
    import graft.operators.{Curation, CurateConfig}
    val docs = Seq(
      (0L, null.asInstanceOf[String], "en", "s0", 0L),
      (1L, "", "en", "s0", 0L),
      (2L, "one", "en", "s0", 3L),           // single token: no bigrams
      (3L, "a b c d e f", "de", "s1", 11L))  // < one 16-token chunk
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // bigram scorer: only the doc with >= 2 tokens appears
    assert(Curation.lmBigramScore(docs).count() === 1L)
    // span dedup: nothing reaches a full chunk → empty, no crash
    assert(Curation.repeatedSpans(docs, w = 16).count() === 0L)
    // simhash64 on null/empty/short text
    assert(Dedup.simhash64Pairs(docs, maxHamming = 0).count() >= 0L)
    // bloom gate with an EMPTY benchmark: nothing can be flagged
    assert(Dedup.decontaminateBloom(docs,
      docs.filter(col("doc_id") < 0)).count() === 0L)
    // config-driven curation over the degenerate corpus runs clean
    val m = Curation.curate(CurateConfig(nShards = 4), Seq("the", "a"))(docs)
    assert(m.agg(sum("n_docs")).head.getLong(0) >= 1L)
  }

  test("session-4 operators survive degenerate input") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, null.asInstanceOf[String], "en", "s0", 0L),
      (1L, "", "en", "s0", 0L),
      (2L, "one", "en", "s0", 3L),
      (3L, "table fast table", "de", "s1", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // minhash estimate / union sketch on null/empty/short text: the
    // signature fallback keeps every doc k-slotted, nothing throws
    assert(Dedup.minhashEstimates(docs).count() >= 0L)
    assert(Dedup.sourceMinhashOverlap(docs).count() >= 0L)
    // bm25: only the doc containing a query term scores; null/empty drop
    val scored = TextAnalysis.bm25(docs, Seq("table", "fast", "scan"))
    assert(scored.count() === 1L)
    assert(scored.head.getLong(2) === 3L) // n_hits: table ×2 + fast
    // bm25 with a query matching NOTHING: empty posting union, no crash
    assert(TextAnalysis.bm25(docs, Seq("zzz")).count() === 0L)
    // knn graph on an empty corpus: zero rows, no exceptions
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    assert(graft.operators.Similarity.knnGraph(
      emb.filter(col("vec_id") < 0), k = 3).count() === 0L)
  }

  test("session-5 operators survive degenerate input") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (0L, null.asInstanceOf[String], "en", "s0", 0L),
      (1L, "", "en", "s0", 0L),
      (2L, "ab", "en", "s0", 2L),
      (3L, "ab", "de", "s1", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // prefix jaccard: null text drops in the shingle pass; the two "ab"
    // single-shingle docs (prefix length 1) must still pair exactly
    // (the "" doc hashes alone — no partner, no pair)
    val sh3 = Dedup.wordShingleHashSet(col("text"), 3)
    val pp = Dedup.prefixJaccardPairs(docs, sh3, 4, 5).collect()
    assert(pp.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    // empty corpus: no pairs, no exceptions (globalRank over zero rows)
    assert(Dedup.prefixJaccardPairs(
      docs.filter(col("doc_id") < 0), sh3, 4, 5).count() === 0L)
    // co-occurrence: support above any count ⇒ empty, never throws;
    // support 1 on a single two-token doc ⇒ exactly one pair, lift = N
    assert(TextAnalysis.cooccurrence(docs, minSupport = 99).count() === 0L)
    val one = Seq((1L, "x y")).toDF("doc_id", "text")
    val co = TextAnalysis.cooccurrence(one, minSupport = 1).collect()
    assert(co.length === 1 && co.head.getDouble(3) === 1.0)
    // HLL estimate from an EMPTY register table: zero groups, no crash
    import graft.operators.Sketches
    val noRegs = Seq.empty[(String, Long, Long)]
      .toDF("event_type", "bucket", "m_j")
    assert(Sketches.hllEstimate(noRegs, Seq("event_type")).count() === 0L)
  }

  test("tokenizer id-export chain survives degenerate input") {
    import graft.operators.Tokenizer
    // null text, empty text, single char, whitespace-only — only the
    // real tokens produce ids; nothing throws anywhere in the chain
    val docs = Seq(
      (0L, null.asInstanceOf[String], "s0"),
      (1L, "", "s0"),
      (2L, "x", "s0"),
      (3L, "   ", "s1"),
      (4L, "x y x", "s1"))
      .toDF("doc_id", "text", "source")
    val enc = Tokenizer.bpeEncode(docs, rounds = 3).collect()
    assert(enc.map(_.getLong(0)).toSet === Set(2L, 4L),
      "only tokenizable docs emit ids")
    val packed = Tokenizer.packIds(docs, rounds = 3, seqLen = 2).collect()
    assert(packed.nonEmpty &&
      packed.map(r => r.getAs[Long]("n_ids")).sum === enc.length,
      "packing conserves the id count")
    // EMPTY corpus end-to-end: no merges, no ids, no packs, no throw
    val none = docs.filter(col("doc_id") < 0)
    assert(Tokenizer.bpeMerges(none, rounds = 3).count() === 0L)
    assert(Tokenizer.bpeEncode(none, rounds = 3).count() === 0L)
    assert(Tokenizer.packIds(none, rounds = 3, seqLen = 2).count() === 0L)
    // all-whitespace corpus degenerates identically
    val blank = docs.filter(col("doc_id") === 3L)
    assert(Tokenizer.bpeEncode(blank, rounds = 3).count() === 0L)
  }

  test("pcaPower survives degenerate corpora") {
    import graft.operators.Similarity
    // empty corpus: empty result with the contract schema, no throw
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val r0 = Similarity.pcaPower(empty)
    assert(r0.columns.toSeq === Seq("dim", "comp", "loading"))
    assert(r0.count() === 0L)
    // all-zero vectors: Gram is zero, every iterate normalizes through
    // the max(…, 1) divisor floor — finite output, no divide-by-zero
    val zeros = Seq((0L, Seq.fill(4)(0.0f)), (1L, Seq.fill(4)(0.0f)))
      .toDF("vec_id", "embedding")
    val rz = Similarity.pcaPower(zeros).collect()
    assert(rz.length === 4 && rz.forall(!_.isNullAt(1)))
    // a single vector: the direction is the vector itself (up to the
    // lattice): loading maximal on the dominant dim
    val one = Seq((0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r1 = Similarity.pcaPower(one).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(math.abs(r1(0L)) === r1.values.map(math.abs).max,
      "single-vector direction must align with the vector")
  }

  test("silent-wrap paths fail loudly: int64 sum guards") {
    import graft.operators.{Guards, Sketches}
    // the guard primitive: n·maxAbs over the int64 line throws with the
    // caller's message; under it, it adds exactly 0 to the guarded sum
    val small = Seq(1L, 2L, 3L).toDF("v")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
        max(abs(col("v"))).as("m"))
      .withColumn("s", col("s") + Guards.sumBound(col("n"), col("m"), "boom"))
    assert(small.select("s").as[Long].head() === 6L)
    // moments: q = 3.1e9 → q² ≈ 9.6e18 > Long.MaxValue → the ride-along
    // guard fires instead of a silently wrapped Σq²
    val wide = Seq(("k", 3.1e6), ("k", 3.1e6)).toDF("key", "v")
    val ex = intercept[Exception] {
      Sketches.moments(wide, Seq("key"), col("v"), scale = 1000L).collect()
    }
    assert(ex.getMessage != null || ex.getCause != null) // surfaced, not wrapped
    // in range, the guarded sums are bit-identical to the plain ones
    val ok = Sketches.moments(Seq(("k", 2.0), ("k", 3.0)).toDF("key", "v"),
      Seq("key"), col("v"), scale = 1000L).collect().head
    assert(ok.getLong(1) === 2L && ok.getLong(2) === 5000L &&
      ok.getLong(3) === 13000000L)
    // an all-null group has NULL sums and a NULL max — the guard must
    // treat it as 0 terms (nothing can have wrapped), not assert-fail
    val nullGrp = Sketches.moments(
      Seq(("k", null.asInstanceOf[java.lang.Double]))
        .toDF("key", "v"), Seq("key"), col("v"), scale = 1000L)
      .collect().head
    assert(nullGrp.getLong(1) === 1L && nullGrp.isNullAt(2) &&
      nullGrp.isNullAt(3))
    // cmsDot over a stored grid: two 4e9-count cells would wrap na·nb
    val grid = Seq(("a", 0, 1, 4000000000L), ("b", 0, 1, 4000000000L))
      .toDF("__src", "k", "cell", "n")
    intercept[Exception] { Sketches.cmsDotFromGrids(grid).collect() }
    val gridOk = Seq(("a", 0, 1, 3L), ("b", 0, 1, 5L))
      .toDF("__src", "k", "cell", "n")
    assert(Sketches.cmsDotFromGrids(gridOk)
      .select("est_dot").as[Long].head() === 15L)
  }

  test("degenerate parameters fail at build time, not in executors") {
    import graft.operators.Pareto
    val pts = Seq((1L, 2L)).toDF("x", "y")
    intercept[IllegalArgumentException] {
      Pareto.skyline2d(pts, "x", "y", bucketWidth = 0L)
    }
    intercept[IllegalArgumentException] {
      new graft.plans.BottomKAggregator[graft.plans.KmvObs, Long](0, _.h)
    }
    // empty stopword list: the whole doc is one phrase, not a crash
    val docs = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    val rk = graft.operators.TextAnalysis
      .rakeScores(docs, Nil, k = 10).collect()
    assert(rk.nonEmpty, "empty stopwords must segment into one phrase")
  }

  test("pcaWhiten in range returns guarded-but-unchanged output") {
    import graft.operators.Similarity
    val emb = Seq(
      (0L, Seq(1.0f, 0.1f, 0.0f, 0.0f)), (1L, Seq(0.9f, -0.2f, 0.1f, 0.0f)),
      (2L, Seq(-1.0f, 0.0f, 0.2f, 0.1f)), (3L, Seq(0.8f, 0.3f, -0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.pcaWhiten(emb).collect()
    assert(rows.length === 8 && rows.forall(!_.isNullAt(3)),
      "4 vectors × 2 components, whitened values present")
  }
}
