package graft

import graft.operators.Similarity
import graft.plans.{TopKAggregator, native}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The typed top-k aggregator must equal the window formulation row for
  * row. */
class TopKAndExtensionsSpec extends SparkSpec {

  test("TopKAggregator == window row_number top-k") {
    val emb = Tables.embeddings(spark, sf())
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("key"), col("embedding").as("pv"))
    val scored = Tables.embeddings(spark, sf())
      .select(col("vec_id").as("id"), col("embedding").as("cv"))
      .join(broadcast(probes), col("key") =!= col("id"))
      .select(col("key"), col("id"),
        native.cosine_sim(col("pv"), col("cv")).as("score"))

    val viaAgg = TopKAggregator.topK(scored, 5)
      .orderBy("key", "id").collect().toSeq

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("score").desc, col("id"))
    val viaWindow = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
      .orderBy("key", "id").collect().toSeq

    assert(viaAgg == viaWindow)
  }

  /** `topK` over hand-built (key, id, score) rows, spread over 3
    * partitions so the partial heaps are merged; rows sorted by key,
    * then score descending, then id. */
  private def topKOf(rows: Seq[(Long, Long, Double)], k: Int)
      : Seq[(Long, Long, Double)] = {
    import spark.implicits._
    TopKAggregator.topK(rows.toDF("key", "id", "score").repartition(3), k)
      .as[(Long, Long, Double)].collect().toSeq
      .sortBy { case (key, id, sc) => (key, -sc, id) }
  }

  test("TopKAggregator.topK: tied scores keep the smaller ids") {
    val rows = Seq(9L, 3L, 7L, 1L, 5L, 8L).map(id => (1L, id, 0.5)) :+
      ((1L, 6L, 0.75))
    assert(topKOf(rows, 3) == Seq((1L, 6L, 0.75), (1L, 1L, 0.5), (1L, 3L, 0.5)))
    // a tie at the cut across partitions: every id ties
    assert(topKOf(rows.map { case (k, id, _) => (k, id, 0.25) }, 2) ==
      Seq((1L, 1L, 0.25), (1L, 3L, 0.25)))
  }

  test("TopKAggregator.topK: a key with fewer than k candidates returns all of them") {
    val rows = Seq((1L, 10L, 0.1), (1L, 11L, 0.2), (1L, 12L, 0.3),
      (1L, 13L, 0.4), (2L, 20L, 0.9), (2L, 21L, 0.8))
    assert(topKOf(rows, 3) == Seq((1L, 13L, 0.4), (1L, 12L, 0.3),
      (1L, 11L, 0.2), (2L, 20L, 0.9), (2L, 21L, 0.8)))
    assert(topKOf(Seq((3L, 30L, 1.0)), 5) == Seq((3L, 30L, 1.0)))
  }

  test("TopKAggregator.topK: all-negative scores keep the largest") {
    // the L2 and PQ searches negate their distances into the heap
    val rows = Seq((1L, 1L, -3.0), (1L, 2L, -0.5), (1L, 3L, -2.0),
      (1L, 4L, -1.0), (1L, 5L, -4.5), (1L, 6L, -1.0))
    assert(topKOf(rows, 3) == Seq((1L, 2L, -0.5), (1L, 4L, -1.0), (1L, 6L, -1.0)))
  }

  test("IVF search: deterministic, candidates come from probed lists only") {
    val emb = Tables.embeddings(spark, sf())
    val r1 = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5, nprobe = 2)
      .orderBy("probe_id", "cand_id").collect().toSeq
    val r2 = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5, nprobe = 2)
      .orderBy("probe_id", "cand_id").collect().toSeq
    assert(r1 == r2 && r1.nonEmpty)
    // every IVF cosine is <= the brute-force best for that probe
    val brute = Similarity.cosineTopK(emb, col("vec_id") < 10, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    r1.foreach { row =>
      assert(row.getDouble(2) <= brute(row.getLong(0)) + 1e-9)
    }
  }

  test("BottomKPairsAggregator: arrival-order invariant, redelivery collapses") {
    // BottomKAggregator over (u, id) pairs, the aggregator behind
    // sample_exact_k_stream: the streamed holdout's two claims —
    // ANY batch split of the corpus drains to the batch draw, and a
    // redelivered id cannot occupy two sample slots
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = graft.sources.Tables.documents(spark, sf())
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("doc_id"))
    val batch = graft.operators.Curation
      .sampleExactK(graft.sources.Tables.documents(spark, sf()), k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val obs = docs.select(
        org.apache.spark.sql.functions.col("source"),
        graft.operators.Curation.samplePriority(
          org.apache.spark.sql.functions.col("doc_id")).as("u"),
        org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(r => graft.plans.PairObs(r.getString(0), r.getLong(1),
        r.getLong(2))).toSeq
    // adversarial split: reverse order, 3 uneven batches, and the
    // FIRST 40 observations redelivered verbatim in the last batch
    val rev = obs.reverse
    val batches = Seq(rev.take(7), rev.slice(7, 250),
      rev.drop(250) ++ obs.take(40))
    val ms = MemoryStream[graft.plans.PairObs]
    val q = ms.toDS().groupByKey(_.key)
      .agg(new graft.plans.BottomKAggregator[graft.plans.PairObs, (Long, Long)](
        5, o => (o.u, o.id)).toColumn.name("ps"))
      .toDF("key", "ps")
      .writeStream.format("memory").queryName("smpk_spec")
      .outputMode("complete").start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      val streamed = spark.table("smpk_spec")
        .as[(String, Seq[(Long, Long)])].collect()
        .flatMap { case (src, ps) => ps.zipWithIndex.map { case ((_, id), i) =>
          (id, src, (i + 1).toLong) } }.toSet
      assert(streamed == batch,
        s"streamed holdout diverged: ${streamed.diff(batch).take(3)} vs ${batch.diff(streamed).take(3)}")
    } finally q.stop()
  }
}
