package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Two-point scale probe: the 100×-scaling claim should
  * not rest on plan shape alone, so this tool replicates the sf0.1
  * tables `replicas`× (ids remapped to stay unique, event times jittered
  * by the replica index in µs; text/vectors unchanged) and times a
  * fixed set of the board's most expensive queries at BOTH sizes,
  * writing SCALE.json with per-query walls and the observed slope
  * (scaled_sec / base_sec, to compare against `replicas`).
  *
  * The probe set is restricted to queries that are LINEAR BY DESIGN
  * (scans, time-bucketed windows, per-key windows, bounded-probe ANN,
  * range ranks) — replicating a corpus also multiplies its near-dup
  * structure, so dedup-family queries would honestly show a quadratic
  * pair component that says something about the DATA, not the plan;
  * the dedup scaling story is the banded-join argument in SURVEY §6.
  * Usage: runMain graft.tools.ScaleProbe [replicas] [reps] */
object ScaleProbe {

  val probes: Seq[String] = Seq(
    "sync_pipeline", "q_sessionize", "q_events_anomaly", "q_time_window",
    "q_attribution", "sketch_hll_daily",
    // sim_ivf_trained is the full-slice Lloyd AUDIT — it is
    // id-bounded by default (kmeansRefine maxTrainId=4096), so the ×8
    // replica corpus trains/refines the same-order slice as base and
    // the unbounded trainer's 5.99 slope is gone BY CONSTRUCTION
    "sim_pq_residual", "sim_ivf_trained",
    // the sampled trainer: Lloyd over ONLY the exact-k sample, corpus
    // pays one narrow assign — the PRODUCTION trainer
    "sim_ivf_sampled",
    "shard_zorder", "lm_kn_model",
    // the id-level export chain: replicated docs duplicate WORDS but not
    // the distinct-word table, so BPE training cost is
    // replication-invariant and encode/pack scale with total tokens —
    // linear by design, now measured
    "tokenizer_encode", "pack_ids", "lm_unigram_score",
    // the PCA path's one wide edge: the Gram aggregation is linear in
    // vectors (D² fan-out per row, map-side combined into a fixed 64×64
    // table; the power iteration is corpus-size-independent driver
    // work) — now measured, not just argued
    "emb_pca",
    // each linear by design: the trigram KN table (one
    // corpus scan + O(types) marginals), harmonic no-split packing
    // (per-class rank windows), and the three-layout prune audit
    // (three two-phase ranks over the replicated lineitem)
    "lm_kn_trigram", "pack_nosplit", "shard_zorder_prune",
    // each linear by design: CUSUM (daily
    // rollup + topic-keyed cumulative windows), the skyline staircase
    // (groupBy-x + bucketed prefix + broadcast-front join-back), the
    // Hilbert descent (16 narrow column steps + the two-phase rank),
    // the chained-min-agg funnel, the CMS dot (model-state grids), and
    // the 3-arm session sweep (one scan, arm-keyed windows)
    "q_cusum", "q_skyline", "shard_hilbert", "q_funnel_steps",
    "sketch_cms_dot", "q_session_sweep",
    // the kNN graph is linear by design through the projection-rank
    // window bound — each vector pairs with ≤ window rank-neighbors
    // regardless of bucket skew, so 8× vectors is 8× bounded pair work
    // (an in-bucket self-join would show a super-linear slope here;
    // dedup-family rows stay excluded for the data-structure reason
    // above)
    "sim_knn_graph",
    // line-boilerplate removal is the one dedup-family
    // row WITHOUT pair structure (support counting + a set join — output
    // is per-doc, never per-pair), so replication multiplies line
    // support but not any candidate set: linear by design, measured
    "dedup_lines",
    // the PRODUCTION layout writer — sampled cut points (one
    // top-k action) + narrow per-row assignment; the exact-rank audit
    // rows' range-shuffle-and-window cost (slope 4.8) never runs, so
    // this should sit near the scan slope
    "shard_zorder_sampled")

  /** Replicate the sf0.1 corpus `replicas`× into `scaledDir` (ids
    * remapped to stay unique, event times jittered by replica index in
    * µs; text/vectors unchanged). */
  private def replicateCorpus(spark: SparkSession, baseDir: String,
      scaledDir: String, replicas: Int): Unit = {
    def rep(df: DataFrame): (DataFrame, org.apache.spark.sql.Column) = {
      val r = df.crossJoin(spark.range(replicas).select(col("id").as("__rep")))
      (r, col("__rep"))
    }
    // events: unique event_id, µs-jittered ts (same schema → the
    // Tables.events seam normalizes the copy exactly like the source)
    locally {
      // the ts physical layout has been both TIMESTAMP(NANOS), read as
      // BIGINT nanos under nanosAsLong, and timestamp[us] (the
      // Tables.events seam); jitter under whichever layout is present so
      // the scaled copy keeps the source layout and the seam normalizes
      // it identically
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$baseDir/events.parquet")
      val (e, r) = rep(raw)
      val jittered = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          e.withColumn("ts", col("ts") + r * 1000L) // nanos
        case _ =>
          e.withColumn("ts", expr("timestampadd(MICROSECOND, __rep, ts)"))
      }
      jittered.withColumn("event_id", col("event_id") * replicas + r)
        .drop("__rep")
        .write.parquet(s"$scaledDir/events.parquet")
    }
    locally {
      val (d, r) = rep(spark.read.parquet(s"$baseDir/documents.parquet"))
      d.withColumn("doc_id", col("doc_id") * replicas + r).drop("__rep")
        .write.parquet(s"$scaledDir/documents.parquet")
    }
    locally {
      val (v, r) = rep(spark.read.parquet(s"$baseDir/embeddings.parquet"))
      v.withColumn("vec_id", col("vec_id") * replicas + r).drop("__rep")
        .write.parquet(s"$scaledDir/embeddings.parquet")
    }
    locally { // q_skyline's input
      val (o, r) = rep(spark.read.parquet(s"$baseDir/orders.parquet"))
      o.withColumn("o_orderkey", col("o_orderkey") * replicas + r)
        .drop("__rep")
        .write.parquet(s"$scaledDir/orders.parquet")
    }
    locally { // shard_zorder's input
      val (l, r) = rep(spark.read.parquet(s"$baseDir/lineitem.parquet"))
      l.withColumn("l_orderkey", col("l_orderkey") * replicas + r)
        .drop("__rep")
        .write.parquet(s"$scaledDir/lineitem.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(8)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    // SPARK_GRAFT_SCALE_ONLY=a,b restricts the probe set (local
    // diagnosis aid); restricted runs skip the SCALE.json write so a
    // partial probe never masquerades as the board
    val onlyProbes = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.local()

    val scaledDir = Files.createTempDirectory("graft-scale").toString
    replicateCorpus(spark, sfDir, scaledDir, replicas)

    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, dir).count() // warm
      (1 to reps).map { _ =>
        GraftSession.release(spark)
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val selected = onlyProbes.fold(probes)(s => probes.filter(s))
    val rows = selected.map { q =>
      val b = time(q, sfDir)
      val s = time(q, scaledDir)
      println(f"[scale] $q%-20s base=$b%.2fs scaled=$s%.2fs slope=${s / b}%.2f (data x$replicas)")
      s""""$q":{"base_sec":${fmt(b)},"scaled_sec":${fmt(s)},"slope":${fmt(s / b)}}"""
    }
    val line = s"""{"replicas":$replicas,"queries":{${rows.mkString(",")}}}"""
    if (onlyProbes.isEmpty) Files.writeString(Paths.get("SCALE.json"), line + "\n")
    println(line)
    // the scaled copy is ~10× sf0.1 on disk — drop it
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(scaledDir),
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(scaledDir), true)
    spark.stop()
  }
}
