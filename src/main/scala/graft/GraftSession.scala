package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft entry point (Bench, Verify, the tools, the
  * streaming demo) starts its Spark session, finds its data and releases
  * memory between queries. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The scale-factor data dir a timed main reads: `SPARK_GRAFT_SF_DIR`,
    * else sf0.1. */
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A `local[cpus]` session with one shuffle partition per core.
    *
    * Shuffle and spill scratch goes to the fastest local media
    * ([[graft.operators.Scratch]]: `SPARK_GRAFT_SCRATCH`, then `/dev/shm`,
    * then `java.io.tmpdir`, in a fresh per-run dir); a cluster sets
    * `SPARK_LOCAL_DIRS`, which overrides this conf, to its local SSDs.
    * Measured at sf0.1 on a 15-query batch subset (3 sweeps each,
    * back-to-back): ext4 /tmp 67.1 s against tmpfs 36.9 s, as every
    * exchange's shuffle-file I/O halves. The session time zone is UTC,
    * which the events `ts` normalization and the DuckDB oracle both
    * assume ([[graft.sources.Tables.events]]). */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", graft.operators.Scratch.tempDir("graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Release the blocks of finished queries before the next one runs.
    * `Materialize` local-checkpoints eagerly, and a finished query's
    * blocks are unreachable but still occupy the unified memory pool:
    * `dedup_prefix_jaccard` (3 materializations) measured 0.85 s in a
    * fresh session against 6.6 s after 28 queries' accumulated blocks,
    * same code, reproducible. Each query rebuilds its own plan, so
    * nothing live is lost. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
