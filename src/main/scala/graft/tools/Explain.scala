package graft.tools

import graft.GraftSession

/** Plan inspection + timing for a named SparkEntry query:
  * runMain graft.tools.Explain <query> [sfDir] [reps]
  * Prints the formatted physical plan, then times `reps` materializations
  * (after one warm-up). */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    // comma-separated names share one session (a plan survey over many
    // queries pays one JVM and session start-up)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      println(s"===== $nm =====")
      val fn = graft.SparkEntry.queries(nm)
      fn(spark, sfDir).explain("formatted")
      fn(spark, sfDir).count() // warm-up
      // REBUILD the DataFrame inside the timer: Materialize() checkpoints
      // eagerly at CONSTRUCTION time, so timing a pre-built df measures
      // only the post-checkpoint tail (dedup_prefix_jaccard read 0.85 s
      // here vs 6.6 s in Bench until this tool was fixed to match
      // Bench's fn(...).count() semantics).
      (1 to reps).foreach { i =>
        GraftSession.release(spark)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      }
    }
    spark.stop()
  }
}
