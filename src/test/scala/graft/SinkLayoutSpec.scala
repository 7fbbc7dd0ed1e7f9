package graft

import graft.sources.Connectors
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The indexed sink's on-disk layout per committed batch: one data file
  * per (destination, index) however many tasks produced the batch, no
  * staging leftovers, and bulk metrics equal to a groupBy of the input. */
class SinkLayoutSpec extends SparkSpec {

  test("one batch lands as one file per index in the store and in _failed") {
    import spark.implicits._
    // 400 docs over 4 indices and 3 apps, spread across 4 tasks; poison
    // docs only in two of the indices
    val input = (0 until 400).map { i =>
      val index = s"logs-${i % 4}"
      val data = if (i % 4 < 2 && i % 7 == 3) s"""{"poison": $i}""" else s"""{"k": $i}"""
      (i.toLong, data, index, s"app${i % 3}")
    }.toDF("msg_id", "data", "index", "app").repartition(4)
    val isFailed = col("data").contains("poison")
    val expectedMetrics = input.groupBy("index", "app")
      .agg(sum(when(isFailed, 0L).otherwise(1L)).as("written"),
        sum(when(isFailed, 1L).otherwise(0L)).as("failed"))
      .orderBy("index", "app").collect().toSeq
    def indices(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("index").distinct().as[String].collect().toSet

    Seq(Some(5L), None).foreach { batchId =>
      withClue(s"batchId $batchId: ") {
        val root = Files.createTempDirectory("graft-layout").toString
        val fs = FileSystem.get(new java.net.URI(root),
          spark.sparkContext.hadoopConfiguration)
        def filesPerIndex(dir: String): Map[String, Int] =
          fs.globStatus(new Path(s"$dir/index=*/*.parquet")).toSeq
            .groupBy(_.getPath.getParent.getName.stripPrefix("index="))
            .map { case (k, v) => k -> v.size }

        val metrics = Connectors.IndexedParquetBulk.writeBatch(input, root,
          Some(isFailed), Some(s"$root/_failed"), batchId)

        val stored = filesPerIndex(root)
        val failed = filesPerIndex(s"$root/_failed")
        assert(stored.keySet == indices(input.filter(!isFailed)))
        assert(stored.values.forall(_ == 1), stored)
        assert(failed.keySet == indices(input.filter(isFailed)))
        assert(failed.keySet.size == 2 && failed.values.forall(_ == 1), failed)
        val staging = new Path(s"$root/_staging")
        assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
        assert(fs.exists(new Path(s"$root/_commits/5")) == batchId.isDefined)
        assert(metrics.select("index", "app", "written", "failed")
          .orderBy("index", "app").collect().toSeq == expectedMetrics)
        assert(spark.read.parquet(root).select("msg_id").as[Long]
          .collect().sorted.toSeq ==
          input.filter(!isFailed).select("msg_id").as[Long].collect().sorted.toSeq)
      }
    }
  }
}
