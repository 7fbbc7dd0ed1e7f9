package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The replay runner's contract: every streaming twin goes through
  * [[StreamedBatch.replay]], which ticks `replayRuns` once per replay and
  * leaves no memory-sink view and no scratch dir behind, on success and
  * on every failure path. */
class StreamedBatchSpec extends SparkSpec {
  import StreamedBatch.{append, oneFile, perBatch, replay}

  /** Scratch dirs the graft runners create (every name starts `graft-`). */
  private def scratchDirs(): Set[String] =
    Option(graft.operators.Scratch.base.toFile.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("graft-")).toSet

  private def twinViews(ss: SparkSession): Seq[String] =
    ss.catalog.listTables().collect().map(_.name).filter(_.contains("_twin_"))
      .toSeq

  private def ids(n: Int) = spark.range(n).select(col("id").as("doc_id"))

  test("a successful replay ticks replayRuns once and leaves nothing behind") {
    val dirs0 = scratchDirs()
    val runs0 = StreamedBatch.replayRuns
    var twin: SparkSession = null
    val out = replay(spark, "spec", Seq(oneFile(ids(3))))(append { t =>
      twin = t.ss
      t.stream.writeStream
    })
    assert(StreamedBatch.replayRuns == runs0 + 1)
    // the pinned result outlives the cleanup
    assert(out.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L))
    assert(twinViews(twin).isEmpty)
    assert(scratchDirs() == dirs0)
  }

  test("a build that throws rethrows and leaves nothing behind") {
    val dirs0 = scratchDirs()
    val runs0 = StreamedBatch.replayRuns
    var twin: SparkSession = null
    val e = intercept[IllegalStateException] {
      replay(spark, "spec", Seq(oneFile(ids(3))))(append { t =>
        twin = t.ss
        throw new IllegalStateException("build failed")
      })
    }
    assert(e.getMessage == "build failed")
    assert(StreamedBatch.replayRuns == runs0 + 1)
    assert(twinViews(twin).isEmpty)
    assert(scratchDirs() == dirs0)
  }

  test("a query that fails at run time rethrows and leaves nothing behind") {
    val dirs0 = scratchDirs()
    val runs0 = StreamedBatch.replayRuns
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalArgumentException("row failed")
      id
    }
    var twin: SparkSession = null
    intercept[StreamingQueryException] {
      replay(spark, "spec", Seq(oneFile(ids(3))))(append { t =>
        twin = t.ss
        t.stream.select(boom(col("doc_id")).as("doc_id")).writeStream
      })
    }
    assert(StreamedBatch.replayRuns == runs0 + 1)
    assert(twin.streams.active.isEmpty)
    assert(twinViews(twin).isEmpty)
    assert(scratchDirs() == dirs0)
  }

  test("a chunked source with an empty batch still writes nBatches files") {
    import spark.implicits._
    // batch 1 of 0..2 is EMPTY
    val batched = Seq((1L, 0L), (2L, 0L), (3L, 2L)).toDF("doc_id", "batch")
    var files = Seq.empty[String]
    val out = replay(spark, "spec", Seq(perBatch(batched, 3, "doc_id")))(
      append { t =>
        files = new java.io.File(t.srcDirs.head).listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).sorted.toSeq
        t.stream.writeStream
      })
    assert(files == Seq("f000.parquet", "f001.parquet", "f002.parquet"))
    assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("static inputs are copied into the replay's dir and deleted with it") {
    import spark.implicits._
    val dirs0 = scratchDirs()
    val reg = Seq(("alpha", 2L)).toDF("line", "sup")
    var staticFiles = Seq.empty[String]
    val out = replay(spark, "spec", Seq(oneFile(ids(2))), Seq(reg))(
      append { t =>
        staticFiles = t.statics.head.inputFiles.toSeq
        t.stream.crossJoin(t.statics.head).writeStream
      })
    assert(out.count() == 2)
    assert(staticFiles.nonEmpty && staticFiles.forall(_.contains("-twin")))
    assert(staticFiles.forall(f => !new java.io.File(new java.net.URI(f)).exists()))
    // the public runners' registry path goes through the same copy
    val docs = Seq((1L, "a b c d e f g h i j k l", 0L),
      (2L, "a b c d e f g h i j k l", 1L)).toDF("doc_id", "text", "batch")
    StreamedBatch.lineGatedMulti(spark, docs, nBatches = 2,
      registry = Some(reg)).collect()
    assert(scratchDirs() == dirs0)
  }

  test("writeChunkedFiles: each file's rows ascend in cols") {
    // A descending single-partition input: the partitioned write plans
    // its own Sort [batch], which drops a sort on `cols` alone, so the
    // files would keep the shuffle's (descending) order.
    val batched = spark.range(0, 30, 1, 1)
      .select((lit(29L) - col("id")).as("doc_id"))
      .withColumn("text", col("doc_id").cast("string"))
      .withColumn("batch", pmod(col("doc_id"), lit(3L)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunk-sort").toString
    try {
      val src = StreamedBatch.writeChunkedFiles(batched,
        Seq("doc_id", "text"), nBatches = 3, tmp)
      val files = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(files.length == 3)
      files.foreach { f =>
        val got = spark.read.parquet(f.getPath).collect().map(_.getLong(0)).toSeq
        assert(got.size == 10 && got == got.sorted, s"${f.getName}: $got")
      }
    } finally {
      org.apache.hadoop.fs.FileSystem
        .get(new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
  }
}
