package graft

import graft.operators.SyncConfig
import graft.sinks.{Compaction, IndexedParquetSink, Retention}
import graft.sources.Tables
import graft.streaming.StreamingSync
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The store's file format, read back from the parquet footers: every
  * column chunk that the sink's commit (store and `_failed` log), a
  * compaction and the sync's metrics store write is zstd, and the store's
  * `data` payload carries no statistics while the columns readers filter
  * on keep theirs. A store of older snappy files keeps serving beside
  * zstd commits until a compaction rewrites it. */
class StoreFormatSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** (file, column chunk) of every parquet data file under `dir`. */
  private def chunks(dir: String): Seq[(String, ColumnChunkMetaData)] = {
    val files = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq
    assert(files.nonEmpty, s"no parquet file under $dir")
    files.flatMap { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), new Configuration()))
      try r.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala).map(c => (f, c))
      finally r.close()
    }
  }

  private def assertCodec(dir: String, codec: CompressionCodecName): Unit = {
    val other = chunks(dir).filter(_._2.getCodec != codec)
      .map { case (f, c) => s"$f ${c.getPath.toDotString} ${c.getCodec}" }
    assert(other.isEmpty, s"column chunks not $codec: ${other.take(5)}")
  }

  /** `data` has no min/max in any chunk; each of `kept` has them in all. */
  private def assertStatistics(dir: String, kept: Seq[String]): Unit = {
    val byCol = chunks(dir).groupBy(_._2.getPath.toDotString)
    val withData = byCol("data").filter(_._2.getStatistics.hasNonNullValue)
    assert(withData.isEmpty, s"data statistics in ${withData.map(_._1).distinct.take(3)}")
    kept.foreach { c =>
      assert(byCol(c).forall(_._2.getStatistics.hasNonNullValue), s"$c lost its statistics")
    }
  }

  private val Filtered = Seq("msg_id", "app", "is_debug")

  /** `n` docs from `from`, over 3 indices and 2 apps; every 7th is a
    * poison doc. */
  private def docs(from: Int, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map { i =>
      (i.toLong, s"""{"level": "info", "n": $i, "msg": "${if (i % 7 == 0) "poison" else "ok"} ${"x" * 60}"}""",
        s"idx${i % 3}", s"app${i % 2}", i % 5 == 0)
    }.toDF("msg_id", "data", "index", "app", "is_debug").repartition(2)
  }

  test("commitBatch writes the store and its _failed log in zstd, data without statistics") {
    val store = Files.createTempDirectory("graft-format").resolve("store").toString
    IndexedParquetSink.commitBatch(docs(0, 300), store,
      isFailed = Some(col("data").contains("poison")),
      failedPath = Some(s"$store/_failed"), batchId = Some(0L))
    assertCodec(s"$store/_failed", CompressionCodecName.ZSTD)
    assertCodec(store, CompressionCodecName.ZSTD)
    assertStatistics(s"$store/_failed", Filtered)
    assertStatistics(store, Filtered)
    assert(IndexedParquetSink.readIndexed(spark, store).count() === 300 - 43)
  }

  test("compaction rewrites in zstd, data without statistics") {
    val store = Files.createTempDirectory("graft-format-c").resolve("store").toString
    (0 until 3).foreach(b => IndexedParquetSink.commitBatch(docs(b * 100, 100), store,
      batchId = Some(b.toLong)))
    val before = rows(IndexedParquetSink.readIndexed(spark, store))
    val report = Compaction.compact(spark, store, targetBytes = 1L << 30)
    assert(report.filesAfter === 3, report)
    assertCodec(store, CompressionCodecName.ZSTD)
    assertStatistics(store, Filtered)
    assert(rows(IndexedParquetSink.readIndexed(spark, store)) === before)
  }

  test("the sync writes its store, _failed log and metrics store in zstd") {
    val tmp = Files.createTempDirectory("graft-format-sync").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .write.parquet(s"$tmp/src")
    val q = StreamingSync.start(spark, SyncConfig(), s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, failedDocPattern = Some("\"k\": 1[0-9]\\}"))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception)
    Seq(s"$tmp/sink", s"$tmp/sink/_failed", s"$tmp/metrics")
      .foreach(assertCodec(_, CompressionCodecName.ZSTD))
    assertStatistics(s"$tmp/sink", Filtered)
    val metricsFiles = Files.walk(Paths.get(s"$tmp/metrics")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(metricsFiles === Set("part-00000.parquet"))
    val written = spark.read.parquet(s"$tmp/metrics").agg(sum("written")).head.getLong(0)
    assert(written === IndexedParquetSink.readIndexed(spark, s"$tmp/sink").count())
  }

  test("a store of snappy files serves beside zstd commits; compaction rewrites it in zstd") {
    val store = Files.createTempDirectory("graft-format-mixed").resolve("store").toString
    // an older store: plain Spark appends, snappy by default
    (0 until 4).foreach(a => docs(a * 60, 60)
      .write.mode("append").partitionBy("index").parquet(store))
    assertCodec(store, CompressionCodecName.SNAPPY)
    // a store without a manifest is adopted by its first maintenance run;
    // a retention run that expires nothing adopts it without a rewrite
    assert(Retention.expireBefore(spark, store, "0001.01.01").deleted.isEmpty)
    (0 until 2).foreach(b => IndexedParquetSink.commitBatch(docs(240 + b * 60, 60), store,
      batchId = Some(b.toLong)))
    assert(chunks(store).map(_._2.getCodec).toSet ===
      Set(CompressionCodecName.SNAPPY, CompressionCodecName.ZSTD))

    val served = IndexedParquetSink.readIndexed(spark, store)
    val expect = rows(docs(0, 360).select(served.columns.map(col): _*))
    assert(rows(served) === expect)

    Compaction.compact(spark, store, targetBytes = 1L << 30)
    assertCodec(store, CompressionCodecName.ZSTD)
    assertStatistics(store, Filtered)
    assert(rows(IndexedParquetSink.readIndexed(spark, store)) === expect)
  }
}
