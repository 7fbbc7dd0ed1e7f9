package graft

import graft.sinks.{Compaction, IndexedParquetSink, Retention}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, LogicalRelation, HadoopFsRelation}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `IndexedParquetSink.readIndexed` serves the store's committed
  * snapshot: a batch is visible once its marker is in place and not
  * before, the orphans of a died commit never show, and on every kind of
  * store it returns what `spark.read.parquet` returns for the committed
  * files, with the same schema. */
class CommittedSnapshotSpec extends SparkSpec {

  /** `n` docs over 4 indices from `msg_id` `from`, over 4 tasks. */
  private def docs(from: Int, n: Int, index: Int => String = i => s"logs-${i % 4}") = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, s"""{"k": $i}""", index(i), s"app${i % 2}"))
      .toDF("msg_id", "data", "index", "app").repartition(4)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def ids(df: DataFrame): Seq[Long] =
    df.select("msg_id").collect().map(_.getLong(0)).toSeq.sorted

  /** Whether `df` reads through a listed file index (the fallback). */
  private def listed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .exists { case r: HadoopFsRelation => r.location.isInstanceOf[InMemoryFileIndex]
                case _ => false }

  /** `readIndexed` equals `spark.read.parquet` on `root`, schema and rows. */
  private def assertContract(root: String): DataFrame = {
    val served = IndexedParquetSink.readIndexed(spark, root)
    val plain = spark.read.parquet(root)
    assert(served.schema == plain.schema)
    assert(rows(served) == rows(plain))
    served
  }

  private def crash(at: String)(step: String): Unit =
    if (step == at) throw new RuntimeException(s"injected crash at $step")

  test("a reader inside every commit step sees none of the batch, then all of it") {
    val root = Files.createTempDirectory("graft-snap-steps").toString
    IndexedParquetSink.commitBatch(docs(0, 100), root, batchId = Some(0L))
    val seen = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    IndexedParquetSink.commitBatch(docs(1000, 400), root, batchId = Some(1L),
      onStep = step => seen += step -> IndexedParquetSink.readIndexed(spark, root)
        .filter(col("msg_id") >= 1000).count())
    assert(seen.map(_._1) == Seq("staged", "move 0", "move 1", "move 2", "move 3",
      "moves-done"), seen)
    assert(seen.forall(_._2 == 0L), seen)
    assert(ids(IndexedParquetSink.readIndexed(spark, root)) ==
      ((0L until 100L) ++ (1000L until 1400L)))
  }

  test("the orphans of a commit that died at 'move 1' are never read") {
    val root = Files.createTempDirectory("graft-snap-orphans").toString
    IndexedParquetSink.commitBatch(docs(0, 100), root, batchId = Some(0L))
    intercept[RuntimeException](IndexedParquetSink.commitBatch(docs(1000, 400), root,
      batchId = Some(1L), onStep = crash("move 1")))
    // the orphans are on disk, where a listing sees them
    assert(spark.read.parquet(root).count() > 100)
    assert(ids(IndexedParquetSink.readIndexed(spark, root)) == (0L until 100L))
  }

  test("crash at 'move 1', compaction, then the replay: the store is exact") {
    val root = Files.createTempDirectory("graft-snap-compact").toString
    IndexedParquetSink.commitBatch(docs(0, 100), root, batchId = Some(0L))
    intercept[RuntimeException](IndexedParquetSink.commitBatch(docs(1000, 400), root,
      batchId = Some(1L), onStep = crash("move 1")))
    Compaction.compact(spark, root, targetBytes = 1L << 30)
    IndexedParquetSink.commitBatch(docs(1000, 400), root, batchId = Some(1L))
    val expected = (0L until 100L) ++ (1000L until 1400L)
    assert(ids(IndexedParquetSink.readIndexed(spark, root)) == expected)
    assert(ids(spark.read.parquet(root)) == expected)
  }

  test("contract: a store written by the sync") {
    import graft.operators.SyncConfig
    import graft.sources.Tables
    import graft.streaming.StreamingSync
    val tmp = Files.createTempDirectory("graft-snap-sync").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(300).repartition(3).write.parquet(s"$tmp/src")
    StreamingSync.start(spark, SyncConfig(), s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, batchFiles = Some(1),
      failedDocPattern = Some("\"k\": 5[0-9]\\}")).awaitTermination(120000)
    assert(!listed(assertContract(s"$tmp/sink")))
  }

  test("contract: index values that need path escaping, and a null index") {
    // the non-ASCII value needs a UTF-8 file-name encoding, which the
    // forked test JVM gets from its LC_ALL (build.sbt)
    val values = Seq("a/b", "k=v", "50%", "with space", "tab\there", null, "ünïcødé")
    val root = Files.createTempDirectory("graft-snap-escape").toString
    IndexedParquetSink.commitBatch(docs(0, 140, i => values(i % values.size)), root,
      batchId = Some(0L))
    IndexedParquetSink.commitBatch(docs(500, 70, i => values(i % values.size)), root)
    val served = assertContract(root)
    assert(!listed(served))
    assert(served.select("index").distinct().collect().map(_.getString(0)).toSet ==
      values.toSet)
    // pruning by an escaped value reads that index alone
    assert(served.filter(col("index") === "a/b").count() == 30)
    // compaction plans by index value, so it keeps these indices' rows
    val before = rows(served)
    Compaction.compact(spark, root, targetBytes = 1L << 30)
    val compacted = assertContract(root)
    assert(!listed(compacted) && rows(compacted) == before)
  }

  test("contract: a compacted store, and a store after retention") {
    val root = Files.createTempDirectory("graft-snap-ilm").toString
    val dated = Seq("app-2024.01.05", "app-2024.02.10", "err-2024.01.31", "keep")
    (0 until 3).foreach(b => IndexedParquetSink.commitBatch(
      docs(b * 100, 100, i => dated(i % 4)), root, batchId = Some(b.toLong)))
    val report = Compaction.compact(spark, root, targetBytes = 1L << 30)
    assert(report.filesBefore == 12 && report.filesAfter == 4, report)
    assert(!listed(assertContract(root)))
    IndexedParquetSink.commitBatch(docs(300, 100, i => dated(i % 4)), root,
      batchId = Some(3L))
    assert(Retention.expireBefore(spark, root, "2024.02.01").deleted ==
      Seq("app-2024.01.05", "err-2024.01.31"))
    val served = assertContract(root)
    assert(!listed(served))
    assert(served.select("index").distinct().collect().map(_.getString(0)).toSet ==
      Set("app-2024.02.10", "keep"))
    assert(served.count() == 200)
  }

  test("contract: stores without a manifest are listed, until their first compaction") {
    // plain Spark writes: no markers at all
    val plain = Files.createTempDirectory("graft-snap-plain").resolve("store").toString
    docs(0, 80).write.partitionBy("index").parquet(plain)
    assert(listed(assertContract(plain)))
    // a commit into it is refused before it stages anything: its marker
    // would make the store serve the marker's files only
    def tree(): Seq[String] = {
      val base = java.nio.file.Paths.get(plain)
      val walk = Files.walk(base)
      try walk.iterator.asScala.map(base.relativize(_).toString).toSeq.sorted
      finally walk.close()
    }
    val before = tree()
    val refused = intercept[IllegalStateException](
      IndexedParquetSink.commitBatch(docs(100, 20), plain, batchId = Some(0L)))
    assert(refused.getMessage.contains("Compaction.compact"), refused.getMessage)
    assert(tree() == before)
    val stillListed = assertContract(plain)
    assert(listed(stillListed) && stillListed.count() == 80)
    // once a compaction has adopted it, the commit lands beside its rows
    Compaction.compact(spark, plain, targetBytes = 1L << 30)
    IndexedParquetSink.commitBatch(docs(100, 20), plain, batchId = Some(0L))
    val adopted = assertContract(plain)
    assert(!listed(adopted))
    assert(ids(adopted) == ((0L until 80L) ++ (100L until 120L)))

    // markers as earlier builds wrote them: version 1, then headerless
    val root = Files.createTempDirectory("graft-snap-v1")
    def toV1(m: Path, header: Boolean): Unit = {
      val kept = Files.readAllLines(m, UTF_8).asScala.drop(1).filterNot(_.startsWith("\\"))
      Files.delete(m.resolveSibling(s".${m.getFileName}.crc"))
      Files.write(m, ((if (header) Seq("graft-commit-marker\t1") else Nil) ++ kept)
        .mkString("", "\n", "\n").getBytes(UTF_8))
    }
    IndexedParquetSink.commitBatch(docs(0, 80), root.toString, batchId = Some(0L))
    IndexedParquetSink.commitBatch(docs(100, 80), root.toString, batchId = Some(1L))
    toV1(root.resolve("_commits/0"), header = true)
    toV1(root.resolve("_commits/1"), header = false)
    assert(listed(assertContract(root.toString)))
    // a version-2 commit on top: the version-1 markers still need the listing
    IndexedParquetSink.commitBatch(docs(200, 80), root.toString, batchId = Some(2L))
    val mixed = assertContract(root.toString)
    assert(listed(mixed) && mixed.count() == 240)
    // the first compaction writes the snapshot that folds them in
    Compaction.compact(spark, root.toString, targetBytes = 1L << 30)
    val compacted = assertContract(root.toString)
    assert(!listed(compacted) && compacted.count() == 240)
    assert(Files.exists(root.resolve("_snapshot/0")))
    // and a later commit joins the snapshot without a listing
    IndexedParquetSink.commitBatch(docs(300, 80), root.toString, batchId = Some(3L))
    val later = assertContract(root.toString)
    assert(!listed(later) && later.count() == 320)
  }

  test("building the frame runs no Spark job; a missing path fails as before") {
    val root = Files.createTempDirectory("graft-snap-jobs").toString
    IndexedParquetSink.commitBatch(docs(0, 100), root, batchId = Some(0L))
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new java.util.concurrent.atomic.AtomicInteger(-1)
    val probeEnded = new java.util.concurrent.atomic.AtomicBoolean()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.probe") != null)) probe.set(e.jobId)
        else started.incrementAndGet()
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (e.jobId == probe.get) probeEnded.set(true)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      IndexedParquetSink.readIndexed(spark, root)
      // a probe job: events arrive in order, so once its end is seen,
      // every job the read started has been counted
      sc.setLocalProperty("graft.probe", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.probe", null)
      val deadline = System.currentTimeMillis() + 10000
      while (!probeEnded.get && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(probeEnded.get && started.get == 0, s"${started.get} jobs")

    val missing = s"$root-missing"
    val e = intercept[AnalysisException](IndexedParquetSink.readIndexed(spark, missing))
    val p = intercept[AnalysisException](spark.read.parquet(missing))
    assert(e.getCondition == p.getCondition && e.getMessage == p.getMessage)
  }
}
