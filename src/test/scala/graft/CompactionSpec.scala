package graft

import graft.sinks.{Compaction, IndexedParquetSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Paths}
import scala.jdk.CollectionConverters._

/** Compaction: a fragmented indexed store collapses to ~1 file per
  * partition (big target), preserves every row, leaves no scratch dirs
  * behind, and rewrites the store in place: readers of the committed
  * snapshot see its rows at every step, a crash at any step converges on
  * the next run, and a live sync keeps committing beside it. */
class CompactionSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq

  /** Batch `b`: 100 docs over 4 indices, over 4 tasks. */
  private def batch(b: Int): DataFrame = {
    import spark.implicits._
    (b * 100 until b * 100 + 100).map(i => (i.toLong, s"doc $i", s"idx${i % 4}", s"app${i % 2}"))
      .toDF("msg_id", "data", "index", "app").repartition(4)
  }

  /** The store serves `expect`, and the data files on disk are exactly
    * those its newest snapshot names: none that an older snapshot or a
    * folded marker named, and no orphan of a crashed run. */
  private def assertSettled(root: String, expect: Seq[String]): Unit = {
    assert(rows(IndexedParquetSink.readIndexed(spark, root)) === expect)
    val newest = Files.list(Paths.get(root, "_snapshot")).iterator.asScala
      .map(_.getFileName.toString).flatMap(_.toLongOption).max
    val named = Files.readAllLines(Paths.get(root, "_snapshot", newest.toString), UTF_8)
      .asScala.map(_.split("\t", -1)).collect { case Array("\\file", _, n, _) => n }.toSet
    val onDisk = Files.walk(Paths.get(root)).iterator.asScala
      .filter(p => p.getParent.getFileName.toString.startsWith("index="))
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(onDisk === named)
  }

  test("compact merges small files, preserves rows, cleans up") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val store = s"$tmp/store"

    // simulate many tiny flushes: 3 indices × 8 appends, forced 2-file writes
    val docs = (0 until 240).map(i => (i.toLong, s"doc $i", s"idx${i % 3}"))
      .toDF("msg_id", "data", "index")
    (0 until 8).foreach { _ =>
      docs.repartition(2).write.mode("append").partitionBy("index")
        .parquet(store)
    }
    val beforeRows = spark.read.parquet(store).collect()
      .map(_.toString).sorted.toSeq

    val report = Compaction.compact(spark, store, targetBytes = 1L << 30)

    assert(report.partitions === 3)
    assert(report.filesBefore >= 3 * 8L)
    assert(report.filesAfter === 3, s"want 1 file per index: $report")
    val afterRows = spark.read.parquet(store).collect()
      .map(_.toString).sorted.toSeq
    assert(afterRows === beforeRows)
    // no scratch dirs left behind
    val names = new java.io.File(tmp).listFiles().map(_.getName).toSet
    assert(names === Set("store"))
  }

  test("targetBytes splits a hot partition into multiple files") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact2").toString
    val store = s"$tmp/store"
    val docs = (0 until 5000)
      .map(i => (i.toLong, "x" * 200, if (i < 4500) "hot" else "cold"))
      .toDF("msg_id", "data", "index")
    docs.repartition(4).write.partitionBy("index").parquet(store)

    val report = Compaction.compact(spark, store, targetBytes = 16 * 1024)
    assert(report.filesAfter > report.partitions,
      s"hot partition must split into multiple target-size files: $report")
    assert(spark.read.parquet(store).count() === 5000)
  }

  test("fault: concurrent readers never observe a partial store") {
    // hammer committed-snapshot reads while three compactions rewrite the
    // store in place: every SUCCESSFUL read must see exactly the rows it
    // had. A relation built before a compaction deleted the files it
    // superseded fails with FileNotFoundException, or NoSuchFileException
    // from Hadoop's vectored read; nothing else may fail.
    // (A listing reader is not isolated: it can see a rewrite's moved
    // files beside the ones they replace.)
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact3").toString
    val store = s"$tmp/store"
    val docs = (0 until 600).map(i => (i.toLong, s"doc $i", s"idx${i % 3}"))
      .toDF("msg_id", "data", "index")
    (0 until 6).foreach(_ => docs.repartition(2).write.mode("append")
      .partitionBy("index").parquet(store))
    val expect = rows(spark.read.parquet(store))
    @volatile var done = false
    @volatile var wrong: Option[Either[Throwable, Int]] = None
    val reader = new Thread(() => {
      while (!done && wrong.isEmpty) {
        try {
          val got = rows(IndexedParquetSink.readIndexed(spark, store))
          if (got != expect) wrong = Some(Right(got.size))
        } catch {
          case e: Exception if causes(e).exists(c =>
            c.isInstanceOf[FileNotFoundException] || c.isInstanceOf[NoSuchFileException]) => ()
          case e: Exception => wrong = Some(Left(e))
        }
      }
    })
    reader.start()
    try {
      (0 until 3).foreach(_ =>
        Compaction.compact(spark, store, targetBytes = 1L << 30))
    } finally { done = true; reader.join(60000) }
    assert(wrong.isEmpty, s"a reader saw $wrong against ${expect.size} rows")
    assert(rows(IndexedParquetSink.readIndexed(spark, store)) === expect)
    assert(rows(spark.read.parquet(store)) === expect)
  }

  test("fault: a store an earlier build left mid-swap is refused untouched") {
    // an earlier build's compaction that died inside its root swap left
    // the store's _checkpoint in `._precompact`, possibly its only copy
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact5").toString
    val store = s"$tmp/store"
    (0 until 90).map(i => (i.toLong, s"d$i", s"idx${i % 3}"))
      .toDF("msg_id", "data", "index").write.partitionBy("index").parquet(store)
    val pre = new java.io.File(s"$store._precompact/_checkpoint")
    assert(pre.mkdirs())
    Files.writeString(pre.toPath.resolve("offsets"), "batch-7")
    def tree = Files.walk(Paths.get(tmp)).iterator.asScala
      .map(p => (p.toString, if (Files.isRegularFile(p)) Files.size(p) else -1L)).toSet
    val before = tree
    val e = intercept[IllegalStateException](
      Compaction.compact(spark, store, targetBytes = 1L << 30))
    assert(e.getMessage.contains("._precompact"))
    assert(tree === before)
    assert(Files.readString(pre.toPath.resolve("offsets")) === "batch-7")
  }

  test("fault: a crash at every compaction step; the re-run converges") {
    // a store with a snapshot (an earlier compaction) and a marker it has
    // not folded in: a run supersedes the files of both
    def store(): String = {
      val root = Files.createTempDirectory("graft-compact-crash").toString
      (0 until 3).foreach(b => IndexedParquetSink.commitBatch(batch(b), root,
        batchId = Some(b.toLong)))
      Compaction.compact(spark, root, targetBytes = 1L << 30)
      IndexedParquetSink.commitBatch(batch(3), root, batchId = Some(3L))
      root
    }
    // the store's column order: the partition column last
    val expect = (0 until 4).flatMap(b =>
      rows(batch(b).select("msg_id", "data", "app", "index"))).sorted
    def served(root: String) = rows(IndexedParquetSink.readIndexed(spark, root))

    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val root0 = store()
    Compaction.compact(spark, root0, targetBytes = 1L << 30, onStep = { step =>
      seen += step
      assert(served(root0) === expect, s"a reader at '$step'")
    })
    val steps = Seq("staged", "move 0", "move 1", "move 2", "move 3", "snapshot")
    assert(seen === steps)
    assertSettled(root0, expect)

    steps.foreach { at =>
      withClue(s"crash at '$at': ") {
        val root = store()
        intercept[RuntimeException](Compaction.compact(spark, root,
          targetBytes = 1L << 30, onStep = s =>
            if (s == at) throw new RuntimeException(s"injected crash at $s")))
        assert(served(root) === expect)
        Compaction.compact(spark, root, targetBytes = 1L << 30)
        assertSettled(root, expect)
      }
    }
  }

  test("fault: compaction during a live sync loses and duplicates nothing") {
    // a sync on a processing-time trigger keeps committing source files
    // that a feeder adds while the store is compacted
    import graft.operators.{SyncConfig, SyncPipeline}
    import graft.streaming.StreamingSync
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact-live").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val cols = Seq("msg_id", "topic", "publish_time", "data")
    def msgs(from: Long, n: Long) = (from until from + n)
      .map(id => (id, if (id % 2 == 0) "click" else "view", ts, s"""{"k": $id}"""))
      .toDF(cols: _*)
    val cfg = SyncConfig()
    val perFile = 20L
    val fed = new java.util.concurrent.atomic.AtomicLong()
    def feed(): Unit = msgs(fed.getAndIncrement() * perFile, perFile).repartition(1)
      .write.mode("append").parquet(s"$tmp/src")
    def markers = Option(new java.io.File(s"$tmp/sink/_commits").list())
      .fold(0)(_.count(!_.startsWith(".")))

    feed()
    val q = StreamingSync.start(spark, cfg.copy(flushIntervalMs = 100L),
      s"$tmp/src", s"$tmp/sink", s"$tmp/metrics", batchFiles = Some(1))
    @volatile var feeding = true
    val feeder = new Thread(() => while (feeding) { feed(); Thread.sleep(150) })
    // commits landed during each run; at least 3 runs, and more (up to 10)
    // until one ran beside a commit
    var landed = Seq.empty[Int]
    try {
      q.processAllAvailable()
      feeder.start()
      while (landed.size < 3 || (landed.sum == 0 && landed.size < 10)) {
        val before = markers
        val r = Compaction.compact(spark, s"$tmp/sink", targetBytes = 1L << 30)
        assert(r.filesAfter > 0, r)
        landed :+= markers - before
      }
    } finally { feeding = false; feeder.join(60000) }
    try q.processAllAvailable() finally q.stop()
    assert(q.exception.isEmpty, q.exception)
    assert(landed.sum > 0, landed)

    val expected = SyncPipeline(cfg)(msgs(0, fed.get * perFile))
      .select("msg_id").as[Long].collect().sorted.toSeq
    val store = IndexedParquetSink.readIndexed(spark, s"$tmp/sink")
      .select("msg_id").as[Long].collect().sorted.toSeq
    assert(store === expected)
  }

  test("fault: compacting a LIVE sync store preserves checkpoint and failure log") {
    // maintenance interleaved with the streaming sync: batch 1 drains,
    // compaction rewrites the store (the _checkpoint and _failed dirs
    // live INSIDE it), then a second AvailableNow run must RESUME from
    // the preserved checkpoint — final store equals the batch pipeline
    // over all messages, no loss, no replay duplicates
    import graft.operators.{SyncConfig, SyncPipeline}
    import graft.streaming.StreamingSync
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact4").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def m(id: Long) = (id, if (id % 2 == 0) "click" else "view", ts,
      s"""{"k": $id}""")
    val cols = Seq("msg_id", "topic", "publish_time", "data")
    val cfg = SyncConfig()
    val poison = "\"k\": 13\\}"

    (1L to 40L).map(m).toDF(cols: _*).repartition(1)
      .write.mode("append").parquet(s"$tmp/src")
    val q1 = StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, failedDocPattern = Some(poison))
    assert(q1.awaitTermination(120000))

    Compaction.compact(spark, s"$tmp/sink", targetBytes = 1L << 30)
    val names = new java.io.File(s"$tmp/sink").listFiles()
      .map(_.getName).toSet
    assert(names.contains("_checkpoint"),
      s"compaction dropped the consumer checkpoint: $names")
    assert(names.contains("_failed"),
      s"compaction dropped the failed-payload log: $names")

    (41L to 80L).map(m).toDF(cols: _*).repartition(1)
      .write.mode("append").parquet(s"$tmp/src")
    val q2 = StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, failedDocPattern = Some(poison))
    assert(q2.awaitTermination(120000))

    val store = spark.read.parquet(s"$tmp/sink")
      .select("msg_id").as[Long].collect().sorted.toSeq
    val batch = SyncPipeline(cfg)((1L to 80L).map(m).toDF(cols: _*))
      .filter(!col("data").rlike(poison))
      .select("msg_id").as[Long].collect().sorted.toSeq
    assert(store === batch, "resumed store must equal the batch pipeline")
    // the diverted batch-1 doc is still in the preserved failure log
    assert(spark.read.parquet(s"$tmp/sink/_failed")
      .select("msg_id").as[Long].collect().toSeq === Seq(13L))
  }
}
