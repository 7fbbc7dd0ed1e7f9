package graft

import graft.sinks.IndexedParquetSink
import graft.sources.Connectors
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** The indexed sink's on-disk layout per committed batch: one data file
  * per (destination, index) however many tasks produced the batch, no
  * staging leftovers, bulk metrics equal to a groupBy of the input, the
  * modes and checksums Hadoop's local filesystem gives, and a versioned
  * commit marker (the current version 2, and versions 1 and headerless
  * as earlier builds wrote them). A commit is one pass: its metrics are counted inside
  * its one write. */
class SinkLayoutSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val data = if (i % 7 == 3) s"""{"poison": $i}""" else s"""{"k": $i}"""
      (i.toLong, data, s"logs-${i % 3}", s"app${i % 2}")
    }.toDF("msg_id", "data", "index", "app").repartition(4)
  }
  private val poison = col("data").contains("poison")

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

  test("a commit forks no chmod and keeps Hadoop's modes, .crc sidecars and checksums") {
    val hconf = spark.sparkContext.hadoopConfiguration
    Seq(None, Some("077")).foreach { umask =>
      withClue(s"umask $umask: ") {
        umask.foreach(hconf.set("fs.permissions.umask-mode", _))
        try {
          val root = Files.createTempDirectory("graft-forkless")
          val probe = Files.createTempDirectory("graft-probe")
          // Hadoop's default local filesystem, uncached so that it reads
          // this umask, with its bad-file quarantine move turned off
          val plain = new LocalFileSystem {
            override def reportChecksumFailure(p: Path,
                in: org.apache.hadoop.fs.FSDataInputStream, inPos: Long,
                sums: org.apache.hadoop.fs.FSDataInputStream, sumsPos: Long) = false
          }
          plain.initialize(root.toUri, hconf)
          def mode(p: java.nio.file.Path) =
            PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

          val rec = new jdk.jfr.Recording()
          rec.enable("jdk.ProcessStart")
          val jfr = Files.createTempFile("graft-forks", ".jfr")
          rec.setDestination(jfr)
          rec.start()
          try {
            plain.create(new Path(s"$probe/d/f")).close()
            IndexedParquetSink.commitBatch(docs(200), root.toString,
              Some(poison), Some(s"$root/_failed"), Some(3L))
          } finally rec.stop()
          val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
            .map(_.getString("command")).filter(_.startsWith("chmod"))
          rec.close()
          assert(!chmods.exists(_.contains(root.toString)), chmods)
          // the recorder sees the forks Hadoop makes without libhadoop
          if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
            assert(chmods.exists(_.contains(probe.toString)))

          val (fileMode, dirMode) = (mode(probe.resolve("d/f")), mode(probe.resolve("d")))
          val entries = Files.walk(root).iterator.asScala.toSeq.filter(_ != root)
          val (dirs, files) = entries.partition(Files.isDirectory(_))
          assert(dirs.map(mode).toSet == Set(dirMode), dirs)
          assert(files.map(mode).toSet == Set(fileMode), files)
          assert(umask.forall(_ => fileMode == "rw-------" && dirMode == "rwx------"))

          val data = files.filter(_.toString.endsWith(".parquet"))
          assert(data.nonEmpty && data.exists(_.toString.contains("/_failed/")))
          (data :+ root.resolve("_commits/3")).foreach { f =>
            assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
          }
          val f = data.head
          val bytes = Files.readAllBytes(f)
          bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
          Files.write(f, bytes)
          intercept[ChecksumException] {
            val in = plain.open(new Path(f.toUri))
            try in.readFully(new Array[Byte](bytes.length)) finally in.close()
          }
          plain.close()
        } finally hconf.unset("fs.permissions.umask-mode")
      }
    }
  }

  test("a non-ASCII path is created as Hadoop's local filesystem creates it") {
    // with no UTF-8 locale the JVM's file-name encoding is ASCII, and such
    // a name has no NIO path: the mode is then set the way Hadoop sets it.
    // (Hadoop itself cannot stat that path, so a Spark write of a
    // non-ASCII partition needs a UTF-8 locale on any filesystem class.)
    val hconf = spark.sparkContext.hadoopConfiguration
    val created = Seq(new LocalFileSystem, new graft.sinks.ForklessLocalFileSystem).map { fs =>
      val root = Files.createTempDirectory("graft-nonascii")
      fs.initialize(root.toUri, hconf)
      try {
        val dir = new Path(root.toUri.toString, "index=ünïcødé")
        assert(fs.mkdirs(dir))
        fs.create(new Path(dir, "b0-0.parquet")).close()
      } finally fs.close()
      Files.walk(root).iterator.asScala.toSeq.filter(_ != root).map(p =>
        (root.relativize(p).toString,
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))).sorted
    }
    assert(created.head.size == 3 && created.last == created.head, created)
  }

  test("commit markers carry a version header; headerless ones still read") {
    val root = Files.createTempDirectory("graft-marker")
    def commit(batchId: Long) = IndexedParquetSink.commitBatch(docs(40),
      root.toString, Some(poison), Some(s"$root/_failed"), Some(batchId))
    def marker(id: Long) = root.resolve(s"_commits/$id")
    def tree() = Files.walk(root).iterator.asScala.map(_.toString).toSet

    commit(1)
    assert(Files.readAllLines(marker(1), UTF_8).asScala.head ==
      "graft-commit-marker\t2")
    val written = tree()
    // a marker without the header, as earlier builds wrote it: the batch
    // counts as committed, its recorded metrics come back
    Files.write(marker(2), "logs-0\tapp0\t5\t2\nlogs-1\tapp1\t4\t0\n".getBytes(UTF_8))
    assert(commit(2).orderBy("index").collect().toSeq.map(_.toSeq) ==
      Seq(Seq("logs-0", "app0", 5L, 2L), Seq("logs-1", "app1", 4L, 0L)))
    // a version-1 marker: its rows come back the same way
    Files.write(marker(4), "graft-commit-marker\t1\nlogs-2\tapp0\t3\t1\n".getBytes(UTF_8))
    assert(commit(4).collect().toSeq.map(_.toSeq) == Seq(Seq("logs-2", "app0", 3L, 1L)))
    // an unknown version fails before anything is written
    Files.write(marker(3), "graft-commit-marker\t3\nlogs-0\tapp0\t5\t2\n".getBytes(UTF_8))
    val e = intercept[IllegalStateException](commit(3))
    assert(e.getMessage.contains("version 3"))
    assert(tree() == written ++ Set(marker(2), marker(3), marker(4)).map(_.toString))
  }

  /** `groupBy(index, app)` of `input`: (index, app, written, failed),
    * the sink's metrics computed the plain way. */
  private def groupByMetrics(input: org.apache.spark.sql.DataFrame,
      isFailed: org.apache.spark.sql.Column): Seq[Seq[Any]] =
    input.groupBy("index", "app")
      .agg(sum(when(isFailed, 0L).otherwise(1L)).as("written"),
        sum(when(isFailed, 1L).otherwise(0L)).as("failed"))
      .orderBy("index", "app").collect().toSeq.map(_.toSeq)
  private def sorted(metrics: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    metrics.select("index", "app", "written", "failed")
      .orderBy("index", "app").collect().toSeq.map(_.toSeq)

  test("a commit with failed docs and a batch id runs at most 2 Spark jobs") {
    // no shuffle of its own in the input, so every job is the commit's
    val input = spark.range(0, 400, 1, 4).select(col("id").as("msg_id"),
      when(col("id") % 7 === 3, lit("""{"poison": 1}""")).otherwise(lit("""{"k": 1}""")).as("data"),
      concat(lit("logs-"), (col("id") % 3).cast("string")).as("index"),
      concat(lit("app"), (col("id") % 2).cast("string")).as("app"))
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    val root = Files.createTempDirectory("graft-jobs").toString
    spark.sparkContext.addSparkListener(listener)
    val metrics = try {
      val m = IndexedParquetSink.commitBatch(input, root, Some(poison),
        Some(s"$root/_failed"), Some(1L))
      // listener events arrive asynchronously: every job that started has
      // ended once the commit returned
      val deadline = System.currentTimeMillis() + 10000
      while (ended.get < started.get && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      m
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.get >= 1 && started.get <= 2, s"${started.get} jobs")
    assert(sorted(metrics) == groupByMetrics(input, poison))
  }

  test("failed docs without a failedPath are counted as failed, not written") {
    val input = docs(300)
    val root = Files.createTempDirectory("graft-nofailedpath")
    val metrics = IndexedParquetSink.commitBatch(input, root.toString,
      Some(poison), None, Some(2L))
    assert(sorted(metrics) == groupByMetrics(input, poison))
    assert(groupByMetrics(input, poison).map(_(3).asInstanceOf[Long]).sum > 0)
    assert(!Files.exists(root.resolve("_failed")))
    import spark.implicits._
    assert(spark.read.parquet(root.toString).select("msg_id").as[Long]
      .collect().sorted.toSeq ==
      input.filter(!poison).select("msg_id").as[Long].collect().sorted.toSeq)
  }

  test("null labels and tab/newline/backslash in labels are counted and round-trip the marker") {
    import spark.implicits._
    val labels = Seq[String](null, "a\tb", "c\nd", "e\\f", "\\N", "plain")
    val input = (0 until 240).map { i =>
      val data = if (i % 5 == 0) s"""{"poison": $i}""" else s"""{"k": $i}"""
      (i.toLong, data, labels(i % labels.size), labels((i / 2) % labels.size))
    }.toDF("msg_id", "data", "index", "app").repartition(4)
    val expected = groupByMetrics(input, poison)
    assert(expected.exists(_(0) == null) && expected.exists(_(1) == null))
    val root = Files.createTempDirectory("graft-labels").toString
    def commit() = IndexedParquetSink.commitBatch(input, root, Some(poison),
      Some(s"$root/_failed"), Some(4L))
    assert(sorted(commit()) == expected)
    // the second commit of the batch reads its metrics back from the marker
    assert(sorted(commit()) == expected)
    assert(spark.read.parquet(root).count() == input.filter(!poison).count())
  }

  test("an attempt killed after staging and retried counts each doc once") {
    val input = docs(300)
    val root = Files.createTempDirectory("graft-retry").toString
    var attempts = 0
    def kill(step: String): Unit =
      if (attempts == 1 && step == "staged") throw new RuntimeException("killed")
    def commit() = IndexedParquetSink.withRetries(2, backoffMs = 1) { () =>
      attempts += 1
      IndexedParquetSink.commitBatch(input, root, Some(poison),
        Some(s"$root/_failed"), Some(6L), onStep = kill)
    }
    val expected = groupByMetrics(input, poison)
    assert(sorted(commit()) == expected)
    assert(attempts == 2)
    assert(sorted(commit()) == expected) // from the marker
    import spark.implicits._
    assert(spark.read.parquet(root).select("msg_id").as[Long]
      .collect().sorted.toSeq ==
      input.filter(!poison).select("msg_id").as[Long].collect().sorted.toSeq)
  }

  test("a batch the filters empty commits with empty metrics and a marker") {
    val emptied = Seq(docs(50).filter(col("msg_id") < 0),
      docs(50).filter(col("data").contains("poison") && !col("data").contains("poison")))
    emptied.zipWithIndex.foreach { case (input, i) =>
      withClue(s"input $i: ") {
        val root = Files.createTempDirectory("graft-empty")
        val t0 = System.nanoTime()
        val metrics = IndexedParquetSink.commitBatch(input, root.toString,
          Some(poison), Some(s"$root/_failed"), Some(8L))
        assert((System.nanoTime() - t0) / 1000000 < 30000)
        assert(metrics.columns.toSeq == Seq("index", "app", "written", "failed"))
        assert(metrics.collect().isEmpty)
        // no rows and no files: the header and the data schema
        assert(Files.readAllLines(root.resolve("_commits/8"), UTF_8).asScala.toSeq ==
          Seq("graft-commit-marker\t2", "\\schema\t" + StructType(
            input.schema.filterNot(_.name == "index")).json))
        assert(sorted(IndexedParquetSink.commitBatch(input, root.toString,
          Some(poison), Some(s"$root/_failed"), Some(8L))).isEmpty)
      }
    }
  }
}
