package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the indexed store (the OPTIMIZE pass every
  * streaming sink needs at scale: each trigger appends a file per task per
  * index, so a week of 5-second flushes is millions of tiny files and a
  * metadata-bound scan).
  *
  * The rewrite targets `targetBytes` per output file two ways: per index
  * partition, rows are salted into ceil(partition_bytes / targetBytes)
  * buckets and shuffled by (index, salt) — that sizes the PARALLELISM —
  * and the writer's `maxRecordsPerFile` (derived from the store's average
  * row footprint) enforces the split even when salt buckets hash into the
  * same task.
  * The new layout is written beside the store and swapped in with two
  * renames — atomic on HDFS-like filesystems; on object stores run it
  * inside the table-format transaction (Delta/Iceberg) instead.
  *
  * Driver cost is one file listing, O(#files) — the same listing any
  * compaction planner pays; the data move is one shuffle of the store. */
object Compaction {

  final case class Report(partitions: Int, filesBefore: Long,
      filesAfter: Long, bytes: Long)

  /** File counts/bytes per `index=` partition directory. */
  private def partitionSizes(fs: FileSystem, root: Path,
      partitionCol: String): Map[String, (Long, Long)] =
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
      .map { d =>
        val files = fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        (d.getPath.getName, (files.length.toLong, files.map(_.getLen).sum))
      }.toMap

  /** Move the old layout's NON-DATA entries (streaming _checkpoint,
    * _failed payload log, _spark_metadata…) into the new root. In
    * `strict` mode (the fresh post-swap carry) an already-existing
    * destination means a CONCURRENT writer recreated state mid-swap —
    * neither copy can be auto-chosen, so fail loudly; in lenient mode
    * (crash recovery — entries may have been carried before the crash)
    * an existing destination is simply already done. Deletes `old`
    * only once every entry is accounted for. */
  private def carryForward(fs: FileSystem, root: Path, old: Path,
      partitionCol: String, strict: Boolean): Unit = {
    fs.listStatus(old)
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith(s"$partitionCol=") && n != "_SUCCESS"
      }
      .foreach { st =>
        val n = st.getPath.getName
        val dest = new Path(root, n)
        if (fs.exists(dest)) {
          if (strict) throw new IllegalStateException(
            s"compaction carry-forward: $dest already exists (a " +
              "concurrent writer recreated it mid-swap); entries carried " +
              s"so far are at $root, the rest at $old — operational " +
              "state is SPLIT across both layouts, resolve manually " +
              "before re-running")
        } else if (!fs.rename(st.getPath, dest))
          throw new IllegalStateException(
            s"compaction carry-forward: could not move $n; entries " +
              s"carried so far are at $root, the rest at $old — " +
              "operational state is SPLIT across both layouts, resolve " +
              "manually before re-running")
      }
    fs.delete(old, true)
    ()
  }

  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      partitionCol: String = "index"): Report = {
    ForklessLocalFileSystem.withFileSystem(path,
        spark.sparkContext.hadoopConfiguration) { fs =>
      val root = new Path(path)
      val old0 = new Path(s"$path._precompact")
      // a leftover `._precompact` means a prior compaction crashed after
      // its swap but before its carry-forward: the consumer state it
      // stranded must be recovered FIRST — blindly deleting it (the old
      // behavior) would destroy the only copy of _checkpoint/_failed
      if (fs.exists(old0) && !fs.exists(root)) {
        // crashed BETWEEN the two swap renames: the store is wholly at
        // `._precompact` — restore it wholesale before anything else
        if (!fs.rename(old0, root))
          throw new IllegalStateException(
            s"could not restore crashed-compaction store from $old0")
      } else if (fs.exists(old0) && fs.exists(root))
        carryForward(fs, root, old0, partitionCol, strict = false)
      val before = partitionSizes(fs, root, partitionCol)
      val filesBefore = before.values.map(_._1).sum
      val totalBytes = before.values.map(_._2).sum

      // bucket plan: index value -> output file count (small, broadcast)
      import spark.implicits._
      val plan = before.toSeq.map { case (dir, (_, bytes)) =>
        val value = dir.stripPrefix(s"$partitionCol=")
        (value, math.max(1L, (bytes + targetBytes - 1) / targetBytes))
      }.toDF(partitionCol, "__nf")

      val df = spark.read.parquet(path)
      // parquet footer count — metadata-only, no data scan
      val totalRows = math.max(1L, df.count())
      val bytesPerRow = math.max(1L, totalBytes / totalRows)
      val maxRecords = math.max(1L, targetBytes / bytesPerRow)
      val salted = df
        .join(broadcast(plan), partitionCol)
        .withColumn("__salt",
          pmod(xxhash64(struct(df.columns.map(col): _*)), col("__nf")))
      val tmp = new Path(s"$path._compacting")
      fs.delete(tmp, true)
      salted
        .repartition(col(partitionCol), col("__salt"))
        .drop("__nf", "__salt")
        .write.options(ForklessLocalFileSystem.options)
        .option("maxRecordsPerFile", maxRecords)
        .partitionBy(partitionCol).parquet(tmp.toString)

      val old = old0
      if (!fs.rename(root, old) || !fs.rename(tmp, root))
        throw new IllegalStateException(s"compaction swap failed for $path")
      // carry forward the store's NON-DATA entries: the rewrite only
      // produces index= partitions (+ its own _SUCCESS), but a LIVE sync
      // keeps operational state beside them (the streaming _checkpoint,
      // the _failed payload log) — dropping those with the old layout
      // would reset the consumer and erase the failure audit
      // (CompactionSpec's fault tests pin this)
      carryForward(fs, root, old, partitionCol, strict = true)

      val after = partitionSizes(fs, root, partitionCol)
      Report(after.size, filesBefore, after.values.map(_._1).sum, totalBytes)
    }
  }
}
