package graft.sinks

import org.apache.hadoop.fs.Path
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
  *
  * The store is compacted in place, beside a live sync. The rewrite of
  * the committed state is staged in `_staging/c<n>` (`n` the next
  * snapshot number) and its files are moved into the `index=` dirs as
  * `c<n>-<k>.parquet`, as a commit moves a batch's. Its commit point is
  * `_snapshot/<n>`, which names only the new files and folds in the
  * markers the rewrite read; only then are the files it superseded
  * deleted ([[StoreManifest.settle]]). A commit that lands during the
  * rewrite is not folded in, so readers keep serving it from its marker.
  * A run that crashes before its snapshot leaves `c<n>-*` orphans that
  * no manifest names, which the next run scrubs; one that crashes after
  * it is finished by the next run. A store with no manifest is adopted
  * first ([[StoreManifest.committed]]). One maintenance run at a time per
  * store is assumed.
  *
  * Driver cost is the store's manifest read (one listing for a store it
  * adopts) and one glob of the staged files, O(#files); the data move is
  * one shuffle of the store. */
object Compaction {

  final case class Report(partitions: Int, filesBefore: Long,
      filesAfter: Long, bytes: Long)

  /** Rewrite the store's committed snapshot (see
    * [[IndexedParquetSink.readIndexed]]) into files of about
    * `targetBytes`. A store whose `<path>._precompact` exists is refused
    * untouched: an earlier build's compaction crashed in its root swap
    * there, and that directory may hold the only copy of the store's
    * `_checkpoint` and `_failed`. `onStep` is a fault-injection seam: it
    * is called with "staged", "move <k>" after each move, and "snapshot"
    * once the snapshot is in place. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20, onStep: String => Unit = _ => ()): Report = {
    ForklessLocalFileSystem.withFileSystem(path,
        spark.sparkContext.hadoopConfiguration) { fs =>
      val root = new Path(path)
      val swapped = new Path(s"$path._precompact")
      if (fs.exists(swapped)) throw new IllegalStateException(
        s"$swapped exists: a compaction by an earlier build crashed in its " +
          s"root swap; move its _checkpoint and _failed back into $path and " +
          "delete it before compacting")
      StoreManifest.committed(spark, fs, root).filter(_.files.nonEmpty)
          .fold(Report(0, 0, 0, 0)) { live =>
        val n = live.snapshot.fold(0L)(_ + 1)
        val tag = s"c$n"
        val staging = new Path(root, s"_staging/$tag")
        val totalBytes = live.files.map(_.bytes).sum

        // bucket plan: index value -> output file count (small, broadcast)
        import spark.implicits._
        val plan = live.files.groupBy(_.index).toSeq.map { case (value, files) =>
          (value, math.max(1L, (files.map(_.bytes).sum + targetBytes - 1) / targetBytes))
        }.toDF("index", "__nf")

        val df = StoreManifest.relation(spark, root, live)
        // parquet footer count — metadata-only, no data scan
        val totalRows = math.max(1L, df.count())
        val bytesPerRow = math.max(1L, totalBytes / totalRows)
        val maxRecords = math.max(1L, targetBytes / bytesPerRow)
        df.join(broadcast(plan), df("index") <=> plan("index"))
          .drop(plan("index"))
          .withColumn("__salt",
            pmod(xxhash64(struct(df.columns.map(df(_)): _*)), col("__nf")))
          .repartition(col("index"), col("__salt"))
          .drop("__nf", "__salt")
          .write.options(StoreFormat.writeOptions)
          .option("maxRecordsPerFile", maxRecords)
          .partitionBy("index").parquet(staging.toString)
        onStep("staged")
        val after = StoreManifest.moveStaged(fs, new Path(staging, "index=*/part-*"),
          tag, onStep)(_ => root).map(_._2)
        fs.delete(staging, true)
        StoreManifest.writeSnapshot(fs, root, n, after, live.schema, live.markers)
        onStep("snapshot")
        StoreManifest.settle(fs, root)
        Report(after.map(_.dir).distinct.size, live.files.size, after.size, totalBytes)
      }
    }
  }
}
