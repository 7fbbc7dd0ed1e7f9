package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Retention/expiry pass over the indexed store — the ILM delete phase
  * that completes the lifecycle the daily `{topic}-{yyyy.MM.dd}` index
  * naming exists for (reference: util.rs:13-48 derives the dated name
  * precisely so old indices can be dropped wholesale; es.rs:203-248 rolls
  * the write target). `sync_rollover` models generation CREATION; this
  * pass ages generations OUT.
  *
  * Both levers are metadata-bounded like [[Compaction.compact]]: one
  * directory listing, name-parse, recursive delete of whole `index=`
  * partitions — never a data scan, never a rewrite of surviving
  * partitions. At 100 TB that is the only acceptable shape for expiry:
  * cost is O(#indices), not O(bytes).
  *
  *  - [[expireBefore]]: date horizon — drop `{topic}-{yyyy.MM.dd}`
  *    indices strictly older than the horizon date (the reference's
  *    daily-index ageing).
  *  - [[expireGenerations]]: generation floor — for size-rolled
  *    `{topic}-g{N}` indices (the `sync_rollover` naming), keep only the
  *    newest `keepLast` generations per topic.
  *
  * Indices whose name parses as neither pattern are always kept — an
  * expiry pass must fail SAFE (skip), never delete what it cannot date. */
object Retention {

  final case class Report(deleted: Seq[String], kept: Seq[String])

  private val DatedIndex = "^(.+)-(\\d{4}\\.\\d{2}\\.\\d{2})$".r
  private val GenIndex = "^(.+)-g(\\d+)$".r

  private def indexNames(fs: FileSystem, root: Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("index="))
      .map(_.getPath.getName.stripPrefix("index="))

  /** Delete the `index=` directories whose name is `expired`. A store
    * with a manifest first commits a snapshot without their files, so
    * [[IndexedParquetSink.readIndexed]] never names a deleted file. */
  private def run(spark: SparkSession, path: String)(
      expired: String => Boolean): Report =
    ForklessLocalFileSystem.withFileSystem(path,
        spark.sparkContext.hadoopConfiguration) { fs =>
      val root = new Path(path)
      val (drop, keep) = indexNames(fs, root).partition(expired)
      if (drop.nonEmpty) StoreManifest.live(fs, root).foreach { l =>
        val gone = drop.map(d => s"index=$d").toSet
        StoreManifest.writeSnapshot(fs, root, l.snapshot.fold(0L)(_ + 1),
          l.files.filterNot(f => gone(f.dir)), l.schema, l.markers)
      }
      drop.foreach { d =>
        if (!fs.delete(new Path(root, s"index=$d"), true))
          throw new IllegalStateException(s"retention delete failed for index=$d")
      }
      Report(drop.sorted, keep.sorted)
    }

  /** Delete dated indices strictly older than `horizon` (`yyyy.MM.dd`,
    * lexicographic == chronological for this format). Undated and
    * generation-named indices are kept. */
  def expireBefore(spark: SparkSession, path: String, horizon: String): Report = {
    require(horizon.matches("\\d{4}\\.\\d{2}\\.\\d{2}"),
      s"horizon must be yyyy.MM.dd, got $horizon")
    run(spark, path) {
      case DatedIndex(_, date) => date < horizon
      case _ => false
    }
  }

  /** For `{topic}-g{N}` generation indices, keep the newest `keepLast`
    * generations of each topic and delete the rest. Non-generation
    * indices are kept. */
  def expireGenerations(spark: SparkSession, path: String, keepLast: Int): Report = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val names = indexNames(fs, new Path(path))
    // floor = the keepLast-th LARGEST existing generation per topic (not
    // max+1-keepLast): generation numbers can be non-contiguous after an
    // external delete (e.g. web-g0, web-g7), and an arithmetic floor
    // would then keep fewer than keepLast SURVIVING indices
    val floor: Map[String, Long] = names
      .collect { case GenIndex(topic, g) => (topic, g.toLong) }
      .groupBy(_._1)
      .map { case (t, gs) =>
        val sorted = gs.map(_._2).distinct.sorted(Ordering[Long].reverse)
        (t, sorted(math.min(keepLast, sorted.size) - 1))
      }
    run(spark, path) {
      case GenIndex(topic, g) => g.toLong < floor.getOrElse(topic, Long.MinValue)
      case _ => false
    }
  }
}
