package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Retention/expiry pass over the indexed store — the ILM delete phase
  * that completes the lifecycle the daily `{topic}-{yyyy.MM.dd}` index
  * naming exists for (reference: util.rs:13-48 derives the dated name
  * precisely so old indices can be dropped wholesale; es.rs:203-248 rolls
  * the write target). `sync_rollover` models generation CREATION; this
  * pass ages generations OUT.
  *
  * Both levers are metadata-bounded: they read the store's manifest,
  * parse the committed index names, commit a snapshot without the
  * expired indices' files and then delete those files, as
  * [[Compaction.compact]] supersedes files — never a data scan, never a
  * rewrite of surviving files. At 100 TB that is the only acceptable
  * shape for expiry: cost is O(#files), not O(bytes). An expired index's
  * emptied `index=` directory stays: a commit may be moving a file into
  * it. A commit that lands during the run is not expired by it.
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

  /** Expire the committed indices `expired` picks from the committed
    * index names (each an `index=` directory name without its prefix):
    * commit a snapshot without their files, then delete those files
    * ([[StoreManifest.settle]]). A store with no manifest is adopted
    * first ([[StoreManifest.committed]]). */
  private def run(spark: SparkSession, path: String)(
      expired: Seq[String] => Seq[String]): Report =
    ForklessLocalFileSystem.withFileSystem(path,
        spark.sparkContext.hadoopConfiguration) { fs =>
      val root = new Path(path)
      StoreManifest.committed(spark, fs, root).fold(Report(Nil, Nil)) { l =>
        def name(f: StoreManifest.DataFile) = f.dir.stripPrefix("index=")
        val names = l.files.map(name).distinct
        val drop = expired(names).toSet
        if (drop.nonEmpty) {
          StoreManifest.writeSnapshot(fs, root, l.snapshot.fold(0L)(_ + 1),
            l.files.filterNot(f => drop(name(f))), l.schema, l.markers)
          StoreManifest.settle(fs, root)
        }
        Report(drop.toSeq.sorted, names.filterNot(drop).sorted)
      }
    }

  /** Delete dated indices strictly older than `horizon` (`yyyy.MM.dd`,
    * lexicographic == chronological for this format). Undated and
    * generation-named indices are kept. */
  def expireBefore(spark: SparkSession, path: String, horizon: String): Report = {
    require(horizon.matches("\\d{4}\\.\\d{2}\\.\\d{2}"),
      s"horizon must be yyyy.MM.dd, got $horizon")
    run(spark, path)(_.filter {
      case DatedIndex(_, date) => date < horizon
      case _ => false
    })
  }

  /** For `{topic}-g{N}` generation indices, keep the newest `keepLast`
    * generations of each topic and delete the rest. Non-generation
    * indices are kept. */
  def expireGenerations(spark: SparkSession, path: String, keepLast: Int): Report = {
    require(keepLast >= 1, "keepLast must be >= 1")
    run(spark, path) { names =>
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
      names.filter {
        case GenIndex(topic, g) => g.toLong < floor(topic)
        case _ => false
      }
    }
  }
}
