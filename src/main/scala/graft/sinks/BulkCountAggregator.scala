package graft.sinks

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One document as the bulk metrics see it: its labels and whether the
  * bulk response rejected it. */
final case class BulkDoc(index: String, app: String, failed: Boolean)

/** The bulk metrics of one (index, app): documents written and failed. */
final case class BulkCount(index: String, app: String, written: Long, failed: Long)

/** Per-(index, app) written/failed counts as a typed Aggregator — the
  * counters the reference bumps from each bulk response (es.rs:133-191,
  * prometheus.rs). The buffer is a map keyed by the labels, so it holds
  * one entry per (index, app) of the batch, never one per document;
  * null labels are keys like any other, as in a `groupBy`. Merging is
  * key-wise addition, so any partitioning gives the same counts. The
  * output is sorted by labels (nulls first), so equal inputs give equal
  * rows. */
final class BulkCountAggregator
    extends Aggregator[BulkDoc, Map[(String, String), (Long, Long)], Seq[BulkCount]] {

  private type Buf = Map[(String, String), (Long, Long)]

  override def zero: Buf = Map.empty

  override def reduce(b: Buf, d: BulkDoc): Buf = {
    val k = (d.index, d.app)
    val (w, f) = b.getOrElse(k, (0L, 0L))
    b.updated(k, if (d.failed) (w, f + 1) else (w + 1, f))
  }

  override def merge(a: Buf, b: Buf): Buf =
    b.foldLeft(a) { case (acc, (k, (w, f))) =>
      val (w0, f0) = acc.getOrElse(k, (0L, 0L))
      acc.updated(k, (w0 + w, f0 + f))
    }

  override def finish(b: Buf): Seq[BulkCount] =
    b.toSeq.map { case ((i, a), (w, f)) => BulkCount(i, a, w, f) }
      .sortBy(c => (Option(c.index), Option(c.app)))

  override def bufferEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()
  override def outputEncoder: Encoder[Seq[BulkCount]] = ExpressionEncoder[Seq[BulkCount]]()
}
