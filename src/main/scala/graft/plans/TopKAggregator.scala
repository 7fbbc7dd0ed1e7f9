package graft.plans

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable

/** A scored candidate row for per-key top-k. */
final case class Scored(key: Long, id: Long, score: Double)

/** Bounded top-k per key as a typed Aggregator — the scale-correct
  * replacement for the window row_number() ≤ k pattern: partial
  * aggregation builds a k-bounded heap per key on the map side, the
  * shuffle carries ONLY k entries per (key, partition) instead of every
  * scored row, and merge combines heaps. Total order (score desc, id asc)
  * makes the result identical to the window formulation (asserted in
  * TopKAndExtensionsSpec and by the sim_cosine_topk oracle).
  *
  * Chosen over a custom LogicalPlan/SparkStrategy deliberately: Spark's
  * partial-aggregation machinery already gives the map-side-combine +
  * single-shuffle physical shape, so an Aggregator (preference (b) in the
  * extension ladder) expresses it without new plan nodes. Callers go
  * through [[TopKAggregator.topK]]. */
final class TopKAggregator(k: Int)
    extends Aggregator[Scored, mutable.PriorityQueue[(Double, Long)], Seq[(Long, Double)]] {

  // min-heap: head is the WORST kept entry — (score asc, id desc) so that
  // evicting head keeps the best k under (score desc, id asc)
  private def heapOrd: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }

  override def zero: mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(heapOrd)

  private def add(b: mutable.PriorityQueue[(Double, Long)], s: Double, id: Long)
      : mutable.PriorityQueue[(Double, Long)] = {
    if (b.size < k) b.enqueue((s, id))
    else {
      val (ws, wid) = b.head
      // better = higher score, or equal score with smaller id
      if (s > ws || (s == ws && id < wid)) { b.dequeue(); b.enqueue((s, id)) }
    }
    b
  }

  override def reduce(b: mutable.PriorityQueue[(Double, Long)], r: Scored)
      : mutable.PriorityQueue[(Double, Long)] = add(b, r.score, r.id)

  override def merge(a: mutable.PriorityQueue[(Double, Long)],
      b: mutable.PriorityQueue[(Double, Long)])
      : mutable.PriorityQueue[(Double, Long)] = {
    b.foreach { case (s, id) => add(a, s, id) }
    a
  }

  override def finish(b: mutable.PriorityQueue[(Double, Long)]): Seq[(Long, Double)] = {
    val worstFirst: Seq[(Double, Long)] = b.dequeueAll
    worstFirst.reverse.map { case (s, id) => (id, s) }
  }

  override def bufferEncoder: Encoder[mutable.PriorityQueue[(Double, Long)]] =
    Encoders.kryo[mutable.PriorityQueue[(Double, Long)]]
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object TopKAggregator {
  /** Per-key top-k of `scored`'s (key: long, id: long, score: double)
    * rows through the bounded heap: the same three columns back, at most
    * k rows per key, kept by score descending, then the smaller id. */
  def topK(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    heaps(scored, k)
      .flatMap { case (key, tk) => tk.map { case (id, sc) => (key, id, sc) } }
      .toDF("key", "id", "score")
  }

  /** [[topK]] without the score column: (key, id), for a caller that
    * ranks by the score and then drops it, so the rows after the heap
    * do not carry it. */
  def topKIds(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    heaps(scored, k)
      .flatMap { case (key, tk) => tk.map { case (id, _) => (key, id) } }
      .toDF("key", "id")
  }

  private def heaps(scored: DataFrame, k: Int) = {
    val s = scored.sparkSession
    import s.implicits._
    scored.as[Scored].groupByKey(_.key)
      .agg(new TopKAggregator(k).toColumn.name("topk"))
  }
}
