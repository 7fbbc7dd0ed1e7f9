package graft.plans

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.immutable.TreeSet
import scala.reflect.runtime.universe.TypeTag

/** A keyed hash observation for the KMV sketch. */
final case class KmvObs(key: String, h: Long)

/** One observation of the exact-k sample stream: the stratum, the
  * deterministic draw priority `u` (Curation.samplePriority), and the
  * row id. */
final case class PairObs(key: String, u: Long, id: Long)

/** The k smallest DISTINCT values of `value(in)` under `Ordering[V]` as a
  * typed Aggregator — the bottom-k monoid (the k smallest of a union are
  * among the union of the k smallest), so the same buffer serves
  * map-side partials in batch and complete-mode streaming aggregation
  * state across micro-batches: O(k) per key either way, and any arrival
  * order or partitioning drains to the identical result. Repeats
  * collapse in the TreeSet, so a broker redelivery cannot occupy two
  * slots; values above the current k-th smallest are dropped on sight.
  * `finish` is ascending.
  *
  * Two uses: the KMV sketch (`BottomKAggregator[KmvObs, Long](k, _.h)`)
  * and the exact-k per-stratum sample
  * (`BottomKAggregator[PairObs, (Long, Long)](k, o => (o.u, o.id))`),
  * whose ties on u break by id, the batch rank window's exact order. */
final class BottomKAggregator[I, V: Ordering: TypeTag](k: Int, value: I => V)
    extends Aggregator[I, TreeSet[V], Seq[V]] {

  // fail at plan-build time on the driver: k ≤ 0 would otherwise reach
  // `b.max` on an empty buffer inside an executor task
  require(k > 0, s"BottomKAggregator: k must be positive, got $k")

  override def zero: TreeSet[V] = TreeSet.empty[V]

  private def add(b: TreeSet[V], v: V): TreeSet[V] =
    if (b.contains(v)) b
    else if (b.size < k) b + v
    else if (Ordering[V].lt(v, b.max)) (b + v) - b.max
    else b

  override def reduce(b: TreeSet[V], o: I): TreeSet[V] = add(b, value(o))

  override def merge(a: TreeSet[V], b: TreeSet[V]): TreeSet[V] =
    b.foldLeft(a)(add)

  override def finish(b: TreeSet[V]): Seq[V] = b.toSeq

  override def bufferEncoder: Encoder[TreeSet[V]] = Encoders.kryo[TreeSet[V]]
  override def outputEncoder: Encoder[Seq[V]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[V]]()
}
