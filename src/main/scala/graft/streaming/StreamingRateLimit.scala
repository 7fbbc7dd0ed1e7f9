package graft.streaming

import graft.operators.SyncConfig
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Stateful cross-batch rate limiting (ratelimiter.rs as streaming state).
  *
  * The in-pipeline admission (`SyncPipeline.rateLimit`, applied per
  * micro-batch inside `StreamingSync.start`) matches the reference's
  * flush-window behavior, but its counters reset at micro-batch
  * boundaries: an (app, second) that spans two micro-batches can admit up
  * to `limit` messages in EACH. This stage keeps the per-(app, window)
  * admission counters in streaming state keyed by app, so the limit holds
  * across micro-batches exactly.
  *
  * Scale: state is O(apps × retained windows). With no limit configured
  * at all the stream passes through untouched; otherwise EVERY message,
  * also those of apps with no configured limit, is shuffled on the app
  * key into the stateful stage, where an unlimited app's cap is
  * `Long.MaxValue` and its counters are kept like any other app's.
  * Counters older than `stateHorizonWindows` are pruned every trigger.
  * The shuffle is on the app key only, same as the batch window. */
object StreamingRateLimit {

  /** The core message shape after enrich (app resolved). */
  final case class RlMsg(msg_id: Long, topic: String,
      publish_time: Timestamp, data: String, app: String)

  final case class RlState(counts: Map[Long, Long])

  private def windowUs(window: String): Long = window match {
    case "second" => 1000000L
    case "minute" => 60000000L
    case "hour"   => 3600000000L
    case other => throw new IllegalArgumentException(
      s"unsupported rate-limit window: $other")
  }

  /** Epoch micros (getTime is ms-truncated; nanos carries the rest) —
    * admission order must be µs-exact to admit the SAME messages as the
    * batch limiter's (publish_time, msg_id) window. */
  private def us(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos.toLong / 1000L

  /** Admit the first `limit(app)` messages per (app, window) in
    * (publish_time, msg_id) order, counting across micro-batches. Apps
    * without a configured limit pass through unlimited (reference
    * semantics — the governor only exists for configured apps). */
  def apply(cfg: SyncConfig, stateHorizonWindows: Long = 3600)
      (stream: Dataset[RlMsg]): Dataset[RlMsg] = {
    if (cfg.rateLimits.isEmpty) stream
    else {
      val s = stream.sparkSession
      import s.implicits._
      val unit = windowUs(cfg.rateLimitWindow)
      val limits = cfg.rateLimits
      stream
        .groupByKey(_.app)
        .flatMapGroupsWithState[RlState, RlMsg](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (app: String, it: Iterator[RlMsg], state: GroupState[RlState]) =>
            val limit = limits.get(app).map(_.toLong).getOrElse(Long.MaxValue)
            val msgs = it.toArray.sortBy(m => (us(m.publish_time), m.msg_id))
            var counts = state.getOption.map(_.counts)
              .getOrElse(Map.empty[Long, Long])
            var maxWin = counts.keysIterator.foldLeft(0L)(math.max)
            val out = Array.newBuilder[RlMsg]
            msgs.foreach { m =>
              val win = math.floorDiv(us(m.publish_time), unit)
              maxWin = math.max(maxWin, win)
              val used = counts.getOrElse(win, 0L)
              if (used < limit) {
                counts = counts.updated(win, used + 1)
                out += m
              }
            }
            state.update(RlState(
              counts.filter { case (w, _) => w >= maxWin - stateHorizonWindows }))
            out.result().iterator
        }
    }
  }
}
