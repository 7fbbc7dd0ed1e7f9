package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Broker/topic-membership watchdog — the engine analog of the
  * reference's consumer recreation on broker-set change
  * (pulsar.rs:193-221: a background loop polls the broker list and
  * recreates the consumers when it changes).
  *
  * Here the "broker list" is the set of topic directories under `root`
  * matching the subscription regex, resolved ONCE per subscription
  * generation — exactly like the reference resolves its topic regex to a
  * concrete topic list at subscribe time. Each [[tick]] re-lists; on
  * membership change the running query is stopped and `startQuery` is
  * invoked with the new concrete topic set (consumer recreation). Sink +
  * checkpoint continuity across generations is the caller's contract —
  * with a file/Kafka source and a stable checkpoint dir, already-consumed
  * input is not re-read (the subscription cursor survives, as with
  * Pulsar's subscription). */
final class TopicWatchdog(
    spark: SparkSession,
    root: String,
    topicRegex: String,
    startQuery: Set[String] => StreamingQuery) {

  private var current: Set[String] = Set.empty
  private var queryOpt: Option[StreamingQuery] = None
  private var generationCount = 0

  /** Topic directories under root whose name matches the subscription. */
  def topicSet(): Set[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches(topicRegex)).toSet
  }

  /** One poll tick: when membership changed (or nothing is running yet),
    * recreate the consumer over the new topic set. Returns true when a
    * (re)subscription happened. */
  def tick(): Boolean = {
    val now = topicSet()
    if (now == current && queryOpt.nonEmpty) false
    else {
      queryOpt.foreach(stopAndAwait)
      current = now
      generationCount += 1
      SyncMetrics.incBy("graft_consumer_recreated_total",
        Seq("root" -> root), 1)
      queryOpt = if (now.isEmpty) None else Some(startQuery(now))
      queryOpt.nonEmpty
    }
  }

  def generation: Int = generationCount
  def activeQuery: Option[StreamingQuery] = queryOpt

  def stop(): Unit = {
    queryOpt.foreach(stopAndAwait)
    queryOpt = None
  }

  /** Stop a generation's query and wait for it to end, at most
    * [[TopicWatchdog.StopWaitMs]]: a query still running then is an
    * error, never a silent hang of the poll loop. A query that died
    * rethrows its failure here. */
  private def stopAndAwait(q: StreamingQuery): Unit = {
    q.stop()
    if (!q.awaitTermination(TopicWatchdog.StopWaitMs))
      throw new IllegalStateException(s"query ${q.id} still running " +
        s"${TopicWatchdog.StopWaitMs} ms after stop()")
  }
}

object TopicWatchdog {
  /** How long a stopped query may take to terminate. */
  val StopWaitMs = 60000L
}
