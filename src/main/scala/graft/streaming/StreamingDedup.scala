package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Near-dup gating AT INGEST: every arriving document's minhash band
  * buckets are checked against the first-seen registry kept in streaming
  * state, so a re-crawl / repost is flagged the moment it arrives instead
  * of waiting for the nightly batch dedup. Emits one [[Collision]] per
  * (doc, shared bucket) — downstream consumers distinct the doc ids (a
  * doc colliding in b buckets yields b rows).
  *
  * Semantics match the batch relation exactly (spec-proven): with ties
  * broken by doc id inside a micro-batch, a doc is flagged iff some
  * bucket holds an earlier-seen doc — over one batch that is precisely
  * "doc is the later member of ≥ 1 [[Dedup.minhashCandidates]] pair";
  * across batches the registry carries first-seen ownership forward.
  *
  * Scale: the shuffle is on the bucket key (the same single wide stage
  * as batch banding); state is O(distinct buckets since the last
  * flush) × 16 bytes. Both gates bound their state the same two ways,
  * each an argument of the one gate: a STORED registry joined in as
  * each row's `base` (flush the state into it, restart with empty
  * state — verdicts unchanged, `dedup_gate_evict` / `dedup_lines_evict`
  * share the unflushed rows' SQL verbatim), and `ttlMs`, watermark-driven
  * in-stream eviction. Without a ttl the gate never times out: the
  * strictest gate horizon within a run.
  */
object StreamingDedup {

  /** "No stored owner": the `base` of a key absent from the registry,
    * and the owner of a key the gate has not yet seen. */
  val NoOwner: Long = Long.MaxValue

  final case class Doc(doc_id: Long, text: String)

  /** A flagged arrival: `doc_id` shares `bucket` with earlier-seen
    * `first_doc`. */
  final case class Collision(doc_id: Long, bucket: Long, first_doc: Long)

  final case class Seen(first: Long)

  /** One arrival at [[keyedFirstSeenGate]]: `base` is the key's STORED
    * first owner ([[NoOwner]] when the registry has none; constant per
    * key, joined in upstream), `ts` its event time, read only under a
    * ttl. */
  final case class Keyed(doc_id: Long, key: Long, base: Long = NoOwner,
    ts: java.sql.Timestamp = null)

  /** [[keyedFirstSeenGate]] over each document's minhash band buckets.
    * Batch-position ties inside a micro-batch resolve by doc id
    * (deterministic replay). */
  def nearDupGate(docs: Dataset[Doc], k: Int = 16, bands: Int = 4,
      shingleN: Int = 3): Dataset[Collision] = {
    val s = docs.sparkSession
    import s.implicits._
    keyedFirstSeenGate(Dedup.minhashBuckets(docs.toDF(), k, bands, shingleN)
      .select(col("doc_id"), col("bucket").as("key"), lit(NoOwner).as("base"),
        lit(null).cast("timestamp").as("ts"))
      .as[Keyed])
  }

  /** The first-seen registry over ANY keyed relation — the gate's state
    * machinery split out so other keying functions (perceptual image
    * hashes, chunk hashes, …) gate through the identical semantics:
    * within a micro-batch ties break by doc id, across batches the
    * state carries ownership forward. A key whose state is empty starts
    * from its stored `base`, so a key present in the registry collides
    * every arrival against the stored owner, and a gate restarted with
    * EMPTY state over the flushed registry (the stored bucket index, the
    * C104 artifact a production sink maintains) keeps every verdict.
    *
    * `ttlMs = Some(t)` adds in-stream eviction: each key's state times
    * out at its latest event time + t and leaves the store when the
    * WATERMARK passes it — no wall clock, so the same data always evicts
    * at the same batch. Ownership equals the never-evicting gate's
    * whenever every key's consecutive-occurrence gap is ≤ t + one batch
    * interval: a key with data in a batch is never timed out in that
    * batch, and the watermark that can expire it commits only after the
    * batch FOLLOWING its last activity (timeouts then fire promptly, in
    * a no-data batch — spec-observed). On an n-batch replay,
    * t = (n−2)·interval makes that bound universal, which is the
    * `dedup_gate_ttl` oracle row's setting. With a registry, evicting a
    * registry-owned key is harmless — the next arrival re-seeds the same
    * owner from `base` — so ownership can drift only for a key ABSENT
    * from the registry that recurs after eviction, the window the
    * registry's flush cadence is chosen to cover. */
  def keyedFirstSeenGate(keyed: Dataset[Keyed],
      ttlMs: Option[Long] = None): Dataset[Collision] = {
    val s = keyed.sparkSession
    import s.implicits._
    val (in, timeout) = timed(keyed, ttlMs)
    in.groupByKey(_.key)
      .flatMapGroupsWithState[Seen, Collision](OutputMode.Append, timeout) {
        (bucket: Long, it: Iterator[Keyed], state: GroupState[Seen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ids = Array.newBuilder[Long]
            val g = new Group(ttlMs.isDefined)
            it.foreach { r =>
              g.add(r.base, r.ts, s"owner for bucket $bucket")
              ids += r.doc_id
            }
            val arrivals = ids.result().sorted
            var first = state.getOption.map(_.first).getOrElse(g.base)
            val out = Array.newBuilder[Collision]
            arrivals.foreach { d =>
              if (first == NoOwner) first = d
              else if (d != first) out += Collision(d, bucket, first)
            }
            state.update(Seen(first))
            ttlMs.foreach(t => state.setTimeoutTimestamp(g.maxTs + t))
            out.result().iterator
          }
      }
  }

  /** One document line at [[lineSupportGate]]: `base` is the line's
    * STORED-REGISTRY support (0 when absent; constant per line, joined
    * in upstream), `ts` its event time, read only under a ttl. */
  final case class LineRow(doc_id: Long, n_lines: Long, line_id: Long,
    line: String, base: Long = 0L, ts: java.sql.Timestamp = null)

  /** A gated line: `kept` = the line's corpus support over STRICTLY
    * EARLIER micro-batches was still under the threshold when this
    * document arrived. */
  final case class LineGated(doc_id: Long, n_lines: Long, line_id: Long,
    line: String, kept: Boolean)

  final case class LineSup(n: Long)

  /** The ONLINE face of [[Dedup.lineDedup]]'s support table: per-line
    * running document support kept in streaming state, each arriving
    * batch gated against the support accumulated over STRICTLY EARLIER
    * batches (boilerplate that crossed `minSupport` stops flowing for
    * every LATER arrival; the arrivals that carried it over the
    * threshold still pass — an online gate can only act on what it has
    * seen). The verdict is `base + state < minSupport`: state counts
    * only documents seen since the registry snapshot, so the eviction
    * protocol is [[registryFold]] the gate's emissions into the stored
    * registry (C197-proven ≡ the batch support table) and restart with
    * that registry as base and EMPTY state — verdicts are unchanged
    * (spec + the `dedup_lines_evict` oracle row) and the state store
    * shrinks to the post-flush tail. The decision is batch-atomic —
    * within one micro-batch every instance of a line gets the same
    * verdict, so the replay is deterministic whatever the intra-batch
    * row order. Emits EVERY line with its verdict (a fully-boilerplate
    * document must still reach the downstream reassembly with
    * n_kept = 0).
    *
    * `ttlMs = Some(t)` adds in-stream eviction: a line's support row
    * leaves the store once the watermark passes its latest event time
    * + t, so state is O(lines active within the ttl horizon). A support
    * reset can only flip a verdict for a line that re-crosses
    * `minSupport` after an eviction, so the safe ttl is a property of
    * the corpus's recurrence structure rather than a universal bound:
    * the `dedup_lines_ttl` oracle row runs t = 2 batch intervals,
    * verified verdict-invariant against the never-evicting replay at
    * all three test scale factors (at 1 interval one real line — "scan
    * query" at sf0.1 — flips, which the spec plants as the negative
    * control). With a registry, long-horizon support lives outside the
    * store and a verdict can drift only when a line's IN-STORE
    * increments evict before a recurrence they would have pushed
    * across `minSupport`.
    *
    * The group body is ONE EAGER PASS with a COMPACT buffer: state
    * commits exactly once, before the emission iterator is returned, so
    * a downstream operator that stops consuming early (limit/take)
    * cannot leave a partially-counted support in the store and make
    * replay non-deterministic. The buffered rows never carry the line
    * text (it is the group key): per-group memory is three longs per
    * instance plus the distinct-doc id set. Emission order within a
    * group is ARRIVAL order (every downstream consumer is relational:
    * reassembly aggregates, registry folds). */
  def lineSupportGate(lines: Dataset[LineRow], minSupport: Int = 3,
      ttlMs: Option[Long] = None): Dataset[LineGated] = {
    require(minSupport > 1,
      s"minSupport must be > 1 (1 would drop every line), got $minSupport")
    val s = lines.sparkSession
    import s.implicits._
    val (in, timeout) = timed(lines, ttlMs)
    in.groupByKey(_.line)
      .flatMapGroupsWithState[LineSup, LineGated](OutputMode.Append, timeout) {
        (line: String, it: Iterator[LineRow], state: GroupState[LineSup]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.map(_.n).getOrElse(0L)
            // a line repeating inside one document counts the doc once —
            // the same distinct-docs semantics as the batch support table
            val docs = new java.util.HashSet[Long]
            val rows = Array.newBuilder[(Long, Long, Long)]
            val g = new Group(ttlMs.isDefined)
            it.foreach { r =>
              g.add(r.base, r.ts, "support for a line group")
              docs.add(r.doc_id)
              rows += ((r.doc_id, r.n_lines, r.line_id))
            }
            val keep = g.base + prior < minSupport
            state.update(LineSup(prior + docs.size))
            ttlMs.foreach(t => state.setTimeoutTimestamp(g.maxTs + t))
            rows.result().iterator.map { case (d, n, lid) =>
              LineGated(d, n, lid, line, keep)
            }
          }
      }
  }

  /** A gate's input and group timeout under `ttlMs`: with a ttl, `ts`
    * drives a zero-delay watermark and state times out on event time;
    * without one there is no watermark and state never times out. */
  private def timed[T](in: Dataset[T],
      ttlMs: Option[Long]): (Dataset[T], GroupStateTimeout) = ttlMs match {
    case Some(t) =>
      require(t > 0, s"ttlMs must be positive, got $t")
      (in.withWatermark("ts", "0 seconds"), GroupStateTimeout.EventTimeTimeout)
    case None => (in, GroupStateTimeout.NoTimeout)
  }

  /** One group's scan: its stored `base` and, when `timed`, its latest
    * event time. The base is a per-key constant by contract (joined in
    * from a folded registry); a violation — e.g. two registries unioned
    * without folding — would make the verdict depend on intra-batch
    * arrival order, so it fails loudly instead of silently picking the
    * head's value. */
  private final class Group(timed: Boolean) {
    private var seen = false
    var base = 0L
    var maxTs = Long.MinValue
    def add(b: Long, ts: java.sql.Timestamp, what: => String): Unit = {
      if (!seen) { base = b; seen = true }
      else require(base == b, s"non-uniform stored $what: $base vs $b — " +
        "fold registries before joining them in")
      if (timed) maxTs = math.max(maxTs, ts.getTime)
    }
  }

  /** The registry FLUSH of gate emissions — the eviction target: every
    * line instance flows through the gate with its verdict, so distinct
    * (line, doc) pairs survive the stream and the fold rebuilds EXACT
    * document support (the `dedup_lines_registry` oracle row proves
    * fold(stream) ≡ batch [[Dedup.lineSupport]]). A production
    * deployment flushes on a state-size trigger, unions the fold into
    * the stored registry, and restarts [[lineSupportGate]] with it as
    * the base; [[Dedup.lineDedupIncremental]] consumes the same registry
    * on the batch side. */
  def registryFold(gated: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    gated.select(col("line"), col("doc_id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("sup"))
  }

  /** Batch reference relation for the spec: docs that are the later
    * member of ≥ 1 bucket (all-in-one-batch equivalence). */
  def batchFlagged(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    val b = Dedup.minhashBuckets(docs, k, bands, shingleN)
    val firsts = b.groupBy(col("bucket")).agg(min(col("doc_id")).as("first"))
    b.join(firsts, "bucket")
      .filter(col("doc_id") =!= col("first"))
      .select(col("doc_id")).distinct()
  }
}
