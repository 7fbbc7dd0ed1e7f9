package graft

import graft.sources.Tables
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.Doc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The ingest-time near-dup gate must equal the batch candidate relation
  * on a single batch, and must REMEMBER first-seen buckets across
  * micro-batches (the whole point of the streaming state). */
class StreamingDedupSpec extends SparkSpec {

  test("single batch: streaming gate == batch flagged relation") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sf())
      .select("doc_id", "text").as[Doc].collect().toSeq
    val ms = MemoryStream[Doc]
    val q = StreamingDedup.nearDupGate(ms.toDS())
      .writeStream.format("memory").queryName("ndg_one")
      .outputMode("append").start()
    try {
      ms.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("ndg_one")
        .select("doc_id").distinct().as[Long].collect().toSet
      val batch = StreamingDedup.batchFlagged(Tables.documents(spark, sf()))
        .as[Long].collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("cross-batch: a replay in a later batch is flagged against the registry") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val a = Doc(1L, "alpha beta gamma delta epsilon zeta")
    val b = Doc(2L, "one two three four five six seven")
    val ms = MemoryStream[Doc]
    val q = StreamingDedup.nearDupGate(ms.toDS())
      .writeStream.format("memory").queryName("ndg_two")
      .outputMode("append").start()
    try {
      ms.addData(Seq(a, b))
      q.processAllAvailable()
      // distinct texts: nothing flagged in batch 1
      assert(spark.table("ndg_two").count() == 0)
      // batch 2: doc 10 replays doc 1's text; doc 11 is novel
      ms.addData(Seq(Doc(10L, a.text), Doc(11L, "wholly novel words appear here now")))
      q.processAllAvailable()
      val flagged = spark.table("ndg_two")
        .select("doc_id", "first_doc").distinct()
        .as[(Long, Long)].collect().toSet
      // every collision of doc 10 points at the batch-1 owner, doc 1
      assert(flagged.nonEmpty)
      assert(flagged.forall { case (d, f) => d == 10L && f == 1L })
      // MEASURED state bound: the registry holds exactly one row per
      // distinct bucket ever seen — O(buckets), not O(docs)
      val distinctBuckets = graft.operators.Dedup.minhashBuckets(
          Seq(a, b, Doc(10L, a.text),
            Doc(11L, "wholly novel words appear here now")).toDS().toDF())
        .select("bucket").distinct().count()
      assert(stateRows(q) == distinctBuckets,
        s"registry rows ${stateRows(q)} != distinct buckets $distinctBuckets")
    } finally q.stop()
  }

  test("line gate: strictly-earlier-batch support decides; state = distinct lines") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StreamingDedup.{LineGated, LineRow}
    def lr(d: Long, lid: Long, l: String) = LineRow(d, 1L, lid, l)
    val ms = MemoryStream[LineRow]
    val q = StreamingDedup.lineSupportGate(ms.toDS(), minSupport = 3)
      .writeStream.format("memory").queryName("lng_spec")
      .outputMode("append").start()
    def rows(): Seq[LineGated] =
      spark.table("lng_spec").as[LineGated].collect().toSeq
    try {
      // batch 1: nothing seen before — everything passes, including the
      // header's third instance (the gate acts only on what it has SEEN)
      ms.addData(Seq(lr(1, 0, "w1 w2"), lr(2, 0, "w1 w2"),
        lr(3, 0, "w1 w2"), lr(1, 1, "a b")))
      q.processAllAvailable()
      assert(rows().size == 4 && rows().forall(_.kept))
      // batch 2: the header crossed (3 ≥ 3) → dropped; "a b" at 1 →
      // kept; "q r" TWICE in one doc must count the doc once
      ms.addData(Seq(lr(4, 0, "w1 w2"), lr(4, 1, "a b"),
        lr(5, 0, "q r"), lr(5, 1, "q r")))
      q.processAllAvailable()
      val b2 = rows().filter(_.doc_id >= 4)
      assert(b2.filter(_.line == "w1 w2").forall(!_.kept))
      assert(b2.filter(_.line == "a b").forall(_.kept))
      assert(b2.filter(_.line == "q r").forall(_.kept))
      // batch 3: "q r" support so far is 1 (doc 5 once) → still kept
      ms.addData(Seq(lr(6, 0, "q r"), lr(7, 0, "q r")))
      q.processAllAvailable()
      assert(rows().filter(_.doc_id >= 6).forall(_.kept))
      // batch 4: "q r" has crossed (1 + 2 = 3) → dropped
      ms.addData(Seq(lr(8, 0, "q r")))
      q.processAllAvailable()
      assert(rows().filter(_.doc_id == 8).forall(r => !r.kept))
      // MEASURED state bound: one row per distinct line ever seen
      assert(stateRows(q) == 3L,
        s"state rows ${stateRows(q)} != 3 distinct lines")
      // a drop-everything threshold fails at plan-build time
      intercept[IllegalArgumentException](
        StreamingDedup.lineSupportGate(ms.toDS(), minSupport = 1))
      // and so does a ttl that would evict state in its own batch
      intercept[IllegalArgumentException](
        StreamingDedup.lineSupportGate(ms.toDS(), ttlMs = Some(0L)))
    } finally q.stop()
  }

  test("keyed gate eviction: stored-owner restart — state shrinks, collisions identical") {
    // the first-seen registry's state is bounded the same way as the
    // line gate's — persist the per-key replay owner (the stored bucket
    // index), restart keyedFirstSeenGate with empty state seeded by it.
    // Keys: 100 owned by doc 1 (batch 1), 200 owned by doc 4 (batch 2),
    // 300 first touched only in batch 3.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StreamingDedup.{Collision, Keyed}
    val b1 = Seq((1L, 100L), (2L, 100L))
    val b2 = Seq((4L, 200L), (3L, 100L))
    // B3 leaves key 100 untouched, so the restarted store must be
    // strictly smaller than the control's
    val b3 = Seq((8L, 200L), (7L, 300L), (6L, 300L))

    // control: never-flushed gate over all three batches
    def keyed(b: Seq[(Long, Long)]) = b.map { case (d, k) => Keyed(d, k) }
    val msC = MemoryStream[Keyed]
    val qC = StreamingDedup.keyedFirstSeenGate(msC.toDS())
      .writeStream.format("memory").queryName("kfs_ctl")
      .outputMode("append").start()
    val ctl3 = try {
      Seq(b1, b2, b3).foreach { b =>
        msC.addData(keyed(b)); qC.processAllAvailable() }
      assert(stateRows(qC) == 3L, s"control state ${stateRows(qC)} != 3 keys ever")
      spark.table("kfs_ctl").as[Collision].collect()
        .filter(_.doc_id >= 6).toSet
    } finally qC.stop()

    // evicted: B1+B2 through the gate; the stored index is the replay
    // owner per key (computable from the inputs — owners are silent in
    // the emissions, so the index comes from the sink side, not the
    // collision stream); restart for B3 seeded by it
    val ms1 = MemoryStream[Keyed]
    val q1 = StreamingDedup.keyedFirstSeenGate(ms1.toDS())
      .writeStream.format("memory").queryName("kfs_ph1")
      .outputMode("append").start()
    try {
      Seq(b1, b2).foreach { b =>
        ms1.addData(keyed(b)); q1.processAllAvailable() }
    } finally q1.stop()
    val owners = Map(100L -> 1L, 200L -> 4L) // min (batch, doc) per key

    val ms2 = MemoryStream[Keyed]
    val q2 = StreamingDedup.keyedFirstSeenGate(ms2.toDS())
      .writeStream.format("memory").queryName("kfs_ph2")
      .outputMode("append").start()
    try {
      ms2.addData(b3.map { case (d, k) =>
        Keyed(d, k, owners.getOrElse(k, StreamingDedup.NoOwner)) })
      q2.processAllAvailable()
      val evicted = spark.table("kfs_ph2").as[Collision].collect().toSet
      assert(evicted == ctl3,
        s"flush/restart changed collisions: $evicted vs $ctl3")
      // fresh key 300: doc 6 owns (min id in the batch), doc 7 collides
      assert(evicted.contains(Collision(7L, 300L, 6L)))
      // stored-owner key 200: doc 8 collides against the FLUSHED owner
      assert(evicted.contains(Collision(8L, 200L, 4L)))
      // state SHRANK: only B3's keys (200, 300), not the full history
      assert(stateRows(q2) == 2L,
        s"restarted state ${stateRows(q2)} != 2 (keys B3 touched)")
    } finally q2.stop()
  }

  test("line gate TTL: watermark-driven eviction — parity at safe ttl, flip at short ttl") {
    // EventTimeTimeout evicts support rows IN-STREAM,
    // deterministically (watermark-driven — no wall clock; timeouts
    // fire PROMPTLY in a no-data batch as soon as the committed
    // watermark passes them, so a key survives to its recurrence iff
    // the gap is ≤ ttl + one interval). Same data, two ttls: at
    // ttl = 3 intervals "q q"'s gap-4 recurrence stays inside the safe
    // horizon and verdicts equal the NoTimeout gate's; at ttl = 1 the
    // eviction lands between "q q" crossing minSupport and its
    // recurrence, and the verdict FLIPS — the flip is the proof that
    // state really left the store mid-query. A third run keeps the
    // short ttl but gives "q q" a stored registry base of 3: its state
    // still evicts, yet doc 9 stays dropped — the registry makes the
    // eviction lossless.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StreamingDedup.{LineGated, LineRow}
    val B = 60000L
    def lr(d: Long, l: String, batch: Long) =
      LineRow(d, 1L, 0L, l, ts = new java.sql.Timestamp(batch * B))
    val batches = Seq(
      Seq(lr(1, "q q", 1), lr(2, "q q", 1), lr(3, "q q", 1),
        lr(1, "u u", 1)),                      // q q crosses 3; u u unique
      Seq(lr(4, "f1 f1", 2)),                  // filler advances watermark
      Seq(lr(5, "f2 f2", 3)),                  // ttl=1: q q evicts after
      Seq(lr(6, "f3 f3", 4)),                  //   this watermark commit
      Seq(lr(9, "q q", 5)))                    // recurrence after eviction
    def run(ttlBatches: Long, name: String,
        base: String => Long = _ => 0L): (Map[Long, Boolean], Long) = {
      val ms = MemoryStream[LineRow]
      val q = StreamingDedup.lineSupportGate(ms.toDS(), minSupport = 3,
          ttlMs = Some(ttlBatches * B))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b =>
          ms.addData(b.map(r => r.copy(base = base(r.line))))
          q.processAllAvailable()
        }
        val out = spark.table(name).as[LineGated].collect()
          .filter(_.line == "q q").map(g => g.doc_id -> g.kept).toMap
        val fin = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        (out, fin)
      } finally q.stop()
    }
    val (safe, finSafe) = run(3L, "lngt_safe")
    val (short, _) = run(1L, "lngt_short")
    val (stored, _) = run(1L, "lngt_stored",
      base = l => if (l == "q q") 3L else 0L)
    // batch-1 instances always pass (nothing seen before)
    assert(Seq(1L, 2L, 3L).forall(d => safe(d) && short(d)))
    // safe ttl ≡ NoTimeout semantics: support 3 survives to doc 9
    assert(!safe(9L), "safe-ttl gate forgot q q's support")
    // short ttl: the eviction between crossing and recurrence FLIPS it
    assert(short(9L), "short-ttl gate failed to evict q q mid-query")
    // short ttl + registry: the stored support survives the eviction
    assert(!stored(9L), "registry base did not survive q q's eviction")
    // and the safe run still evicted dead lines: by the last batch the
    // store holds fewer rows than the 5 distinct lines ever seen
    assert(finSafe < 5L, s"safe-ttl store never shrank: $finSafe rows")
  }

  test("keyed gate TTL: watermark-driven eviction — ownership parity at safe ttl, flip at short ttl") {
    // first-seen registry face: ttl = 3 intervals is
    // the UNIVERSAL n−2 bound for this 5-batch layout (no recurrence
    // gap exceeds ttl + 1 batch), so ownership equals the NoTimeout
    // gate's; ttl = 1 evicts key 100's owner before its recurrence and
    // doc 9 silently becomes the new owner (no collision emitted).
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StreamingDedup.{Collision, Keyed}
    val B = 60000L
    def kt(d: Long, k: Long, batch: Long) =
      Keyed(d, k, ts = new java.sql.Timestamp(batch * B))
    val batches = Seq(
      Seq(kt(1, 100, 1), kt(2, 100, 1)),   // owner 1, collision (2,100,1)
      Seq(kt(4, 300, 2)),                  // fillers advance the watermark
      Seq(kt(5, 301, 3)),                  // ttl=1: key 100 evicts after
      Seq(kt(6, 302, 4)),                  //   this watermark commit
      Seq(kt(9, 100, 5)),                  // recurrence after eviction
      Seq(kt(10, 303, 9)))                 // far-forward watermark jump:
                                           //   drains every idle key
    def run(ttlBatches: Long, name: String): (Set[(Long, Long)], Long) = {
      val ms = MemoryStream[Keyed]
      val q = StreamingDedup.keyedFirstSeenGate(ms.toDS(),
          ttlMs = Some(ttlBatches * B))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        val out = spark.table(name).as[Collision].collect()
          .map(c => c.doc_id -> c.first_doc).toSet
        val fin = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        (out, fin)
      } finally q.stop()
    }
    val (safe, finSafe) = run(3L, "kfst_safe")
    val (short, _) = run(1L, "kfst_short")
    // safe ttl ≡ NoTimeout ownership: doc 9 collides against owner 1
    assert(safe == Set(2L -> 1L, 9L -> 1L), safe.toString)
    // short ttl: owner 1 evicted before doc 9 → doc 9 owns, no row
    assert(short == Set(2L -> 1L), short.toString)
    // the watermark jump drained every idle key mid-query: the store
    // ends with just the jump batch's own key, not the 5 keys ever seen
    assert(finSafe == 1L, s"safe-ttl store did not drain: $finSafe rows")
  }

  test("keyed gate TTL+registry: evicting a stored-owner key is lossless; removals measured") {
    // the COMPOSED lifecycle: key 100's owner lives in the stored
    // registry (base = 1 joins in on every arrival), so evicting its
    // state row is harmless — the recurrence re-seeds owner 1 from
    // base and collides correctly, while the progress metrics prove
    // rows really left the store. (The base-LESS gate on this exact
    // timeline silently hands ownership to doc 9 — the short-ttl flip
    // in the plain TTL test.)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StreamingDedup.{Collision, Keyed}
    val B = 60000L
    def kt(d: Long, k: Long, base: Long, batch: Long) =
      Keyed(d, k, base, new java.sql.Timestamp(batch * B))
    val MV = StreamingDedup.NoOwner
    val batches = Seq(
      Seq(kt(2, 100, 1, 1)),               // stored owner 1 → (2,100,1)
      Seq(kt(4, 300, MV, 2)),              // fillers advance the watermark
      Seq(kt(5, 301, MV, 3)),              // → key 100 evicts (ttl = 1)
      Seq(kt(9, 100, 1, 4)))               // re-seeds owner 1 from base
    val ms = MemoryStream[Keyed]
    val q = StreamingDedup.keyedFirstSeenGate(ms.toDS(), ttlMs = Some(B))
      .writeStream.format("memory").queryName("kfst_reg")
      .outputMode("append").start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      val out = spark.table("kfst_reg").as[Collision].collect()
        .map(c => c.doc_id -> c.first_doc).toSet
      // ownership identical to the never-evicting registry gate
      assert(out === Set(2L -> 1L, 9L -> 1L), out.toString)
      // and the eviction REALLY happened: the store removed rows
      val removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 1L, s"no state rows were ever removed ($removed)")
    } finally q.stop()
  }

  test("line gate eviction: flush to registry + restart — state shrinks, verdicts identical") {
    // the gate's state is bounded by FLUSHING it into
    // the stored registry (registryFold of the emissions — C197 proves
    // fold ≡ batch lineSupport) and restarting the gate with EMPTY
    // state seeded by the registry. Replay batches B1, B2, B3 both ways:
    // verdicts must be identical, and the restarted gate's state store
    // must hold ONLY the lines B3 touched — strictly fewer rows than
    // the never-flushed gate accumulated.
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import StreamingDedup.{LineGated, LineRow}
    def lr(d: Long, lid: Long, l: String) = LineRow(d, 1L, lid, l)
    val b1 = Seq(lr(1, 0, "h h"), lr(2, 0, "h h"), lr(3, 0, "h h"),
      lr(1, 1, "x y"), lr(2, 1, "a b"))
    val b2 = Seq(lr(4, 0, "h h"), lr(5, 0, "x y"))
    val b3 = Seq(lr(6, 0, "h h"), lr(7, 0, "x y"), lr(8, 0, "x y"),
      lr(9, 0, "z z"))

    // control: the never-flushed gate over all three batches
    val msC = MemoryStream[LineRow]
    val qC = StreamingDedup.lineSupportGate(msC.toDS(), minSupport = 3)
      .writeStream.format("memory").queryName("lng_ctl")
      .outputMode("append").start()
    val ctl3 = try {
      Seq(b1, b2, b3).foreach { b => msC.addData(b); qC.processAllAvailable() }
      assert(stateRows(qC) == 4L, // h h, x y, a b, z z — every line ever
        s"control state ${stateRows(qC)} != 4 distinct lines ever seen")
      spark.table("lng_ctl").as[LineGated].collect()
        .filter(_.doc_id >= 6).map(g => (g.doc_id, g.line_id) -> g.kept).toMap
    } finally qC.stop()

    // evicted: B1+B2 through the gate, FLUSH, restart for B3
    val ms1 = MemoryStream[LineRow]
    val q1 = StreamingDedup.lineSupportGate(ms1.toDS(), minSupport = 3)
      .writeStream.format("memory").queryName("lng_ph1")
      .outputMode("append").start()
    val reg = try {
      Seq(b1, b2).foreach { b => ms1.addData(b); q1.processAllAvailable() }
      StreamingDedup.registryFold(spark.table("lng_ph1"))
        .as[(String, Long)].collect().toMap
    } finally q1.stop()
    // the flushed registry is the exact batch support of B1 ∪ B2
    assert(reg == Map("h h" -> 4L, "x y" -> 2L, "a b" -> 1L), reg.toString)

    val ms2 = MemoryStream[LineRow]
    val q2 = StreamingDedup.lineSupportGate(ms2.toDS(), minSupport = 3)
      .writeStream.format("memory").queryName("lng_ph2")
      .outputMode("append").start()
    try {
      ms2.addData(b3.map(r => r.copy(base = reg.getOrElse(r.line, 0L))))
      q2.processAllAvailable()
      val evicted = spark.table("lng_ph2").as[LineGated].collect()
        .map(g => (g.doc_id, g.line_id) -> g.kept).toMap
      assert(evicted == ctl3,
        s"flush/restart changed verdicts: $evicted vs $ctl3")
      // state SHRANK: only B3's lines, not the full history
      assert(stateRows(q2) == 3L,
        s"restarted state ${stateRows(q2)} != 3 (lines B3 touched)")
    } finally q2.stop()
  }
}
