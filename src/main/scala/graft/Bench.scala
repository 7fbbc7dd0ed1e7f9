package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver benchmark contract: ONE JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR, also written to a file (SPARK_GRAFT_BENCH_OUT,
  * default BENCH_LOCAL.json) so the gate never depends on scraping sbt
  * log noise. A session-level warm-up (tiny action per table + one full
  * pass of two cheap queries) separates JVM/codegen start-up cost from
  * steady-state per-query throughput; each query is then timed on full
  * materializations (count of the final plan).
  *
  * Protocol (r11): three FULL interleaved sweeps — every query timed
  * once per sweep, per-query seconds = the MEDIAN across sweeps, and
  * the line carries `sweep_totals` so environment drift between sweeps
  * is visible in the artifact (SPARK_GRAFT_BENCH_SWEEPS overrides the
  * sweep count for local iteration).
  *
  * Split totals (r12, verdict #3): the line additionally carries
  * `batch_total` and `replay_total` — rows that start a streaming
  * replay (observed at run time via [[graft.streaming.StreamedBatch]]'s
  * run counter, no hand-kept list) are summed separately, because their
  * checkpoint/state-store harness cost dominates their timing at every
  * scale factor and was masking batch-plan deltas inside the single
  * total. Cross-round plan comparisons read `batch_total`.
  *
  * Failure contract: a query run that throws is NEVER reported as a
  * timing. A query with zero successful sweeps reports -1.0; partial
  * failures report the min of the surviving samples; every failure
  * message lands in `errors` and on stderr.
  */
object Bench {
  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — one raw tab or CR in a query name, an error
    * message or oracle SQL would make the reader's JSON parse fail.
    * Shared by the bench line and Verify's oracle_sql.json. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Shuffle/spill scratch on the fastest local media (guide §6/§9):
      // graft.operators.Scratch resolves SPARK_GRAFT_SCRATCH → /dev/shm
      // → java.io.tmpdir; a real cluster sets SPARK_LOCAL_DIRS (which
      // overrides this conf) to its local SSDs. Measured at sf0.1 on a
      // 15-query batch subset (3 sweeps each, back-to-back): ext4 /tmp
      // 67.1 s vs tmpfs 36.9 s — every exchange's shuffle-file I/O
      // halves on this box. Ephemeral per-run dir; results unchanged.
      .config("spark.local.dir",
        graft.operators.Scratch.tempDir("graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      // legacy-layout compatibility: when events.parquet stores
      // TIMESTAMP(NANOS) (rounds ≤4), the plain per-table warm-up read
      // aborts without this; harmless on the current micros layout
      // (Tables.events normalizes either way).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Warm-up: JIT/codegen/session init + file-listing caches. Guarded
    // PER ITEM — one failure must not silently skip the rest.
    def warm(label: String)(f: => Unit): Unit =
      try f catch {
        case e: Throwable => System.err.println(s"[bench] warm-up $label failed: $e")
      }
    graft.sources.Tables.All.foreach { t =>
      warm(t)(spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
    }
    warm("q1_agg")(SparkEntry.queries("q1_agg")(spark, sfDir).count())
    warm("sync_route_index")(SparkEntry.queries("sync_route_index")(spark, sfDir).count())

    // Steady-state per-query time: min over two SUCCESSFUL materializations
    // (the reference baseline is a long-running daemon's sustained
    // throughput, so post-JIT time is the comparable number).
    //
    // Round-3/4 regression diagnosis (sync_debug_detect 0.90 s → 2.52 s in
    // BENCH_r03 on untouched code): NOT reproducible — re-measured in round
    // 4 on the same commit's operator at sf0.1/local[32] it runs 0.73 s
    // isolated (SPARK_GRAFT_BENCH_ONLY) and 0.61 s inside the full
    // alphabetical sweep, i.e. back at its round-2 value with no code
    // change. The plan (pruned scan → get_json_object → rlike → 2-group
    // agg) has no order-dependent state; the 2.52 s was a transient
    // artifact of that driver run (BENCH_r03 was attempt "n": 3 — a
    // retried, contended run), not a plan or JIT regression. min-over-two
    // within one process cannot defend against machine-level contention;
    // cross-round comparisons should treat ±2-3× on sub-second queries as
    // environment noise unless it reproduces.
    //
    // Second data point (same round, later session): two BACK-TO-BACK
    // full sweeps on identical code measured 3.100 s then 0.636 s for
    // this query (totals 76.1 s vs 59.8 s — the whole board inflated in
    // the slow run). GC logs from the slow-run JVM show zero full pauses
    // and no code-cache exhaustion; both timed runs inside a sweep were
    // equally slow, so the contention window spans seconds. Confirms:
    // bimodal machine-level noise, not plan/JIT state.
    final case class R(name: String, secs: Double, err: Option[String])
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (local
    // iteration aid; the driver leaves it unset → full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (n, _) => s(n) })
    // r11 protocol (verdict #4): THREE FULL SWEEPS, each timing every
    // query once in alphabetical order, and the reported per-query
    // number is the MEDIAN across sweeps. The pre-r11 per-query
    // min-of-2 (+conditional third run) ran a query's samples
    // back-to-back, so a multi-second machine-contention window (the
    // bimodal-noise history above — five same-binary sf0.1 sweeps
    // spread 185-234 s) hit BOTH samples of the queries inside it and
    // arbitration never fired. Interleaving at the sweep level puts
    // minutes between a query's samples; one contended sweep then
    // loses the median vote per query, and the per-sweep TOTALS are
    // reported alongside so a drifting environment is visible in the
    // artifact itself instead of reading as a code regression.
    val sweepCount = sys.env.get("SPARK_GRAFT_BENCH_SWEEPS")
      .map(_.toInt).getOrElse(3)
    val names = selected.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, List[String]]()
      .withDefaultValue(Nil)
    // r12 (verdict #3): rows whose run starts a streaming replay
    // (observed via the StreamedBatch counter — every replay harness
    // ticks it) are split out of the batch total: the ~26 replay rows'
    // checkpoint/state-store cost (~40% of the sf0.1 total) swamps the
    // sweep envelope and was hiding batch-plan regressions. The
    // round-over-round plan comparison reads `batch_total`.
    val replayRows = scala.collection.mutable.Set[String]()
    val sweepTotals = (1 to sweepCount).map { sweep =>
      var tot = 0.0
      names.foreach { case (name, fn) =>
        // Release DEAD materialization blocks from prior queries before
        // timing: Materialize local-checkpoints eagerly and a finished
        // query's blocks are unreachable, but they still occupy the
        // unified memory pool — measured on dedup_prefix_jaccard (3
        // materializations): 0.85 s in a fresh session vs 6.6 s after
        // 28 queries' accumulated blocks, same code, reproducible.
        // Each timed run rebuilds its own plan, so nothing live is lost.
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val replays0 = graft.streaming.StreamedBatch.replayRuns
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val t = (System.nanoTime() - t0) / 1e9
          samples(name) = t :: samples(name)
          tot += t
        } catch { case e: Throwable =>
          errors(name) = (s"sweep $sweep: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(400)) :: errors(name)
        }
        if (graft.streaming.StreamedBatch.replayRuns > replays0)
          replayRows += name
      }
      tot
    }
    // median across sweeps; an even surviving-sample count averages the
    // two middle samples ONLY when every sweep succeeded (r12 ADVICE ×2:
    // the upper median biased even SPARK_GRAFT_BENCH_SWEEPS counts
    // upward, but an even count CAUSED BY a crashed sweep keeps the
    // contention-defensive min — a crash partial's surviving samples
    // share the crash's contention window, and averaging them in would
    // shift committed-total semantics for partially failed rows); a
    // single sample reports itself.
    def report(xs: List[Double], crashPartial: Boolean): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else if (crashPartial) s.head
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.map { case (name, _) =>
      R(name, report(samples(name), errors(name).nonEmpty),
        errors(name) match {
          case Nil => None
          case es => Some(es.reverse.mkString("; "))
        })
    }
    results.flatMap(r => r.err.map(r.name -> _)).foreach { case (n, e) =>
      System.err.println(s"[bench] QUERY FAILED $n: $e")
    }

    // 3-decimal seconds keep the full line compact; Locale.ROOT so the
    // decimal separator is always '.'
    def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map(r => jstr(r.name) + ":" + fmt(r.secs)).mkString("{", ",", "}")
    val errs = results.flatMap(r => r.err.map(e => jstr(r.name) + ":" + jstr(e)))
      .mkString("{", ",", "}")
    val total = results.filter(_.secs >= 0).map(_.secs).sum
    val replayTotal = results
      .filter(r => r.secs >= 0 && replayRows(r.name)).map(_.secs).sum
    val batchTotal = total - replayTotal
    val nReplay = results.count(r => replayRows(r.name))
    val nErr = results.count(_.err.isDefined)
    val sweepsJson = sweepTotals.map(fmt).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","batch_total":${fmt(batchTotal)},"replay_total":${fmt(replayTotal)},"n_replay_queries":$nReplay,"queries":$qs,"errors":$errs,"n_errors":$nErr,"sweep_totals":$sweepsJson,"sf":${jstr(sfDir)}}"""
    // tail-proof contract: the LAST stdout line is a short, complete JSON
    // object (a bounded tail window always contains one parseable line
    // even if the full per-query line gets truncated by log capture);
    // the full detail lives in the line above and in the output file.
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","batch_total":${fmt(batchTotal)},"replay_total":${fmt(replayTotal)},"n_errors":$nErr,"sf":${jstr(sfDir)}}"""
    Files.writeString(Paths.get(outFile), line + "\n")
    // Per-SF committed artifact (r6 verdict #2): BENCH_LOCAL.json is
    // overwritten by whichever scale ran last, which destroyed the
    // sf0.01-vs-sf0.1 per-query slope data — the only contention-proof
    // cross-round perf signal (see the bimodal-noise history above). A
    // second copy keyed by scale factor (sf0.01 → BENCH_SF001.json,
    // sf0.1 → BENCH_SF01.json) survives both runs; full restricted runs
    // (SPARK_GRAFT_BENCH_ONLY) skip it so a partial sweep never
    // masquerades as the board.
    //
    // r14 (verdict #1): the artifact is ALSO keyed by core count — the
    // r13 driver's trailing 8-core scaling run overwrote the 32-core
    // board in the working tree, destroying the round's per-query data.
    // Every full run writes BENCH_SF<tag>_c<cpus>.json; the unsuffixed
    // historical name is written only by 32-core runs (the driver's
    // main bench shape), so a low-core scaling run can never clobber it.
    if (only.isEmpty) {
      val sfTag = Paths.get(sfDir).getFileName.toString
        .stripPrefix("sf").replace(".", "")
      Files.writeString(Paths.get(s"BENCH_SF${sfTag}_c$cpus.json"), line + "\n")
      if (cpus == "32")
        Files.writeString(Paths.get(s"BENCH_SF$sfTag.json"), line + "\n")
    }
    println(line)
    // r14 (verdict #1): the driver captures a bounded stdout TAIL
    // (~4 KB observed in BENCH_r13.json) and the full per-query line is
    // ~7 KB at 341 rows, so it truncated mid-object and PERF_r13
    // compared ZERO queries. Re-emit the per-query map as BOUNDED chunk
    // lines — each a complete, independently parseable JSON object well
    // under the tail window — ordered by ASCENDING per-query seconds so
    // the lines nearest the tail carry the most expensive rows (the ones
    // a perf comparison needs most; the cheap sub-second rows are the
    // noise-dominated ones anyway). The compact totals line stays LAST —
    // the tail-proof contract is unchanged, these lines are additive.
    val byCost = results.sortBy(r => (r.secs, r.name))
      .map(r => jstr(r.name) + ":" + fmt(r.secs))
    val chunks = byCost.foldLeft(List.empty[List[String]]) { (acc, e) =>
      acc match {
        case h :: t if (h.map(_.length + 1).sum + e.length) <= 1500 =>
          (e :: h) :: t
        case _ => List(e) :: acc
      }
    }.map(_.reverse).reverse
    chunks.zipWithIndex.foreach { case (es, i) =>
      println(s"""{"metric":"queries_chunk","part":${i + 1},"of":${chunks.size},"queries":${es.mkString("{", ",", "}")},"sf":${jstr(sfDir)}}""")
    }
    println(compact)
    spark.stop()
  }
}
