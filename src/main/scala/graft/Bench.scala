package graft

import java.nio.file.{Files, Paths}

/** Driver benchmark contract: ONE JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR, also written to a file (SPARK_GRAFT_BENCH_OUT,
  * default BENCH_LOCAL.json) so the gate never depends on scraping sbt
  * log noise. A session-level warm-up (tiny action per table + one full
  * pass of two cheap queries) separates JVM/codegen start-up cost from
  * steady-state per-query throughput; each query is then timed on full
  * materializations (count of the final plan).
  *
  * Protocol: three FULL interleaved sweeps — every query timed
  * once per sweep, per-query seconds = the MEDIAN across sweeps, and
  * the line carries `sweep_totals` so environment drift between sweeps
  * is visible in the artifact (SPARK_GRAFT_BENCH_SWEEPS overrides the
  * sweep count for local iteration).
  *
  * Split totals: the line additionally carries
  * `batch_total` and `replay_total` — rows that start a streaming
  * replay (observed at run time via [[graft.streaming.StreamedBatch]]'s
  * run counter, no hand-kept list) are summed separately, because their
  * checkpoint/state-store harness cost dominates their timing at every
  * scale factor and was masking batch-plan deltas inside the single
  * total. Plan comparisons read `batch_total`.
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
    val sfDir = GraftSession.sfDir
    val cpus = GraftSession.cpus
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = GraftSession.local()

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

    // Steady-state per-query time over SUCCESSFUL materializations (the
    // reference baseline is a long-running daemon's sustained
    // throughput, so post-JIT time is the comparable number). Sub-second
    // rows are noisy: two back-to-back full sweeps on identical code have
    // measured the same query at 3.1 s and 0.64 s, with no GC pause or
    // code-cache exhaustion in the slow JVM; the machine, not the plan,
    // was contended for seconds at a time.
    final case class R(name: String, secs: Double, err: Option[String])
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (local
    // iteration aid; the driver leaves it unset → full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (n, _) => s(n) })
    // THREE FULL SWEEPS, each timing every query once in alphabetical
    // order, and the reported per-query number is the MEDIAN across
    // sweeps. Back-to-back samples of one query share a multi-second
    // machine-contention window (five same-binary sf0.1 sweeps spread
    // 185-234 s), so one contended window would hit all of them.
    // Interleaving at the sweep level puts minutes between a query's
    // samples; one contended sweep then loses the median vote per query,
    // and the per-sweep TOTALS are reported alongside so a drifting
    // environment is visible in the artifact itself instead of reading
    // as a code regression.
    val sweepCount = sys.env.get("SPARK_GRAFT_BENCH_SWEEPS")
      .map(_.toInt).getOrElse(3)
    val names = selected.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, List[String]]()
      .withDefaultValue(Nil)
    // Rows whose run starts a streaming replay (observed via the
    // StreamedBatch counter — every replay harness ticks it) are split
    // out of the batch total: the replay rows' checkpoint/state-store
    // cost (~40% of the sf0.1 total) swamps the sweep envelope and would
    // hide batch-plan regressions. Plan comparisons read `batch_total`.
    val replayRows = scala.collection.mutable.Set[String]()
    val sweepTotals = (1 to sweepCount).map { sweep =>
      var tot = 0.0
      names.foreach { case (name, fn) =>
        GraftSession.release(spark)
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
    // two middle samples ONLY when every sweep succeeded (the upper
    // median would bias an even SPARK_GRAFT_BENCH_SWEEPS count upward),
    // but an even count CAUSED BY a crashed sweep keeps the
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
    // Per-SF committed artifact: BENCH_LOCAL.json is overwritten by
    // whichever scale ran last, which would lose the sf0.01-vs-sf0.1
    // per-query slope data, the one contention-proof perf signal. A
    // second copy keyed by scale factor (sf0.01 → BENCH_SF001.json,
    // sf0.1 → BENCH_SF01.json) survives both runs; full restricted runs
    // (SPARK_GRAFT_BENCH_ONLY) skip it so a partial sweep never
    // masquerades as the board.
    //
    // The artifact is ALSO keyed by core count, so a trailing 8-core
    // scaling run cannot overwrite the 32-core board. Every full run writes BENCH_SF<tag>_c<cpus>.json; the unsuffixed
    // historical name is written only by 32-core runs (the driver's
    // main bench shape), so a low-core scaling run can never clobber it.
    if (only.isEmpty) {
      val sfTag = Paths.get(sfDir).getFileName.toString
        .stripPrefix("sf").replace(".", "")
      Files.writeString(Paths.get(s"BENCH_SF${sfTag}_c$cpus.json"), line + "\n")
      if (cpus == 32)
        Files.writeString(Paths.get(s"BENCH_SF$sfTag.json"), line + "\n")
    }
    println(line)
    println(compact)
    spark.stop()
  }
}
