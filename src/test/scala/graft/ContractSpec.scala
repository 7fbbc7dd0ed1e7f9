package graft

/** Driver-contract guard: every declared query has an oracle, names are
  * consistent, and the flagship entry returns rows — the invariants the
  * driver's smoke/correctness gates assume. */
class ContractSpec extends SparkSpec {

  test("every query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert(q.subsetOf(o), s"queries without oracles: ${q -- o}")
  }

  test("Bench.jstr output parses back to the input (every ASCII char, quote, backslash, non-ASCII)") {
    // Bench's JSON line and Verify's oracle_sql.json share this escaper;
    // a control char it let through would make the reader's parse fail
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val all = (0 to 0x7f).map(_.toChar).mkString + "\"\\\u00e9\u20ac"
    (all.map(_.toString) :+ all).foreach { s =>
      assert(mapper.readValue(Bench.jstr(s), classOf[String]) == s,
        s"round-trip failed for ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("flagship entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("schema-drift canary: current testdata normalizes to expected dtypes") {
    // Loads every table from the CURRENT /root/testdata and pins the
    // post-normalization dtypes downstream code assumes. Round 5 died
    // because events.ts silently flipped TIMESTAMP(NANOS)→timestamp[us]
    // at the driver seam; this catches the next flip in the local gate.
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    graft.sources.Tables.All.foreach { t =>
      assert(graft.sources.Tables.load(spark, dir, t).schema.nonEmpty, s"$t unreadable")
    }
    val ev = graft.sources.Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == LongType,
      s"events.ts must normalize to BIGINT nanos, got ${ev.schema("ts").dataType}")
    // value-level pin: nanos magnitude (2020..2030 epoch range), not micros
    val t0 = ev.selectExpr("min(ts)").first().getLong(0)
    assert(t0 > 1.5e18.toLong && t0 < 2.0e18.toLong,
      s"events.ts min $t0 not in epoch-nanos range — wrong unit after normalization")
    val li = graft.sources.Tables.lineitem(spark, dir)
    assert(li.schema("l_shipdate").dataType.isInstanceOf[TimestampType.type] ||
      li.schema("l_shipdate").dataType == TimestampNTZType,
      s"lineitem.l_shipdate unexpected dtype ${li.schema("l_shipdate").dataType}")
    val emb = graft.sources.Tables.embeddings(spark, dir)
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType],
      s"embeddings.embedding unexpected dtype ${emb.schema("embedding").dataType}")
  }

  test("events seam: legacy BIGINT-nanos layout reads identically to the current layout") {
    // the driver has shipped events.ts under two physical layouts; the
    // current testdata only exercises the timestamp branch, so synthesize
    // the legacy shape (ts stored as BIGINT epoch-nanos) and prove both
    // accessors return the SAME values through either branch
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    graft.sources.Tables.events(spark, dir) // already BIGINT nanos
      .write.parquet(s"$tmp/events.parquet")

    val cur = graft.sources.Tables.events(spark, dir)
    val leg = graft.sources.Tables.events(spark, tmp)
    assert(leg.schema("ts").dataType == LongType)
    assert(leg.select(sum(col("ts").cast("decimal(38,0)")), count(lit(1))).first() ===
      cur.select(sum(col("ts").cast("decimal(38,0)")), count(lit(1))).first())

    val curT = graft.sources.Tables.eventsTime(spark, dir)
    val legT = graft.sources.Tables.eventsTime(spark, tmp)
    assert(curT.schema("ts").dataType == TimestampType &&
      legT.schema("ts").dataType == TimestampType)
    assert(legT.select(sum(unix_micros(col("ts")).cast("decimal(38,0)"))).first() ===
      curT.select(sum(unix_micros(col("ts")).cast("decimal(38,0)"))).first())
  }

  test("oracle SQL references only the driver-registered tables") {
    val allowed = graft.sources.Tables.All.toSet
    val tablePattern = "(?i)\\bFROM\\s+([a-z_][a-z0-9_]*)".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      tablePattern.findAllMatchIn(sql).map(_.group(1).toLowerCase).foreach { t =>
        // CTE names and derived aliases are fine; flag only unknown
        // bare names that look like base tables
        val cteNames = "(?i)\\b([a-z_][a-z0-9_]*)\\s*(\\([^)]*\\))?\\s+AS\\s*\\(".r
          .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
        assert(allowed.contains(t) || cteNames.contains(t) || t == "read_parquet",
          s"$name references unknown table '$t'")
      }
    }
  }

  test("oracle SQL has no literal ${ and balanced parentheses outside string literals") {
    // a builder call spliced into a string that lost its `s` interpolator
    // leaves `${call(...)}` or `$name` in the SQL text (DuckDB's own `$`
    // appears only inside literals, as in '$.k'); a dropped or doubled
    // closer in a spliced fragment unbalances the parentheses
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("${"), s"$name: literal $${ in its oracle SQL")
      var depth = 0
      var inLiteral = false
      sql.foreach {
        case '\'' => inLiteral = !inLiteral
        case '$' if !inLiteral => fail(s"$name: '$$' outside a string literal")
        case '(' if !inLiteral => depth += 1
        case ')' if !inLiteral =>
          depth -= 1
          assert(depth >= 0, s"$name: ')' without a matching '('")
        case _ =>
      }
      assert(!inLiteral, s"$name: unterminated string literal")
      assert(depth == 0, s"$name: $depth unclosed '('")
    }
  }

  test("each twin answers to its base row's oracle SQL verbatim") {
    // (twin, base): a replay, merge, stored-artifact or restart row whose
    // relation must equal its base row's exactly names the base's SQL
    // instead of a copy; a copy that drifts would check the twin
    // against a different relation
    val twins = Seq(
      "sync_pipeline_stream" -> "sync_pipeline",
      "sync_compacted_store" -> "sync_pipeline",
      "sync_rate_limit_stream" -> "sync_rate_limit",
      "sync_rollover_stream" -> "sync_rollover",
      "sync_ack_ledger_stream" -> "sync_ack_ledger",
      "q_attribution_stream" -> "q_attribution",
      "q_sessionize_stream" -> "q_sessionize",
      "q_skyline_merge" -> "q_skyline",
      "q_skyline_stream" -> "q_skyline",
      "q_skyline3_merge" -> "q_skyline3",
      "dedup_registry_compact" -> "dedup_incremental",
      "dedup_index_stored" -> "dedup_incremental",
      "vocab_build" -> "vocab_merge",
      "sketch_moments" -> "sketch_moments_stream",
      "lm_unigram_vocab" -> "lm_unigram_score",
      "lm_bigram_vocab" -> "lm_bigram_score",
      "tokenizer_encode_stream" -> "tokenizer_encode",
      "quota_gate_stream" -> "quota_gate",
      "sample_exact_k_merge" -> "sample_exact_k",
      "sample_exact_k_stream" -> "sample_exact_k",
      "sample_weighted_k_merge" -> "sample_weighted_k",
      "sample_weighted_k_stream" -> "sample_weighted_k",
      "sim_pq_stored" -> "sim_pq_ivf",
      "dedup_lines_evict" -> "dedup_lines_stream",
      "dedup_lines_ttl" -> "dedup_lines_stream",
      "dedup_lines_ttl_stored" -> "dedup_lines_stream",
      "dedup_gate_evict" -> "dedup_gate_multibatch",
      "dedup_gate_ttl" -> "dedup_gate_multibatch",
      "dedup_gate_ttl_stored" -> "dedup_gate_multibatch",
      "decontaminate_stream" -> "decontaminate_bloom",
      "dedup_ngram_jaccard_prefix" -> "dedup_ngram_jaccard",
      "dedup_ngram_jaccard_merge" -> "dedup_ngram_jaccard",
      "sketch_hll_stream" -> "sketch_hll",
      "sketch_kmv_stream" -> "sketch_kmv",
      "sketch_cms_dot_stream" -> "sketch_cms_dot",
      "sketch_freq_cms_stream" -> "sketch_freq_cms",
      "sketch_quantile_stream" -> "sketch_quantile",
      "sketch_heavy_hitters_stream" -> "sketch_heavy_hitters",
      "cdc_apply_stream" -> "cdc_apply")
    val sql = SparkEntry.oracleSql
    twins.foreach { case (twin, base) =>
      assert(sql.contains(twin) && sql.contains(base), s"$twin or $base has no oracle")
      assert(sql(twin) == sql(base), s"$twin's oracle SQL is not $base's")
    }
  }
}
