package graft.operators

import graft.functions.Portable
import graft.plans.native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.C).
  * All narrow per-row projections — no shuffle; they pipeline with the
  * parquet scan at any scale. */
object TextAnalysis {

  /** Marker-token language scoring: count marker occurrences per language,
    * predict the argmax (ties broken by alphabetical language order). */
  def langId(docs: DataFrame, markers: Seq[(String, Seq[String])],
      textCol: String = "text"): DataFrame = {
    val toks = Portable.tokens(col(textCol))
    val scored = markers.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        size(filter(toks, t => words.map(t === _).reduce(_ || _))))
    }
    val langs = markers.map(_._1).sorted
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, _), acc) =>
        val ge = langs.filter(_ != l)
          .map(o => col(s"score_$l") >= col(s"score_$o")).reduce(_ && _)
        when(ge, lit(l)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Deterministic stratified sampling: keep `k` rows per stratum,
    * selected by portable-hash order of the id — a reproducible,
    * engine-independent sample (unlike rand()-based sampling, reruns and
    * other engines pick the identical rows). One window per stratum. */
  def sampleStratified(df: DataFrame, stratumCol: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(native.poly_hash(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Two-stage char-n-gram-profile language ID (the classic n-gram
    * heuristic): train per-language profiles (top `profileSize` trigrams
    * by frequency over the labeled corpus), then classify each document
    * by its distinct-trigram overlap with each profile (argmax, ties →
    * alphabetical language). The profile table is tiny and broadcast;
    * classification is one corpus scan + a small join. */
  def langIdProfile(docs: DataFrame, n: Int = 3, profileSize: Int = 20,
      textCol: String = "text", langCol: String = "lang"): DataFrame = {
    // hashed grams: one native pass per doc, integer explode rows (the
    // string-gram variant doubled the per-doc n-gram construction cost)
    val grams = docs.select(col("doc_id"), col(langCol),
      explode(native.ngram_hash_set(col(textCol), n)).as("gram"))
    val wp = Window.partitionBy(col(langCol))
      .orderBy(col("cnt").desc, col("gram"))
    val profiles = grams.groupBy(col(langCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= profileSize)
      .select(col(langCol).as("profile_lang"), col("gram"))
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("profile_lang"))
    grams.join(broadcast(profiles), "gram")
      .groupBy(col("doc_id"), col("profile_lang"))
      .agg(count(lit(1)).as("score"))
      .withColumn("rk", row_number().over(wd))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("profile_lang").as("pred_lang"), col("score"))
  }

  /** HELD-OUT evaluation face of [[langIdProfile]]:
    * profiles train only on the even-`idCol` half of the corpus and the
    * classifier scores only the odd half, so the confusion matrix
    * measures generalization to unseen documents — the in-sample
    * variant scores its own training rows and its diagonal has no
    * evaluative content. The deterministic parity split is the engine-
    * independent twin of a random split (both halves are i.i.d. under
    * the synthetic id assignment). One corpus gram scan, materialized —
    * the train filter and the score filter are disjoint slices of the
    * same exploded relation. */
  def langIdProfileHoldout(docs: DataFrame, n: Int = 3,
      profileSize: Int = 20, textCol: String = "text",
      langCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    val grams = Materialize(docs.select(col(idCol).as("doc_id"),
      col(langCol), (pmod(col(idCol), lit(2)) === 0).as("is_train"),
      explode(native.ngram_hash_set(col(textCol), n)).as("gram")))
    val wp = Window.partitionBy(col(langCol))
      .orderBy(col("cnt").desc, col("gram"))
    val profiles = grams.filter(col("is_train"))
      .groupBy(col(langCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= profileSize)
      .select(col(langCol).as("profile_lang"), col("gram"))
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("profile_lang"))
    grams.filter(!col("is_train"))
      .join(broadcast(profiles), "gram")
      .groupBy(col("doc_id"), col("profile_lang"))
      .agg(count(lit(1)).as("score"))
      .withColumn("rk", row_number().over(wd))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("profile_lang").as("pred_lang"),
        col("score"))
  }

  /** Quality features: token count, unique-token ratio, stopword ratio,
    * average token length, composite score. */
  def quality(docs: DataFrame, stopwords: Seq[String],
      textCol: String = "text"): DataFrame = {
    val toks = Portable.tokens(col(textCol))
    val n = size(toks).cast("double")
    val uniq = size(array_distinct(toks)).cast("double") / n
    val stop = size(filter(toks, t => stopwords.map(t === _).reduce(_ || _)))
      .cast("double") / n
    val wlen = aggregate(toks, lit(0L), (s, t) => s + length(t))
      .cast("double") / n
    // token-less docs (empty/null text) get NULL ratios — a quality
    // gate drops them — instead of an ANSI divide-by-zero error; the
    // when() guard short-circuits the division
    def safe(c: Column): Column = when(n > 0, c)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("uniq_ratio", safe(round(uniq, 6)))
      .withColumn("stop_ratio", safe(round(stop, 6)))
      .withColumn("avg_wlen", safe(round(wlen, 6)))
      .withColumn("quality",
        safe(round(lit(0.5) * uniq + lit(0.3) * (lit(1.0) - stop) +
          lit(0.2) * least(n / 100.0, lit(1.0)), 6)))
  }

  /** The Gopher quality-rule gate (Rae et al. '21 §A1.1, simplified to
    * the rules expressible over this corpus): per doc, one boolean per
    * rule plus the conjunction. Integer/ratio arithmetic only — every
    * flag is engine-exact. One narrow pass, no shuffle; at 100 TB this
    * gates AT THE SCAN (predicate on the stored flags, or fused into the
    * ingest projection). Rules: token count in [minTok, maxTok]; mean
    * word length in [3, 10]; ≥ 80% of words contain an alphabetic char;
    * ≥ 2 stopword hits. */
  def gopherRules(docs: DataFrame, stopwords: Seq[String],
      minTok: Int = 50, maxTok: Int = 100000,
      textCol: String = "text"): DataFrame = {
    val toks = Portable.tokens(col(textCol))
    val n = size(toks).cast("double")
    val wlen = aggregate(toks, lit(0L), (s, t) => s + length(t))
      .cast("double") / n
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]")))
      .cast("double") / n
    val stopHits = size(filter(toks,
      t => stopwords.map(t === _).reduce(_ || _))).cast("long")
    // token-less docs fail every ratio rule (false, not a division
    // error under ANSI)
    docs
      .withColumn("n_tok", coalesce(size(toks).cast("long"), lit(0L)))
      .withColumn("r_ntok",
        col("n_tok") >= minTok && col("n_tok") <= maxTok)
      .withColumn("r_wlen",
        when(n > 0, wlen >= 3.0 && wlen <= 10.0).otherwise(false))
      .withColumn("r_alpha",
        when(n > 0, alphaFrac >= 0.8).otherwise(false))
      .withColumn("r_stop", coalesce(stopHits >= 2, lit(false)))
      .withColumn("pass",
        col("r_ntok") && col("r_wlen") && col("r_alpha") && col("r_stop"))
  }

  /** Whitespace and BPE-ish (greedy ≤4-char chunk) token counts. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("ws_tokens", size(Portable.tokens(col(textCol))).cast("long"))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(col(textCol), lit("[a-z]{1,4}"), lit(0))).cast("long"))

  /** Document fingerprints: whole-text poly hash + winnowing-lite minimum
    * character-8-gram hash (native single-pass expressions). */
  def fingerprint(docs: DataFrame, ngram: Int = 8,
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", native.poly_hash(col(textCol)))
      .withColumn("winnow_min", native.min_char_ngram_hash(col(textCol), ngram))

  /** Full winnowing fingerprint sets (Schleimer et al.): sliding-window
    * minima over char-n-gram hashes; any shared substring of length ≥
    * n+w−1 guarantees a shared fingerprint. One native pass per doc. */
  def winnowFingerprints(docs: DataFrame, ngram: Int = 8, window: Int = 4,
      textCol: String = "text"): DataFrame =
    docs.withColumn("fps", native.winnow_set(col(textCol), ngram, window))

  /** Within-document repetition signals (the Gopher/C4-style repetition
    * filters): duplicate word-bigram fraction and most-frequent-bigram
    * fraction. Narrow per-row HOF pass — no shuffle. */
  def repetition(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = Portable.tokens(col(textCol))
    val bg = transform(sequence(lit(1), size(w) - 1),
      i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))
    val nb = size(bg).cast("double")
    val dup = (nb - size(array_distinct(bg)).cast("double")) / nb
    val top = array_max(transform(array_distinct(bg),
      g => size(filter(bg, x => x === g)))).cast("double") / nb
    docs
      .withColumn("n_bigrams", when(size(w) < 2, lit(0L))
        .otherwise(size(bg).cast("long")))
      .withColumn("dup_bigram_frac",
        when(size(w) < 2, lit(0.0)).otherwise(round(dup, 6)))
      .withColumn("top_bigram_frac",
        when(size(w) < 2, lit(0.0)).otherwise(round(top, 6)))
  }

  /** PII-pattern counts (email / IPv4) per document — the scrubbing
    * pre-pass of a training-data pipeline. Pure regexp_count projections
    * (RE2-compatible patterns so any engine reproduces them). */
  def piiCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col(textCol),
        lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")).cast("long"))
      .withColumn("n_ips", regexp_count(col(textCol),
        lit("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"))
        .cast("long"))

  /** PII REDACTION — the transform the counting pass ([[piiCounts]])
    * audits for: emails → `<EMAIL>`, IPv4s → `<IP>`, applied globally
    * per document with the same RE2-compatible patterns, so the redacted
    * text is engine-reproducible byte-for-byte. Output keeps the
    * redaction count (emails + IPs removed) alongside the rewritten
    * text. ONE narrow pass, no shuffle — pipelined with the scan. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    piiCounts(docs, textCol)
      .withColumn("n_redactions", col("n_emails") + col("n_ips"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), email, "<EMAIL>"),
          ip, "<IP>"))
      .drop("n_emails", "n_ips")
  }

  /** Temperature-scaled source mixing (T = 2): downsample each source to
    * keep_frac = sqrt(min_share / share) of its documents — the smallest
    * source is kept fully, large sources are damped toward the T=2
    * mixture (share^(1/T) up to normalization). Selection is by portable
    * hash of the id, so the sample is deterministic and engine-
    * reproducible; sqrt keeps both engines bit-identical (no pow). The
    * per-source counts are a tiny broadcast — one corpus scan. */
  def sampleTemperatureT2(docs: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("__cnt"))
    val minCnt = counts.agg(min(col("__cnt")).as("__min_cnt"))
    docs.join(broadcast(counts), sourceCol)
      .crossJoin(broadcast(minCnt))
      .withColumn("keep_frac",
        sqrt(col("__min_cnt").cast("double") / col("__cnt").cast("double")))
      // affine rehash: the raw poly hash of "t2:<sequential id>" is
      // prefix-dominated (u banded in ~[0.07, 0.19], so any keep_frac
      // above ~0.2 kept EVERYTHING); one minhash-family affine step
      // makes the draw uniform and the keep probability real
      .withColumn("__u",
        ((native.poly_hash(concat(lit("t2:"), col(idCol).cast("string")))
          * graft.plans.HashOps.aK(0) + graft.plans.HashOps.bK(0))
          % graft.plans.HashOps.M).cast("double") / lit(2147483647.0))
      .withColumn("kept", col("__u") < col("keep_frac"))
      .drop("__cnt", "__min_cnt", "__u")
  }

  /** TF-IDF keyword extraction: per doc, the top-k terms by
    * tf·ln(N/df). The idf is rounded at 6 dp into an exact decimal, so
    * tf·idf products and their comparisons are engine-exact; ties break
    * on the word. The df table is O(vocab) — the same Zipf-keyed join
    * as the LM scores (AQE skew-split applies; materialize the vocab
    * artifact at web scale). The per-doc top-k window partitions by
    * doc — parallel, never global. */
  def tfidfTopK(docs: DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val n = docs.count()
    // materialized: the df aggregate and the score join both consume the
    // per-(doc, word) table — without this the corpus explode+agg (the
    // dominant stage) runs twice (the bm25 lesson; measured 2.0 → 0.9 s
    // at sf0.1)
    val tf = Materialize(docs
      .select(col(idCol), explode(Portable.tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("word"))
      .agg(countDistinct(col(idCol)).as("df"))
      .withColumn("idf",
        round(log(lit(n.toDouble) / col("df").cast("double")), 6).cast(dec))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk").cast("long").as("rank"), col("word"),
        col("tf"), col("df"), col("score").cast("double").as("tfidf"))
  }

  /** Character-entropy quality signal: H = −Σ_c p_c·ln(p_c) over the
    * doc's character distribution (low entropy = repeated filler /
    * mojibake, high ≈ ln(alphabet) = natural text; the C4/Gopher-family
    * pipelines gate on exactly this). Computed over the SORTED distinct
    * characters with a sequential fold so both engines add the identical
    * IEEE terms in the identical order, then one 6-dp round. Per-row
    * cost O(distinct·len); pure narrow pass, pipelines with the scan. */
  def charEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val chars = Portable.chars(col(textCol))
    val n = size(chars).cast("double")
    val ds = array_sort(array_distinct(chars))
    val terms = transform(ds, c => {
      val p = size(filter(chars, x => x === c)).cast("double") / n
      -p * log(p)
    })
    docs.select(col("doc_id"),
      size(chars).cast("long").as("n_chars"),
      size(ds).cast("long").as("n_distinct"),
      when(size(chars) > 0,
        round(aggregate(terms, lit(0.0), (a, t) => a + t), 6))
        .as("entropy"))
  }

  /** Full-width → ASCII fold table (U+FF01..U+FF5E → U+0021..U+007E plus
    * ideographic space U+3000 → ' '): the one compatibility fold the
    * normalizer applies, spelled as an EXPLICIT translate pair rather
    * than NFKC — both engines agree on a table by construction, while
    * full NFKC corpora can drift between library versions. Public so
    * the oracle SQL embeds the identical pair. */
  val FullwidthFrom: String =
    ((0xFF01 to 0xFF5E).map(_.toChar) :+ '\u3000').mkString
  val FullwidthTo: String = ((0x21 to 0x7E).map(_.toChar) :+ ' ').mkString

  /** Locale-sensitive case-fold exceptions as an EXPLICIT 1:1 table
    * (closes the documented \u0130/\u03c2 seam): applied
    * BEFORE `lower`, so neither engine's context/locale rules ever
    * fire. \u0130 (U+0130) \u2192 i (ICU lowers it to i + combining dot, a 1\u21922
    * mapping utf8proc doesn't apply); \u0131 (U+0131) \u2192 i (unifies Turkish
    * dotless spelling with ASCII for dedup purposes); \u03a3/\u03c2 \u2192 \u03c3 (kills
    * the final-sigma context rule \u2014 medial \u03c3 on both engines). \u00df is
    * the one 1\u21922 fold (\u00df \u2192 ss, German sharp-s) and rides a literal
    * `replace` AFTER `lower` so uppercase \u1e9e (U+1E9E, lowered to \u00df by
    * both engines) folds too. */
  val CaseFoldFrom: String = "\u0130\u0131\u03a3\u03c2"
  val CaseFoldTo: String = "ii\u03c3\u03c3"

  /** CCNet-style text normalization — the canonical pre-dedup transform,
    * Unicode-complete: NFC composition (a native
    * expression over Java's Normalizer ≡ DuckDB `nfc_normalize` —
    * decomposed accents fold to their precomposed forms), full-width →
    * ASCII via the explicit [[FullwidthFrom]] table, Unicode-simple case
    * fold, then CATEGORY-based stripping — everything outside letters
    * (\p{L}), digits (\p{N}) and the space becomes a space, so any
    * script's words survive while punctuation/symbols of any script
    * strip — and whitespace collapse. Two docs that differ only in
    * case, width, composition, or punctuation normalize to the same
    * string, so EXACT dedup over `norm` catches what byte hashing
    * misses, now across scripts. Adds a `norm` column.
    *
    * Portability: NFC is UAX #15 on both engines; \p{L}/\p{N} classes
    * agree between Java regex and RE2; `lower` is the Unicode simple
    * mapping on both once the [[CaseFoldFrom]] table has
    * pre-folded the locale-sensitive exceptions — dotted İ, dotless ı,
    * final sigma — and the post-lower ß → ss replace closes the one
    * 1→2 fold (ẞ included, via lower). Remaining seam is the genuinely
    * locale-conditional tailorings (Lithuanian dot-above, Turkish
    * I → ı) that NO locale-free fold can apply — out of scope by
    * construction. Pure narrow pass fused into the scan projection. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("norm",
      trim(regexp_replace(
        regexp_replace(
          replace(
            lower(translate(native.nfc_normalize(col(textCol)),
              FullwidthFrom + CaseFoldFrom, FullwidthTo + CaseFoldTo)),
            lit("ß"), lit("ss")),
          "[^\\p{L}\\p{N} ]", " "),
        " +", " ")))

  /** Overlapping token-window chunking — the retrieval/context-window
    * prep pass (doc → fixed-size chunks at a fixed stride; the tail
    * chunk may be short). One narrow explode bounded at
    * ceil(n_tok/stride) chunks per doc; the chunk hash is the portable
    * poly-hash of the space-joined window, so a downstream exact-dedup
    * of chunks composes directly.
    *
    * Token-less docs emit nothing (the sequence guard keeps ANSI mode
    * happy — an empty sequence with a positive step is an error). */
  def chunkTokens(docs: DataFrame, size: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size)
    val toks = Portable.tokens(col(textCol))
    docs
      .withColumn("__t", toks)
      .filter(org.apache.spark.sql.functions.size(col("__t")) > 0)
      .withColumn("off", explode(sequence(lit(0),
        org.apache.spark.sql.functions.size(col("__t")) - 1, lit(stride))))
      .select(col(idCol),
        (col("off") / stride).cast("long").as("chunk_id"),
        org.apache.spark.sql.functions.size(
          slice(col("__t"), col("off") + 1, lit(size))).cast("long")
          .as("n_tok"),
        native.poly_hash(concat_ws(" ",
          slice(col("__t"), col("off") + 1, lit(size)))).as("chunk_hash"))
  }

  /** BM25 relevance of every document against a fixed query term set —
    * the retrieval scorer (Robertson/Spärck Jones) a corpus-search or
    * RAG-indexing pipeline runs at export time (k1 = 1.2, b = 0.75):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avglen))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)
    *
    * Determinism: idf and the tf factor are each rounded at 6 dp into
    * exact decimals, so the per-doc score is a sum of exact decimal
    * products — partition-layout exact; the pre-round doubles come from
    * one fixed IEEE expression tree both engines evaluate identically
    * (the dsir_select log precedent).
    *
    * Scale: tf is restricted to the query terms BEFORE the aggregate
    * (the explode filters to |q| terms — the per-(doc, term) table is
    * O(docs·|q|), never O(corpus tokens)); df and the length stats are
    * tiny aggregates broadcast back; no window, no self-join. Docs
    * containing no query term drop (inner-join semantics — a retrieval
    * scorer returns the posting union, not the corpus). */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(16, 6)
    // materialized: the global stats agg and the per-doc length join
    // both read the token counts — without this the corpus tokenizes
    // twice more (once per consumer)
    val lens = Materialize(docs.select(col(idCol),
      native.token_count(col(textCol)).as("len")))
    val stats = lens.agg(count(lit(1)).as("n"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avglen"))
    // materialized: df and the score join both consume this table — the
    // corpus explode (the dominant stage) must run once, not twice
    val tf = Materialize(docs
      .select(col(idCol), explode(Portable.tokens(col(textCol))).as("word"))
      .filter(col("word").isin(queryTerms: _*))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("word"))
      .agg(countDistinct(col(idCol)).as("df"))
      .crossJoin(broadcast(stats.select(col("n"))))
      .withColumn("idf", round(log(
        (col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6).cast(dec))
      .select(col("word"), col("df"), col("idf"))
    tf.join(broadcast(df), "word")
      .join(lens, idCol)
      .crossJoin(broadcast(stats.select(col("avglen"))))
      .withColumn("tff", round(col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avglen"))), 6)
        .cast(dec))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_hits"),
        round(sum(col("idf") * col("tff")), 6).cast("double").as("bm25"))
  }

  /** Document-level token CO-OCCURRENCE with lift — the phrase/collocation
    * signal (word2vec-era PMI is ln of this lift): for token pairs
    * appearing together in ≥ minSupport documents, lift =
    * N·c_xy / (c_x·c_y) (>1 ⇒ the pair co-occurs more than independence
    * predicts). Pairs come from a per-document self-join of DISTINCT
    * tokens (doc-level presence, not positions), so fan-out per doc is
    * bounded by its distinct-token count.
    *
    * Scale: the distinct-token table is materialized once (pair join +
    * totals both read it); the pair agg is map-side combined and the
    * support filter prunes BEFORE the totals join, so at web scale the
    * totals join runs on the surviving O(frequent-pairs) table and the
    * token-totals side stays O(vocab) — broadcast when it fits, shuffle
    * join otherwise (AQE decides; lift needs no global state beyond N). */
  def cooccurrence(docs: DataFrame, minSupport: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = Materialize(docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(Portable.tokens(col(textCol)))).as("tok")))
    val totals = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val n = docs.agg(count(lit(1)).as("n"))
    val a = toks.select(col("doc_id"), col("tok").as("tok_a"))
    val b = toks.select(col("doc_id").as("doc_b"), col("tok").as("tok_b"))
    a.join(b, col("doc_id") === col("doc_b") && col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minSupport)
      .join(broadcast(totals.select(col("tok").as("tok_a"), col("c").as("c_a"))),
        "tok_a")
      .join(broadcast(totals.select(col("tok").as("tok_b"), col("c").as("c_b"))),
        "tok_b")
      .crossJoin(broadcast(n))
      .withColumn("lift", round(col("c_xy").cast("double") * col("n")
        / (col("c_a").cast("double") * col("c_b")), 6))
      .select(col("tok_a"), col("tok_b"), col("c_xy"), col("lift"))
  }

  /** RAKE keyword scores (Rose et al.'s Rapid Automatic Keyword
    * Extraction, word level): candidate phrases are the maximal token
    * runs between stopwords; each content word scores
    * degree/frequency, where degree sums the lengths of the phrases it
    * appears in (words living in longer collocations outrank equally
    * frequent isolated words). Top-k by (score desc, word).
    *
    * Scale: the phrase segmentation is a per-doc running stopword
    * count (window PARTITIONED by doc — bounded by doc length), and
    * the phrase-length window re-uses the same hash distribution
    * (subset partition key, no second exchange); the final agg is
    * map-side combined on the word key; top-k is a TakeOrdered. */
  def rakeScores(docs: DataFrame, stopwords: Seq[String], k: Int = 200,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPhrase = Window.partitionBy(col(idCol), col("phrase_id"))
    // reduceOption: an empty stopword list means "no token is a stop" —
    // the whole doc is one phrase — not a reduce() crash
    val isStop = stopwords.map(col("word") === _)
      .reduceOption(_ || _).getOrElse(lit(false))
    docs
      .select(col(idCol),
        posexplode(Portable.tokens(col(textCol))).as(Seq("pos", "word")))
      .withColumn("is_stop", isStop)
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
      .withColumn("plen", count(lit(1)).over(wPhrase))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("score", round(col("degree") / col("freq"), 6))
      .orderBy(col("score").desc, col("word"))
      .limit(k)
  }
}
