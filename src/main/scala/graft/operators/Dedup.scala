package graft.operators

import graft.functions.Portable
import graft.plans.native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.C).
  *
  * Scale posture (100 TB): signature computation (minhash/simhash/key
  * normalization) is a narrow per-row pass with a native expression — no
  * shuffle. The only wide stages are the groupBy on (band, bucket) /
  * normalized key, which shuffle once on well-distributed hash keys, and
  * the within-bucket candidate self-joins, whose cost is bounded by bucket
  * size (band count and rows-per-band tune the bucket-collision rate).
  * Never an all-pairs join except the explicitly-bounded variants here.
  */
object Dedup {

  /** Content-normalized exact dedup: documents whose sorted distinct token
    * sets are identical form one group; the keeper is the smallest id.
    * One shuffle on the normalized-key hash. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val key = concat_ws(" ", array_sort(array_distinct(Portable.tokens(col(textCol)))))
    docs.groupBy(native.poly_hash(key).as("key_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))
  }

  /** MinHash+LSH near-dup candidates: K-slot signature over word-n-shingles
    * (native single-pass expression), split into `bands` bands; documents
    * sharing any band bucket become a candidate pair. The banded signature
    * table is materialized ONCE before the self-join ([[Materialize]]) —
    * otherwise both join sides rescan the corpus and re-evaluate the
    * signature expression, doubling the most expensive stage. */
  def minhashCandidates(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // built on the SAME [[minhashBuckets]] step the incremental and
    // streaming paths use — one bucketing implementation, so their
    // batch-parity guarantees can't drift
    val banded = Materialize(
      minhashBuckets(docs, k, bands, shingleN, textCol, idCol))
    val a = banded.select(col("bucket"), col("doc_id").as("doc_a"))
    val b = banded.select(col("bucket").as("bucket_b"),
      col("doc_id").as("doc_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The per-(source, slot) union-signature table behind
    * [[sourceMinhashOverlap]] — the MERGEABLE per-batch artifact: two
    * batches' tables combine by slot-wise min (spec-proven ≡ the
    * full-corpus table). */
  def sourceMinhashSlots(docs: DataFrame, k: Int = 16, shingleN: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame =
    docs.select(col(srcCol).as("src"),
        posexplode(native.minhash_sig(col(textCol), k, shingleN))
          .as(Seq("slot", "h")))
      .groupBy(col("src"), col("slot")).agg(min(col("h")).as("mh"))

  /** Cross-source overlap ESTIMATED from minhash-union sketches — the
    * O(sources·k) alternative to [[Curation.sourceOverlap]]'s exact
    * gram self-join: the minhash of a set UNION is the slot-wise MIN of
    * the member signatures, so each source's whole shingle-set
    * signature is one min-agg over its docs' signatures, and the
    * pairwise estimate is matching slots / k. The estimator the mixture
    * designer runs FIRST (every source pair at sketch cost), with the
    * exact gram join reserved for the pairs the sketch flags.
    *
    * Scale: ONE corpus scan (the same native signature expression as
    * LSH dedup), map-side-combined min-agg to a sources×k table —
    * model-state sized — and a slot-keyed self-join on that tiny table.
    * The sketch is MERGEABLE (min is associative-commutative): per-batch
    * sketches stored daily combine by slot-wise min, no corpus rescan —
    * the vocabMerge property for set overlap. */
  def sourceMinhashOverlap(docs: DataFrame, k: Int = 16, shingleN: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val slots = sourceMinhashSlots(docs, k, shingleN, srcCol, textCol)
    val a = slots.select(col("slot"), col("src").as("source_a"),
      col("mh").as("mh_a"))
    val b = slots.select(col("slot").as("slot_b"), col("src").as("source_b"),
      col("mh").as("mh_b"))
    a.join(b, col("slot") === col("slot_b") && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
        .as("n_match"))
      .withColumn("est_jaccard", col("n_match").cast("double") / k)
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming — EXACT,
    * via pigeonhole byte-band blocking: with the 32-bit hash split into 4
    * byte bands, ≤ m differing bits touch ≤ m bands, so some (4−m)-band
    * subset matches exactly. Each doc emits one key per (4−m)-subset;
    * an equality join on (subset, band values) yields candidates with
    * guaranteed full recall, then the hamming filter verifies. Requires
    * maxHamming ≤ 3; the join is a hash join on well-spread keys — no
    * all-pairs comparison at any scale. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "byte-band pigeonhole blocking needs maxHamming <= 3")
    pigeonholePairs(docs.select(col(idCol).as("doc_id"),
      native.simhash32(col(textCol)).as("sh")), bandBits = 8, maxHamming)
  }

  /** Shared exact pigeonhole blocking over a hash column `sh` split into
    * four `bandBits`-wide bands: ≤ m differing bits touch ≤ m bands, so
    * some (4−m)-band subset matches exactly — each doc emits one key per
    * subset, an equality join yields candidates with guaranteed full
    * recall, and the hamming filter verifies. One implementation serves
    * both the 32-bit and 64-bit simhash paths. */
  private def pigeonholePairs(h: DataFrame, bandBits: Int,
      maxHamming: Int): DataFrame = {
    def band(i: Int) = shiftright(col("sh"), bandBits * i)
      .bitwiseAND(lit((1L << bandBits) - 1))
    val keep = 4 - maxHamming
    val subsets = (0 until 4).combinations(keep).toSeq.zipWithIndex
    val keyed = h.select(col("doc_id"), col("sh"), explode(array(
      subsets.map { case (bs, sid) =>
        struct(lit(sid).as("sid"),
          concat_ws(",", bs.map(band): _*).as("bkey"))
      }: _*)).as("k"))
    val a = keyed.select(col("k").as("ka"), col("doc_id").as("doc_a"),
      col("sh").as("sh_a"))
    val b = keyed.select(col("k").as("kb"), col("doc_id").as("doc_b"),
      col("sh").as("sh_b"))
    a.join(b, col("ka") === col("kb") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hd"))
      .filter(col("hd") <= maxHamming)
      .distinct()
  }

  /** Banded minhash bucket keys (band folded into one long key) — the
    * shared signature→bucket step of [[minhashCandidates]],
    * [[incrementalDedup]] and the streaming gate. One narrow pass. */
  def minhashBuckets(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val rows = k / bands
    docs.select(col(idCol).as("doc_id"),
        native.minhash_sig(col(textCol), k, shingleN).as("sig"))
      .select(col("doc_id"), posexplode(array((0 until bands).map(b =>
        Portable.bandHash(col("sig"), b, rows)): _*)))
      .toDF("doc_id", "band", "bh")
      // band < bands, bh < M: band·M + bh is injective → one join key
      .select(col("doc_id"),
        (col("band").cast("long") * graft.plans.HashOps.M + col("bh"))
          .as("bucket"))
  }

  /** Estimated jaccard for every minhash-LSH candidate pair — the verify
    * stage that runs WITHOUT re-reading any text: est = (matching
    * signature slots) / k, the unbiased minhash estimator of set jaccard.
    * This is what production LSH dedup thresholds on before committing a
    * pair to the cluster graph (the candidate join alone over-recalls:
    * one colliding band ≠ similar documents).
    *
    * Scale: one signature pass, MATERIALIZED — the banding and the
    * estimate both read the stored signatures instead of re-deriving the
    * corpus scan ([[minhashCandidates]]'s lesson); one band-bucket
    * shuffle; the estimate itself is a zip-fold over the two k-slot
    * signatures already present in the joined row, so no second lookup
    * join. k = 16 keeps est an exact multiple of 1/16 — bit-exact as a
    * double in any engine. */
  def minhashEstimates(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val rows = k / bands
    val sigs = Materialize(docs.select(col(idCol).as("doc_id"),
      native.minhash_sig(col(textCol), k, shingleN).as("sig")))
    val banded = sigs
      .select(col("doc_id"), col("sig"), posexplode(array((0 until bands).map(b =>
        Portable.bandHash(col("sig"), b, rows)): _*)))
      .toDF("doc_id", "sig", "band", "bh")
      .select(col("doc_id"), col("sig"),
        (col("band").cast("long") * graft.plans.HashOps.M + col("bh"))
          .as("bucket"))
    val a = banded.select(col("bucket"), col("doc_id").as("doc_a"),
      col("sig").as("sig_a"))
    val b = banded.select(col("bucket").as("bucket_b"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_match"))
      .distinct()
      .withColumn("est_jaccard", col("n_match").cast("double") / k)
  }

  /** Incremental dedup — the production daily-ingest shape: near-dup
    * check of an INCOMING batch against the HISTORICAL corpus without
    * re-pairing history against itself. Returns one row per incoming doc
    * that shares ≥ 1 minhash band bucket with history: the earliest
    * matching historical doc and the shared-bucket count.
    *
    * Scale: the history bucket table is the stored dedup INDEX (computed
    * once per corpus version, written partitioned by bucket); the
    * incoming batch is small relative to history, so its bucket table is
    * broadcast — history is scanned once, never self-joined. Candidate
    * verification (exact jaccard on the candidate pairs) composes
    * downstream exactly as in the batch path. */
  def incrementalDedup(history: DataFrame, incoming: DataFrame,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    incrementalDedupIndex(
      minhashBuckets(history, k, bands, shingleN, textCol, idCol),
      incoming, k, bands, shingleN, textCol, idCol)

  /** [[incrementalDedup]] against an EXPLICIT history bucket index —
    * the seam the STORED artifact uses: at 100 TB the history index is
    * computed once per corpus version and written partitioned by a
    * bucket prefix; the daily check reads it back instead of re-hashing
    * history. `index` columns: (bucket, doc_id). */
  def incrementalDedupIndex(index: DataFrame, incoming: DataFrame,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val h = index.select(col("bucket"), col("doc_id").as("hist_doc"))
    val i = minhashBuckets(incoming, k, bands, shingleN, textCol, idCol)
      .select(col("bucket"), col("doc_id").as("doc_id"))
    h.join(broadcast(i), "bucket")
      .groupBy(col("doc_id"))
      .agg(min(col("hist_doc")).as("first_hist_doc"),
        countDistinct(col("bucket")).as("n_buckets"))
  }

  /** 64-bit widening of [[simhashPairs]]: the same exact pigeonhole
    * blocking, but over a 62-bit simhash split into 16-BIT bands — at
    * maxHamming ≤ 3 the block keys draw from 65k values per band instead
    * of the byte-band's 256, so a large corpus doesn't collapse into a
    * few hundred giant buckets when a user asks for the full hamming-3
    * radius (the 32-bit path's skew cliff). Token hash: lo = polyHash(t)
    * (bits 0-30, identical votes to the 32-bit simhash — low-31-bit
    * parity is asserted in DedupParitySpec), hi = affine(lo) (bits
    * 31-61); bits 62-63 are structurally zero, which only ever shrinks
    * hamming distances — recall stays exact. */
  def simhash64Pairs(docs: DataFrame, maxHamming: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "16-bit-band pigeonhole blocking needs maxHamming <= 3")
    pigeonholePairs(docs.select(col(idCol).as("doc_id"),
      native.simhash64(col(textCol)).as("sh")), bandBits = 16, maxHamming)
  }

  /** Rare-first prefix-filtered candidate pairs WITHIN blocks — the
    * AllPairs prefix filter ([[prefixJaccardPairs]]) applied to the
    * already-MATERIALIZED exploded token relation `toks` = (doc_id, blk,
    * tok) — shared with the caller's dictionary/encode stages, so the
    * n-gram explode runs once per corpus scan, not once per stage.
    * Tokens rank rare-first globally (two-phase [[Curation.globalRank]],
    * never a single-task sort); each doc emits only its first
    * sz − ⌈τ·sz⌉ + 1 rarest tokens; candidates are the equi-join on
    * (blk, token) under the lossless length-ratio prune. Provably
    * COMPLETE at τ = tauNum/tauDen: a qualifying pair shares ≥ ⌈τ·sz⌉
    * tokens on each side, so its rarest common token sits inside BOTH
    * prefixes — callers verify candidates exactly and lose nothing. All
    * threshold tests are integer cross-multiplied (no float boundary).
    *
    * This replaces the blk-only self-join whose candidate count is
    * O(block²) — at 100 TB one language block is most of the corpus,
    * while rare-token posting lists stay short by construction. */
  private def prefixBlockedCandidates(toks: DataFrame, tauNum: Int,
      tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, "need 0 < tauNum/tauDen <= 1")
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val ranked = Curation.globalRank(freq, Seq(col("f").asc, col("tok")), "rk")
    // rks ascending = the doc's tokens in rare-first order
    val docRks = toks
      .join(ranked.select(col("tok"), col("rk")), "tok")
      .groupBy(col("doc_id"), col("blk"))
      .agg(sort_array(collect_list(col("rk"))).as("rks"),
        count(lit(1)).as("sz"))
    val prefLen = (col("sz") -
      expr(s"(sz * $tauNum + ${tauDen - 1}) div $tauDen") + 1).cast("int")
    // posexplode keeps each prefix token's 0-based rare-first position:
    // the PPJoin POSITIONAL filter below needs it. On a flat token
    // alphabet (e.g. char 3-grams, a few hundred values) the prefix
    // filter alone degenerates — "rare" tokens still post thousands of
    // docs — and the positional bound is what keeps the candidate count
    // near the verified-pair count (measured 6.7 s → with positions the
    // join output shrinks by the suffix-overlap bound).
    val pref = docRks.select(col("doc_id"), col("blk"), col("sz"),
      posexplode(slice(col("rks"), lit(1), prefLen)).as(Seq("pos", "key")))
    val a = pref.select(col("blk"), col("key"), col("doc_id").as("doc_a"),
      col("sz").as("sz_a"), col("pos").as("pos_a"))
    val b = pref.select(col("blk").as("blk_b"), col("key").as("key_b"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("pos").as("pos_b"))
    // lossless POSITIONAL prune (PPJoin): a token matched at 0-based
    // rare-first positions (p_a, p_b) bounds the overlap by
    // min(sz_a − p_a, sz_b − p_b) (all other common tokens sit after it
    // in both orders), and jaccard ≥ τ needs overlap ≥
    // ⌈τ/(1+τ)·(sz_a+sz_b)⌉; integer cross-multiplied. For a qualifying
    // pair the RAREST common token's instance always satisfies the
    // bound, so the pair survives — at pos 0 this reduces to the
    // classic length-ratio prune and is strictly stronger after it.
    a.join(b, col("blk") === col("blk_b") && col("key") === col("key_b") &&
        col("doc_a") < col("doc_b") &&
        least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) *
          (tauNum + tauDen) >= (col("sz_a") + col("sz_b")) * tauNum)
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** ADAPTIVE candidate plan for the exact-threshold jaccard joins: the
    * block self-join's cost is EXACTLY Σ_blk c·(c−1)/2 candidate rows —
    * computable up front from per-block doc counts (an O(#blocks)
    * aggregate over the already-materialized `g`, collected as model
    * state). When that bound fits `blockPairBudget`, the plain blocked
    * join (under the lossless length-ratio prune) is the cheapest
    * complete plan — cheaper than the prefix filter precisely in the
    * regime where the filter degenerates (a flat token alphabet gives
    * every "rare" prefix token a thousand-doc posting list: SURVEY §5b
    * measured 0.86 s block join vs 4.86 s prefix filter at sf0.1).
    * Past the budget — the 100 TB regime, where one language block is
    * most of the corpus and Σc² is astronomically over any budget —
    * candidates come from the rare-first positional prefix filter
    * ([[prefixBlockedCandidates]]). All three paths are output-equal
    * (DedupParitySpec), so the switch is a pure physical-plan choice,
    * the hand-rolled analog of Catalyst's size-based join strategies.
    * `toks` is a thunk: the token explode is only materialized on the
    * prefix branch (callers that need it anyway just pass it through). */
  private def blockedCandidates(g: DataFrame, toks: () => DataFrame,
      tauNum: Int, tauDen: Int, blockPairBudget: Long): DataFrame = {
    // budget ≤ 0 forces the prefix branch outright — don't price a
    // plan that can't be chosen (any non-empty corpus has bound > 0)
    if (blockPairBudget <= 0)
      return prefixBlockedCandidates(toks(), tauNum, tauDen)
    // the bound folds to ONE decimal scalar (decimal cannot wrap; a
    // precision overflow nulls out and conservatively takes the prefix
    // branch) — never an O(#blocks) driver collect, so a high-card
    // block key (url domain, shard id) prices the plan just as cheaply
    val pairBound = Option(
      g.groupBy(col("blk")).agg(count(lit(1)).as("c"))
        .agg(sum((col("c").cast("decimal(19,0)") *
          (col("c") - 1).cast("decimal(19,0)")) / 2).as("pb"))
        .head.getDecimal(0))
      .map(BigDecimal(_))
    if (pairBound.exists(_ <= BigDecimal(blockPairBudget))) {
      val a = g.select(col("blk"), col("doc_id").as("doc_a"),
        size(col("ng")).as("sz_a"))
      val b = g.select(col("blk").as("blk_b"), col("doc_id").as("doc_b"),
        size(col("ng")).as("sz_b"))
      // lossless length-ratio prune (the pos-0 case of the PPJoin
      // bound); pairs are naturally distinct — no distinct() shuffle
      a.join(b, col("blk") === col("blk_b") && col("doc_a") < col("doc_b") &&
          least(col("sz_a"), col("sz_b")) * (tauNum + tauDen) >=
            (col("sz_a") + col("sz_b")) * tauNum)
        .select(col("doc_a"), col("doc_b"))
    } else prefixBlockedCandidates(toks(), tauNum, tauDen)
  }

  /** Dictionary-encoded fast path of [[ngramJaccardPairs]] for corpora
    * whose distinct-gram universe is small enough to bitset-encode (the
    * test corpus has ~400 distinct 3-grams → 7 longs per doc): build the
    * gram dictionary (one small distinct), broadcast it, map each doc's
    * gram set to a bitset, generate candidates through the ADAPTIVE
    * [[blockedCandidates]] gate (bounded block join under the pair
    * budget, rare-first prefix filter past it — the 100 TB path), then
    * verify each candidate's jaccard as
    * popcount(AND)/popcount(OR) — per-pair cost O(words) instead of
    * O(set size), and the verify rows are ~100 bytes. Fully declarative:
    * bit ids come from a STRIPED rank (partitioned window keyed on the
    * gram hash, bit = rank·stripes + stripe — injective across stripes),
    * never a single-partition global sort, and the bitsets self-size per
    * row so no driver-side dictionary count is needed. τ is the rational
    * tauNum/tauDen so the prefix length is exact integer arithmetic.
    * Identical output to the merge path (asserted in DedupParitySpec);
    * for unbounded gram universes use [[ngramJaccardPairs]]. */
  def ngramJaccardPairsDict(docs: DataFrame, n: Int, tauNum: Int,
      tauDen: Int, blockCol: String, textCol: String = "text",
      idCol: String = "doc_id", idStripes: Int = 64,
      blockPairBudget: Long = 10000000L): DataFrame = {
    // one corpus scan + ONE n-gram pass + ONE shared explode: the
    // dictionary build, the encode stage and (when taken) the candidate
    // prefixes all consume the same materialized token relation
    val g = Materialize(docs.select(col(idCol).as("doc_id"),
      col(blockCol).as("blk"), native.ngram_hash_set(col(textCol), n).as("ng")))
    val toks = Materialize(g.select(col("doc_id"), col("blk"),
      size(col("ng")).as("nn"), explode(col("ng")).as("tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stripe")).orderBy(col("gram"))
    val dict = toks.select(col("tok").as("gram")).distinct()
      .withColumn("stripe", pmod(col("gram"), lit(idStripes)).cast("int"))
      .withColumn("bit",
        (row_number().over(w) - 1).cast("long") * idStripes + col("stripe"))
      .select(col("gram"), col("bit"))
    // materialized ONCE before the candidate join-back (as
    // minhashCandidates does): otherwise both verify sides rebuild the
    // whole explode→dict-join→bitset subtree
    val enc = Materialize(
      toks.join(broadcast(dict), col("tok") === col("gram"))
        .groupBy(col("doc_id"), col("blk"), col("nn"))
        .agg(collect_list(col("bit")).as("bits"))
        .select(col("doc_id"), col("nn"),
          native.positions_to_bitset(col("bits"), -1).as("bs")))
    val cand = blockedCandidates(g, () => toks, tauNum, tauDen,
      blockPairBudget)
    val ea = enc.select(col("doc_id").as("doc_a"), col("bs").as("bs_a"))
    val eb = enc.select(col("doc_id").as("doc_b"), col("bs").as("bs_b"))
    cand.join(ea, "doc_a").join(eb, "doc_b")
      .withColumn("jac", native.bitset_jaccard(col("bs_a"), col("bs_b")))
      .filter(col("jac") >= lit(tauNum.toDouble / tauDen))
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Connected components over near-dup candidate pairs: every document
    * is labeled with the smallest doc id reachable through the pair graph
    * (the cluster representative / keeper). Iterative min-label
    * propagation — each round is one shuffle join + aggregate, converging
    * in ≤ graph-diameter rounds; near-dup components are shallow, so this
    * is a handful of small rounds even at 100 TB (the GraphX/Pregel shape
    * without the dependency). Lineage is truncated per round. */
  def connectedComponents(edges: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50): DataFrame = {
    val sym = Materialize(
      edges.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst"))))
    // seed labels with round 1 already folded in: label(id) = min(id,
    // neighbors) is one aggregate over sym — same shuffle the plain
    // distinct-ids seed would pay, but it saves a full 3-join round
    var labels = Materialize(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"),
        least(col("src"), col("__mn")).as("label")))
    // convergence detection piggybacks on the round's materialization job
    // via an accumulator bumped in a pass-through mapPartitions — no
    // separate per-round count() job (only changed>0 is read, so the
    // at-least-once accumulator semantics under task retry are safe)
    val changedAcc = edges.sparkSession.sparkContext.longAccumulator("cc-changed")
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // one propagation round: label(id) := min(label(id), labels of
      // neighbors), then a pointer-jumping hop label := label(label) —
      // the hop costs one extra (small, labels-only) join per round and
      // drops the round count from O(diameter) to O(log diameter), so
      // long chains don't serialize into many shuffle rounds at scale.
      val nbr = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(nbr, col("id") === col("src"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("mid"))
      val jump = labels.select(col("id").as("j_id"), col("label").as("j_label"))
      val flagged = stepped
        .join(jump, col("mid") === col("j_id"), "left")
        .select(col("id"), col("old_label"),
          least(col("mid"), coalesce(col("j_label"), col("mid"))).as("label"))
      changedAcc.reset()
      val counted = flagged.mapPartitions { it =>
        it.map { r => if (r.get(1) != r.get(2)) changedAcc.add(1L); r }
      }(org.apache.spark.sql.Encoders.row(flagged.schema))
      val updated = Materialize(counted.select(col("id"), col("label")))
      // the eager materialization above already ran the round's job, so
      // the accumulator holds this round's changed-row count
      changed = changedAcc.value > 0
      labels = updated
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  /** Apply dedup: keep documents that are either untouched by the
    * candidate graph or their cluster's keeper (smallest id). A plain left
    * join against the cluster labels — the corpus is scanned once. The
    * join strategy is deliberately NOT forced: on a dup-heavy corpus the
    * label table is O(corpus), so a forced broadcast would OOM the driver;
    * AQE picks broadcast when the labels are actually small. */
  def applyDedup(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val labels = clusters.select(col("doc_id").as("__cid"), col("cluster"))
    docs.join(labels, col(idCol) === col("__cid"), "left")
      .filter(col("__cid").isNull || col("cluster") === col(idCol))
      .drop("__cid", "cluster")
  }

  /** Benchmark decontamination (the GPT-3-style n-gram overlap check):
    * flag corpus documents sharing any char-n-gram with the benchmark
    * set. The benchmark's distinct gram set is small and BROADCAST; the
    * corpus is scanned once (native n-gram-set pass + explode), so the
    * check is a broadcast semi-join-shaped aggregation — no corpus
    * shuffle beyond the per-doc count. Returns (doc_id, n_shared) for
    * contaminated docs. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = gramsOf(benchmark, n, textCol).distinct()
    corpus
      .select(col(idCol).as("doc_id"),
        explode(native.ngram_hash_set(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      // ngram_hash_set is a distinct set, so count == distinct shared grams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-filter decontamination — the O(1)-memory form of
    * [[decontaminate]]: the benchmark's gram set compresses into an
    * `mBits`-bit Bloom filter (`kHashes` affine re-hashes of the portable
    * gram hash), and each corpus gram tests its k bits against the
    * broadcast bitset. Returns (doc_id, n_maybe_shared) for docs with ≥ 1
    * maybe-present gram — a SUPERSET of the exact gate (false positives
    * possible, negatives never; asserted in RobustnessSpec/spec), fully
    * deterministic integer arithmetic → oracle-EXACT including the false
    * positives.
    *
    * Scale: the broadcast is mBits/8 bytes (512 B at the default) no
    * matter how large the benchmark is — vs the exact gate's broadcast
    * of the whole distinct gram set; the corpus side stays one narrow
    * explode + filter, no join. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
      mBits: Int = 4096, kHashes: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val bloom = bloomBitset(
      bloomSetPositions(gramsOf(benchmark, n, textCol), mBits, kHashes), mBits)
    corpus
      .select(col(idCol).as("doc_id"),
        explode(native.ngram_hash_set(col(textCol), n)).as("gram"))
      .crossJoin(broadcast(bloom))
      .filter(bloomHit(col("gram"), col("bloom"), mBits, kHashes))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_maybe_shared"))
  }

  /** The one-column (gram) relation of every doc's distinct char-n-gram
    * hashes. */
  private def gramsOf(docs: DataFrame, n: Int, textCol: String): DataFrame =
    docs.select(explode(native.ngram_hash_set(col(textCol), n)).as("gram"))

  /** The `kHashes` Bloom positions of gram hash `g`: affine re-hashes of
    * the portable hash, each in [0, mBits). */
  private def bloomPositions(g: Column, mBits: Int, kHashes: Int): Seq[Column] =
    (0 until kHashes).map(j => Portable.rehash(g, j) % mBits)

  /** The distinct Bloom positions (`pos`) that a (gram) relation sets. */
  private def bloomSetPositions(grams: DataFrame, mBits: Int,
      kHashes: Int): DataFrame =
    grams.select(explode(array(bloomPositions(col("gram"), mBits, kHashes): _*))
        .as("pos"))
      .distinct()

  /** The one-row `bloom` bitset (mBits/64 longs) over distinct positions. */
  private def bloomBitset(positions: DataFrame, mBits: Int): DataFrame =
    positions.agg(collect_list(col("pos")).as("ps"))
      .select(native.positions_to_bitset(col("ps"), mBits / 64).as("bloom"))

  /** Whether all `kHashes` Bloom positions of gram `g` are set in the
    * bitset column `bloom`. Positions are ≥ 0, so shiftright(p, 6) is
    * p div 64 and p & 63 is p % 64. */
  private def bloomHit(g: Column, bloom: Column, mBits: Int,
      kHashes: Int): Column =
    bloomPositions(g, mBits, kHashes).map { p =>
      element_at(bloom, shiftright(p, 6).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          p.bitwiseAND(63).cast("int"))) =!= 0
    }.reduce(_ && _)

  /** The Bloom bitset COLLECTED as frozen model state (mBits/64 longs —
    * 512 B at the default): what a deployment trains OFFLINE from the
    * benchmark suite and ships to the ingest gate ([[bloomGateWith]]).
    * An empty benchmark yields all-zero bits (a gate that admits
    * everything), not an error. */
  def bloomBits(benchmark: DataFrame, n: Int = 8, mBits: Int = 4096,
      kHashes: Int = 3, textCol: String = "text"): Array[Long] = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val rows = bloomBitset(
      bloomSetPositions(gramsOf(benchmark, n, textCol), mBits, kHashes), mBits)
      .collect()
    if (rows.isEmpty) Array.fill(mBits / 64)(0L)
    else rows(0).getSeq[Long](0).toArray
  }

  /** The per-row COLUMN face of the frozen-bits gate — count of the
    * text's distinct n-grams whose kHashes positions are all set —
    * split out so wider ingest projections compose it next to the
    * quality/shard columns (`curate_ingest_stream`). Null text yields
    * null (callers coalesce per their contract). */
  def bloomHitCountCol(text: Column, bits: Array[Long], n: Int = 8,
      mBits: Int = 4096, kHashes: Int = 3): Column = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    require(bits.length == mBits / 64,
      s"bits length ${bits.length} != mBits/64 = ${mBits / 64}")
    val bloom = typedlit(bits.toSeq)
    size(filter(native.ngram_hash_set(text, n),
      g => bloomHit(g, bloom, mBits, kHashes))).cast("long")
  }

  /** [[decontaminateBloom]] against FROZEN bits as ONE narrow per-doc
    * expression — count the doc's distinct n-grams whose kHashes
    * positions are all set, bits inlined as a 512 B literal: no
    * explode-shuffle, no join, no state — streaming-safe, the
    * offline-trained/online-applied pattern (C61/C137). Emits only
    * flagged docs, the batch gate's exact relation (spec-proven;
    * `decontaminate_stream` shares `decontaminate_bloom`'s oracle). */
  def bloomGateWith(docs: DataFrame, bits: Array[Long], n: Int = 8,
      mBits: Int = 4096, kHashes: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        bloomHitCountCol(col(textCol), bits, n, mBits, kHashes)
          .as("n_maybe_shared"))
      .filter(col("n_maybe_shared") > 0)

  /** Bloom-filter FALSE-POSITIVE-RATE audit — the operational readout
    * that validates the (mBits, kHashes) choice of
    * [[decontaminateBloom]] before trusting its gate at scale: build
    * the filter from the benchmark's gram set, then test every DISTINCT
    * corpus gram; a non-benchmark gram that still hits all k positions
    * is a measured false positive. Deterministic hashing makes even the
    * FP set engine-exact. Scale: benchmark grams are small (broadcast
    * membership join); the corpus gram distinct is the one wide edge;
    * the filter itself is a single broadcast row. */
  def bloomFpr(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
      mBits: Int = 4096, kHashes: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val bgrams = Materialize(gramsOf(benchmark, n, textCol).distinct())
    val bpos = Materialize(bloomSetPositions(bgrams, mBits, kHashes))
    val bloom = bloomBitset(bpos, mBits)
    val bitsSet = bpos.agg(count(lit(1)).as("bits_set"))
    gramsOf(corpus, n, textCol)
      .distinct()
      .join(bgrams.withColumn("in_bench", lit(true)), Seq("gram"), "left")
      .withColumn("in_bench", coalesce(col("in_bench"), lit(false)))
      .crossJoin(broadcast(bloom))
      .withColumn("pos_hit",
        bloomHit(col("gram"), col("bloom"), mBits, kHashes))
      .agg(sum(when(!col("in_bench"), 1L).otherwise(0L)).as("n_tested"),
        sum(when(!col("in_bench") && col("pos_hit"), 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(col("in_bench"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("fp_rate",
        round(col("n_false_pos") / col("n_tested"), 6))
      .crossJoin(broadcast(bitsSet))
      .withColumn("m_bits", lit(mBits.toLong))
  }

  /** Rare-gram decontamination (the scale-robust gate): a doc is
    * contaminated when it shares a LOW-document-frequency char-n-gram
    * (df ≤ maxDf over the whole table) with a benchmark doc. Boilerplate
    * grams that appear everywhere carry no memorization signal and are
    * ignored — the standard practice that keeps the gate meaningful on
    * corpora where common grams saturate (any-overlap would flag 100%).
    * One grams pass + a df aggregate on the gram key; the surviving rare
    * benchmark-gram set is small → broadcast. Returns contaminated
    * non-benchmark doc ids. */
  def rareGramContaminated(docs: DataFrame, isBench: Column, n: Int = 8,
      maxDf: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"), isBench.as("is_bench"),
      explode(native.ngram_hash_set(col(textCol), n)).as("gram"))
    val rare = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("gram"))
    val benchRare = grams.filter(col("is_bench"))
      .join(rare, "gram").select(col("gram")).distinct()
    grams.filter(!col("is_bench"))
      .join(broadcast(benchRare), "gram")
      .select(col("doc_id")).distinct()
  }

  /** Winnowing-based near-dup candidates: docs sharing ≥ minShared
    * winnowing fingerprints. Same inverted-index join shape as minhash
    * banding (explode fingerprints → equality join → count per pair) —
    * one shuffle on fingerprint values. */
  def winnowCandidates(docs: DataFrame, ngram: Int = 8, window: Int = 4,
      minShared: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val f = docs.select(col(idCol).as("doc_id"),
        explode(native.winnow_set(col(textCol), ngram, window)).as("fp"))
    val a = f.select(col("fp"), col("doc_id").as("doc_a"))
    val b = f.select(col("fp").as("fp_b"), col("doc_id").as("doc_b"))
    a.join(b, col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Embedding-cosine near-dup pairs within blocks: vectors in the same
    * block whose cosine ≥ tau. The block column bounds the self-join here
    * (test corpus: cluster label); at 100 TB the block key is the sign-bit
    * LSH bucket from [[Similarity.lshBuckets]] — identical join shape. */
  def embeddingPairs(emb: DataFrame, tau: Double, blockCol: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(blockCol).as("blk"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val b = emb.select(col(blockCol).as("blk_b"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    a.join(b, col("blk") === col("blk_b") && col("id_a") < col("id_b"))
      .withColumn("cos", native.cosine_sim(col("v_a"), col("v_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Character-n-gram Jaccard near-dup pairs within blocks (e.g. language).
    * Exact-threshold join made scale-feasible by (a) representing each
    * document as a sorted distinct array of n-gram hashes computed in one
    * native pass, (b) ADAPTIVE candidate generation
    * ([[blockedCandidates]]: the bounded block join when the per-block
    * pair bound fits the budget, the lossless rare-first prefix filter
    * past it — the 100 TB regime, where a blk-only self-join's O(block²)
    * candidate count is unpayable) and (c) a merge-based jaccard verify
    * on the surviving candidates (no per-pair set allocation). τ is the
    * rational tauNum/tauDen (exact integer prefix lengths). */
  def ngramJaccardPairs(docs: DataFrame, n: Int, tauNum: Int, tauDen: Int,
      blockCol: String, textCol: String = "text",
      idCol: String = "doc_id",
      blockPairBudget: Long = 10000000L): DataFrame = {
    val g = Materialize(docs.select(col(idCol).as("doc_id"),
      col(blockCol).as("blk"), native.ngram_hash_set(col(textCol), n).as("ng")))
    // the explode is only paid on the prefix branch
    val cand = blockedCandidates(g,
      () => Materialize(g.select(col("doc_id"), col("blk"),
        explode(col("ng")).as("tok"))),
      tauNum, tauDen, blockPairBudget)
    val sa = g.select(col("doc_id").as("doc_a"), col("ng").as("ng_a"))
    val sb = g.select(col("doc_id").as("doc_b"), col("ng").as("ng_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jac", native.sorted_jaccard(col("ng_a"), col("ng_b")))
      .filter(col("jac") >= lit(tauNum.toDouble / tauDen))
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Hashed word w-SHINGLE set — the canonical near-dup representation
    * for prefix-filtered similarity joins: contiguous w-word windows,
    * poly-hashed (portable — the DuckDB twin hashes the same strings),
    * sorted distinct. Docs shorter than w words fall back to the single
    * hash of their raw text; null text propagates to null and drops
    * downstream. The w-shingle universe grows with the corpus (word
    * COMBINATIONS, not the flat char-gram alphabet), which is exactly
    * what keeps rare-prefix posting lists short at scale.
    *
    * Native single-pass expression (ShingleHashSetExpr): the
    * higher-order-function formulation (`transform(sequence(...), i ->
    * poly_hash(concat_ws(element_at(ws, i), ...)))`) inlines the
    * tokenize into EVERY element_at — O(shingles · len) re-splitting
    * per row, measured 4.5 s of the 6 s pipeline at sf0.1; the native
    * kernel tokenizes once (the wordBigrams lesson, again). */
  def wordShingleHashSet(textCol: Column, w: Int): Column =
    native.shingle_hash_set(textCol, w)

  /** Prefix-filtered EXACT set-similarity self-join (the AllPairs /
    * PPJoin family: order the token universe rare-first, then any pair
    * with jaccard ≥ τ must collide on one of the first
    * |x| − ⌈τ·|x|⌉ + 1 tokens of each side — everything else is pruned
    * without ever being paired). Unlike [[ngramJaccardPairs]] this needs
    * NO block column: the frequency-ordered prefix IS the blocking, and
    * because the filter is provably lossless the output is the exact
    * τ-threshold pair set, not a recall-bounded candidate set.
    *
    * τ is passed as the rational tauNum/tauDen and every threshold test
    * is integer cross-multiplied (⌈sz·τ⌉ = (sz·num + den − 1) div den;
    * jaccard ≥ τ ⟺ den·|∩| ≥ num·|∪|) — no float boundary can flip a
    * pair cross-engine.
    *
    * `setCol` picks the set domain, and the CHOICE IS THE SCALE LEVER:
    * prefix filtering assumes a Zipfian universe where each doc's
    * rarest tokens are globally rare. Word shingles
    * ([[wordShingleHashSet]]) have that shape — the universe grows with
    * the corpus, so posting lists of prefix tokens stay short. A flat
    * char-3-gram alphabet (a few hundred values regardless of corpus
    * size) degenerates: every "rare" gram appears in thousands of docs
    * and the candidate join explodes — measured 22.8 s (grams) vs
    * 6.6 s (shingles) at sf0.1 for this operator, before the native
    * shingle kernel took the shingle path to 2.4 s.
    *
    * Scale: one corpus scan builds the token table (materialized — the
    * frequency agg and the doc-set build both read it); the global
    * rare-first rank uses the two-phase range-partitioned rank (never a
    * single-partition window; struct-keyed (f, tok) arrays were tried
    * instead and ran 4× SLOWER end-to-end — array_intersect over
    * non-atomic element types leaves codegen, so the dense long rank
    * pays for itself). Prefixes hold only the RAREST tokens of each
    * doc, so the candidate join fans out on keys whose posting lists
    * are short by construction — the frequent tokens that would
    * dominate a naive token-inverted join never enter a join key. The
    * exact verify touches only surviving candidates via
    * `array_intersect` on the two rank arrays already in the row. */
  def prefixJaccardPairs(docs: DataFrame, setCol: Column,
      tauNum: Int, tauDen: Int, idCol: String = "doc_id"): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen, "need 0 < tauNum/tauDen <= 1")
    val toks = Materialize(docs.select(col(idCol).as("doc_id"),
      explode(setCol).as("tok")))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val ranked = Curation.globalRank(freq,
      Seq(col("f").asc, col("tok")), "rk")
    // rks sorted ascending = the doc's tokens in rare-first order
    val docSets = Materialize(toks
      .join(ranked.select(col("tok"), col("rk")), "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("rk"))).as("rks"),
        count(lit(1)).as("sz")))
    val prefLen = (col("sz") -
      expr(s"(sz * $tauNum + ${tauDen - 1}) div $tauDen") + 1).cast("int")
    val pref = docSets.select(col("doc_id"), col("sz"),
      explode(slice(col("rks"), lit(1), prefLen)).as("key"))
    val a = pref.select(col("key"), col("doc_id").as("doc_a"),
      col("sz").as("sz_a"))
    val b = pref.select(col("key").as("key_b"), col("doc_id").as("doc_b"),
      col("sz").as("sz_b"))
    // lossless length prune: jaccard ≤ min/max, so τ·max ≤ min must hold
    val cand = a.join(b, col("key") === col("key_b") &&
        col("doc_a") < col("doc_b") &&
        col("sz_a") * tauNum <= col("sz_b") * tauDen &&
        col("sz_b") * tauNum <= col("sz_a") * tauDen)
      .select(col("doc_a"), col("doc_b")).distinct()
    val sa = docSets.select(col("doc_id").as("doc_a"),
      col("rks").as("rks_a"), col("sz").as("isz_a"))
    val sb = docSets.select(col("doc_id").as("doc_b"),
      col("rks").as("rks_b"), col("sz").as("isz_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter_sz", size(array_intersect(col("rks_a"), col("rks_b")))
        .cast("long"))
      .withColumn("union_sz", col("isz_a") + col("isz_b") - col("inter_sz"))
      .filter(col("inter_sz") * tauDen >= col("union_sz") * tauNum)
      .select(col("doc_a"), col("doc_b"), col("inter_sz"), col("union_sz"))
  }

  /** Representative (medoid-style) selection per embedding-dedup cluster —
    * the semantic-dedup KEEP step when "keep min id" is too arbitrary:
    * per cluster, the member closest to the cluster centroid.
    *
    * Exactness trick: a float centroid (avg of doubles) is NOT
    * reproducible across engines or partition layouts (summation order),
    * so dims are first quantized to the integer lattice q_i =
    * floor(x_i · scale) — per-row, order-free, identical everywhere —
    * and the argmin runs on n·‖q_x‖² − 2·q_x·S (S = per-dim integer
    * sums), which orders members exactly like distance-to-centroid on
    * the lattice but needs only BIGINT arithmetic (|q|≤scale, 64 dims,
    * n cluster members: n·Σq² ≤ n·64·scale² — far inside long range at
    * scale=10⁶). Ties break on vec_id.
    *
    * Scale: posexplode fans each member to its dims (×dim rows, narrow),
    * one shuffle on (cluster, dim) for the sums, one broadcast-sized
    * join back (sums table is #clusters × dims), one per-cluster
    * window over member scores. Cluster sizes are dedup-sized (small);
    * the corpus never self-joins. */
  def clusterMedoids(emb: DataFrame, clusters: DataFrame,
      scale: Long = 1000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val member = emb.join(clusters, emb(idCol) === clusters("doc_id"))
      .select(col("cluster"), col(idCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("q", floor(col("x").cast("double") * scale).cast("long"))
    val sums = member.groupBy(col("cluster"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    val scores = member.join(sums, Seq("cluster", "dim"))
      .groupBy(col("cluster"), col(idCol))
      .agg(sum(col("n") * col("q") * col("q") - lit(2L) * col("q") * col("s"))
        .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("score"), col(idCol))
    scores.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .join(clusters.groupBy(col("cluster")).agg(count(lit(1)).as("n_members")),
        "cluster")
      .select(col("cluster"), col(idCol).as("medoid"), col("n_members"),
        col("score"))
  }

  /** Corpus-level LINE deduplication — the boilerplate-removal pass a
    * web-scale curation pipeline runs before document-level dedup:
    * split each document into lines, count every distinct line's
    * document support across the WHOLE corpus, strip lines whose
    * support reaches `minSupport` (cookie banners, navigation chrome,
    * share footers — content that repeats across pages verbatim while
    * the documents around it differ), and reassemble the survivors in
    * their original order. Document-level dedup cannot catch this
    * class (the hosting docs are distinct) and minhash over-matches it
    * (shared chrome inflates similarity between unrelated pages).
    *
    * A "line" here is a fixed `lineLen`-token window — this corpus has
    * no newline structure, and the splitter is the only
    * corpus-specific piece; everything downstream works on (doc_id,
    * line_id, line) whatever produced it.
    *
    * Returns (doc_id, n_lines, n_kept, text_clean); a fully-boilerplate
    * document survives with n_kept = 0 and empty text (dropping it is
    * the caller's policy, not the operator's). CONTRACT EDGE: a
    * TOKEN-LESS document (null/empty/whitespace-only text)
    * produces no lines and is therefore ABSENT from the output — and
    * from any downstream join ([[docLines]] is where the drop happens;
    * the oracle mirrors it). Callers that must preserve such docs
    * left-join this result back onto the corpus; the operator does not
    * union them in because the extra corpus-wide join would tax every
    * run for a row class the gate has nothing to say about.
    *
    * Scale: the explode is O(corpus tokens / lineLen) rows; support is
    * a two-level hash aggregate on the line key (distinct (line, doc)
    * then count — both map-side combined, one shuffle each on a
    * well-distributed key). The verdict is BINARY, so the join back
    * carries only the BOILERPLATE SET (lines at support ≥ minSupport —
    * the chrome inventory, orders of magnitude smaller than the full
    * O(distinct lines) support table): a left join whose null side
    * means "keep". When the set fits the broadcast threshold AQE
    * broadcasts it and the corpus side never shuffles on the line key
    * at all — which also removes the hot-line skew (a banner shared by
    * 30% of documents would otherwise pile every instance onto one
    * reducer); past the threshold it degrades to a plain shuffle join.
    * Reassembly is one groupBy(doc); the final sort/filter/concat runs
    * inside one collect_list aggregate per document. */
  def lineDedup(docs: DataFrame, lineLen: Int = 10, minSupport: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lineGate(docs, None, lineLen, minSupport, idCol, textCol)

  /** INCREMENTAL line dedup — the production loop ([[lineDedup]]'s
    * analog of the stored minhash index): clean a NEW batch of
    * documents against a STORED support registry (yesterday's
    * [[lineSupport]] output, or the compacted streaming-gate state)
    * plus the batch's OWN support — a line is boilerplate when the
    * COMBINED count crosses `minSupport`, whichever side carried it.
    * Stored lines absent from the new batch cost nothing (they cannot
    * strip anything — the registry join is on the new batch's distinct
    * lines, not the registry's). The registry is summed per line
    * first, so a UNION of daily registries is a valid input (duplicate
    * line rows add, and can never fan the join out). Same output shape
    * as [[lineDedup]]; running it with an empty registry IS the batch
    * pass. */
  def lineDedupIncremental(newDocs: DataFrame, stored: DataFrame,
      lineLen: Int = 10, minSupport: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lineGate(newDocs, Some(stored), lineLen, minSupport, idCol, textCol)

  /** The corpus line gate behind [[lineDedup]] and
    * [[lineDedupIncremental]]: a line is boilerplate when its support in
    * `docs`, plus its summed support in the `stored` registry if one is
    * given, reaches `minSupport`. With no registry there is no registry
    * join. */
  private def lineGate(docs: DataFrame, stored: Option[DataFrame],
      lineLen: Int, minSupport: Int, idCol: String,
      textCol: String): DataFrame = {
    require(minSupport > 1,
      s"minSupport must be > 1 (1 would drop every line), got $minSupport")
    // materialized ONCE: the line relation feeds BOTH join sides (the
    // corpus side and the support aggregate) — unmaterialized, the
    // tokenize+explode would re-scan the corpus twice
    val lines = Materialize(docLines(docs, lineLen, idCol, textCol))
    val support = stored.fold(lineSupport(lines)) { reg =>
      lineSupport(lines)
        .join(reg.groupBy(col("line")).agg(sum(col("sup")).as("__old")),
          Seq("line"), "left")
        .withColumn("sup", col("sup") + coalesce(col("__old"), lit(0L)))
    }
    val boiler = support
      .filter(col("sup") >= minSupport)
      .select(col("line"), lit(true).as("__bp"))
    reassembleLines(lines.join(boiler, Seq("line"), "left"))
  }

  /** Reassembly shared by the batch and incremental line passes: fold
    * the (doc_id, n_lines, line_id, line, __bp) relation back into
    * cleaned documents — one collect_list aggregate per document, the
    * sort/filter/concat all inside it. */
  private def reassembleLines(joined: DataFrame): DataFrame =
    joined.groupBy(col("doc_id"), col("n_lines"))
      .agg(
        sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("line_id"),
              col("__bp").isNull.as("keep"), col("line")))),
            x => x.getField("keep")),
          x => x.getField("line"))).as("text_clean"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("text_clean"))

  /** INTRA-document line dedup — the WITHIN-doc half of the line pass
    * (the C4/RefinedWeb "remove repeated lines inside a page" rule,
    * distinct from [[lineDedup]]'s corpus-wide support gate): a line
    * repeating inside ONE document keeps its FIRST occurrence and
    * drops the rest (scraped pages repeat nav blocks, pagination
    * chrome, quoted reply chains — repetition that needs no corpus
    * statistics to condemn). Returns the same
    * (doc_id, n_lines, n_kept, text_clean) contract as [[lineDedup]]
    * (and the same token-less-doc drop edge).
    *
    * Scale: ONE doc-partitioned window (first occurrence = min line_id
    * per (doc, line) — no corpus-wide state, no support table, no
    * join) + the shared reassembly agg: two shuffles on the doc key,
    * both map-side combined; every step is per-document, so the pass
    * is embarrassingly parallel at any corpus size and is stream-safe
    * per micro-batch (stateless across documents). Composes with the
    * corpus gate: run intra first (cheap, no state), then the corpus
    * support pass sees each page's chrome once per page. */
  def lineDedupIntra(docs: DataFrame, lineLen: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"), col("line"))
      .orderBy(col("line_id"))
    reassembleLines(docLines(docs, lineLen, idCol, textCol)
      .withColumn("__rk", row_number().over(w))
      // reassembly's keep-verdict column: null __bp = keep (first
      // occurrence), true = drop (a repeat)
      .withColumn("__bp", when(col("__rk") === 1, lit(null)
        .cast("boolean")).otherwise(lit(true)))
      .drop("__rk"))
  }

  /** The (doc_id, n_lines, line_id, line) relation both line-dedup
    * halves consume: each document split into fixed `lineLen`-token
    * windows in order. One narrow explode; token-less docs DROP here
    * (the sequence guard — an empty sequence with a positive step
    * errors in ANSI mode), which is why they are absent from
    * [[lineDedup]]/[[lineDedupIncremental]] output and from
    * curate_boilerplate's per-source accounting — the documented
    * contract edge, not an accident. */
  def docLines(docs: DataFrame, lineLen: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(lineLen > 0, s"lineLen must be positive, got $lineLen")
    docs
      .withColumn("__t", Portable.tokens(col(textCol)))
      .filter(size(col("__t")) > 0)
      .withColumn("n_lines",
        expr(s"(size(__t) + ${lineLen - 1}) div $lineLen"))
      .withColumn("__off",
        explode(sequence(lit(0), size(col("__t")) - 1, lit(lineLen))))
      .select(col(idCol).as("doc_id"), col("n_lines"),
        (col("__off") / lineLen).cast("long").as("line_id"),
        concat_ws(" ",
          slice(col("__t"), col("__off") + 1, lit(lineLen))).as("line"))
  }

  /** Document support of every distinct line — the model-state half of
    * [[lineDedup]], exposed so the boilerplate inventory (which lines,
    * how widespread) is auditable before committing to a threshold.
    * Input is the [[docLines]] relation; a line repeating inside one
    * document counts that document once. */
  def lineSupport(lines: DataFrame): DataFrame =
    lines.select(col("line"), col("doc_id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("sup"))
}
