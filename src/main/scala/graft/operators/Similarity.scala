package graft.operators

import graft.functions.Portable
import graft.plans.HashOps
import graft.plans.TopKAggregator.{topK, topKIds}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Embedding similarity search (SURVEY.md §2.C).
  *
  * Scale posture: the probe set is small and broadcast; the corpus is
  * scanned exactly once with a narrow per-row score computation, so the
  * brute-force path is a single map + per-probe top-k (no corpus shuffle).
  * The LSH variant assigns every vector to a sign-bit bucket in one narrow
  * pass; at 100 TB the corpus is bucketed once (write-time partitioning by
  * bucket) and a probe only scans its matching bucket's partitions.
  */
object Similarity {

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Deterministic PLANTED-CLUSTER embeddings derived from `vec_id` —
    * the honest-recall testbed the near-uniform synthetic embeddings
    * can't be (they cap every ANN recall number):
    * cluster = vec_id mod 7 (coprime with the stride-32 centroid
    * sampling, so the sampled centroids cover every cluster), center
    * coordinates hash-seeded per (cluster, dim), perturbation ±1/32
    * hash-seeded per (vec, dim). Every value is an exact dyadic
    * rational ((2k+j)·2⁻¹¹ with |2k+j| ≤ 2064), so the float32 cast is
    * EXACT and the DuckDB double twin is bit-identical — portable
    * arithmetic, no RNG. Pure narrow projection: derives from the
    * existing embeddings table's ids, no new source. */
  def plantedEmbeddings(emb: DataFrame): DataFrame = {
    val m = lit(2147483647L)
    emb.select(col("vec_id"), col("label"),
      transform(sequence(lit(1L), lit(64L)), d => {
        val c = pmod(col("vec_id"), lit(7L))
        val center = (pmod(pmod((c + 1) * lit(2654435761L) + d * lit(40503L),
          m), lit(2001L)) - 1000L).cast("double") / lit(1024.0)
        val noise = (pmod(pmod((col("vec_id") * 31 + d) * lit(2654435761L)
          + lit(7919L), m), lit(4097L)) - 2048L).cast("double") / lit(2048.0)
        (center + noise).cast("float")
      }).as("embedding"))
  }

  /** Cosine similarity between two float-vector columns — native
    * expression with the oracle's exact sequential-fold order (the HOF
    * reference formula Portable.cosine is parity-tested against it). */
  def cosineCol(a: Column, b: Column): Column = graft.plans.native.cosine_sim(a, b)

  /** The broadcast-probe brute-force scan: every probe (`probePred`)
    * against every other corpus vector in one pass, as (key, id, score)
    * rows with score = `score(probe_vec, cand_vec)`. Probes are
    * broadcast; the corpus is never shuffled. */
  private def probeScan(emb: DataFrame, probePred: Column, idCol: String,
      vecCol: String)(score: (Column, Column) => Column): DataFrame = {
    val probes = emb.filter(probePred)
      .select(col(idCol).as("key"), col(vecCol).as("probe_vec"))
    emb.select(col(idCol).as("id"), col(vecCol).as("cand_vec"))
      .join(broadcast(probes), col("key") =!= col("id"))
      .select(col("key"), col("id"),
        score(col("probe_vec"), col("cand_vec")).as("score"))
  }

  /** (key, id, score) rows as (probe_id, cand_id, `out`). */
  private def probeCand(df: DataFrame, out: Column): DataFrame =
    df.select(col("key").as("probe_id"), col("id").as("cand_id"), out)

  /** Brute-force top-k neighbors for each probe vector. Probes are
    * broadcast; scores computed in one corpus scan. */
  def cosineTopK(emb: DataFrame, probePred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("score").desc, col("id"))
    probeCand(probeScan(emb, probePred, idCol, vecCol)(cosineCol)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k),
      round(col("score"), 6).as("cosine"))
  }

  /** [[cosineTopK]] with the shuffle-light physical shape: per-probe
    * bounded heaps via [[graft.plans.TopKAggregator]] — map-side partial
    * heaps mean the shuffle carries ≤ k rows per (probe, partition)
    * instead of the whole scored corpus (the window formulation sorts
    * every scored row). Identical output (TopKAndExtensionsSpec +
    * oracle). */
  def cosineTopKAgg(emb: DataFrame, probePred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probeCand(topK(probeScan(emb, probePred, idCol, vecCol)(cosineCol), k),
      round(col("score"), 6).as("cosine"))

  /** Maximum-inner-product top-k (MIPS — the retrieval mode of dual-
    * encoder rankers whose scores are unnormalized dot products; cosine
    * would re-rank by direction only and lose the magnitude signal).
    * Same broadcast-probe single-scan + bounded-heap shape as
    * [[cosineTopKAgg]]; the score is the native sequential-fold dot
    * product, so both engines fold in index order. */
  def mipsTopKAgg(emb: DataFrame, probePred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probeCand(topK(probeScan(emb, probePred, idCol, vecCol)(
        graft.plans.native.dot_product), k),
      round(col("score"), 6).as("dot"))

  /** Euclidean nearest-k — completes the metric trio beside
    * [[cosineTopKAgg]] and [[mipsTopKAgg]]: the heap maximizes
    * −‖p−c‖² (so ties fall to the smaller id, matching the window
    * spelling `ORDER BY dist, cand_id`), scored by the native
    * sequential-fold squared distance. Same broadcast-probe
    * single-scan + bounded-heap shape. */
  def l2TopKAgg(emb: DataFrame, probePred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probeCand(topK(probeScan(emb, probePred, idCol, vecCol)(
        (p, c) => -graft.plans.native.l2sq(p, c)), k),
      round(-col("score"), 6).as("l2sq"))

  /** RADIUS (range) search — the other query mode next to top-k: ALL
    * vectors within cosine ≥ τ of each probe (dedup-audit "find every
    * thing like this" rather than "the 5 most alike"). Same broadcast-
    * probe single-scan shape as the top-k, but no heap: the τ filter is
    * a narrow predicate, so the result streams straight out of the scan
    * with no aggregation at all. */
  def radiusSearch(emb: DataFrame, probePred: Column, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probeCand(probeScan(emb, probePred, idCol, vecCol)(cosineCol)
        .filter(col("score") >= tau),
      round(col("score"), 6).as("cosine"))

  /** HARD-NEGATIVE MINING for contrastive training: per probe, the k
    * most-similar vectors with a DIFFERENT label — the canonical
    * batch-mining job behind embedding-model training (high-cosine
    * other-label examples are the gradient-rich negatives). Same
    * bounded-heap physical shape as [[cosineTopKAgg]]; the label
    * mismatch rides the broadcast join condition, so mismatched pairs
    * are dropped BEFORE any score is computed. */
  def hardNegatives(emb: DataFrame, probePred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val probes = emb.filter(probePred)
      .select(col(idCol).as("key"), col(vecCol).as("probe_vec"),
        col(labelCol).as("probe_label"))
    val scored = emb.select(col(idCol).as("id"), col(vecCol).as("cand_vec"),
        col(labelCol).as("cand_label"))
      .join(broadcast(probes), col("cand_label") =!= col("probe_label"))
      .select(col("key"), col("id"),
        cosineCol(col("probe_vec"), col("cand_vec")).as("score"))
    topK(scored, k).select(col("key").as("probe_id"), col("id").as("neg_id"),
      round(col("score"), 6).as("cosine"))
  }

  /** INT8 SCALAR QUANTIZATION distortion audit — the other standard
    * embedding compression next to PQ (4× over fp32, no codebook): each
    * dimension maps to its own [min, max] range, q = clamp(floor((x−mn)/
    * (mx−mn)·255)), reconstruction at the cell midpoint. Returns each
    * vector's L2 distortion ‖x − dequant(quant(x))‖ — the audit that
    * decides whether SQ is safe for a corpus before committing the
    * stored index to it.
    *
    * Scale: the per-dim min/max stats are ONE map-side-combined agg to
    * dim rows (model state, collected and inlined as literal arrays —
    * the IVF-centroid trick), so the quantize→reconstruct→distortion
    * pass is a pure NARROW projection: no join, no shuffle, pipelines
    * with the scan. All arithmetic is IEEE doubles from exact float
    * casts, identical in both engines. */
  def sqDistortion(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val stats = emb
      .select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getFloat(1).toDouble,
        r.getFloat(2).toDouble)).sortBy(_._1)
    val mnL = array(stats.map(s => lit(s._2)): _*)
    val mxL = array(stats.map(s => lit(s._3)): _*)
    val terms = transform(sequence(lit(1), size(col(vecCol))), i => {
      val x = element_at(col(vecCol), i).cast("double")
      val mn = element_at(mnL, i)
      val mx = element_at(mxL, i)
      // 256 equal cells over [mn, mx] (x = mx clamps into the top cell),
      // midpoint reconstruction → per-dim error ≤ (mx − mn)/512 exactly
      val q = when(mx > mn,
        least(greatest(floor((x - mn) / (mx - mn) * 256), lit(0L)), lit(255L)))
        .otherwise(lit(0L))
      val xr = mn + (q + lit(0.5)) * (mx - mn) / lit(256)
      (x - xr) * (x - xr)
    })
    emb.select(col(idCol), col(labelCol),
      round(sqrt(aggregate(terms, lit(0.0), (a, t) => a + t)), 6)
        .as("sq_distortion"))
  }

  /** Deterministic pseudo-random hyperplane component i (1-based) of plane
    * p, in [-1, 1): ((a_p*i + b_p) mod M) / M * 2 - 1 — the same affine
    * family as the portable hashes, so the oracle reproduces it exactly. */
  def planeComponent(p: Int, i: Column): Column =
    (((i.cast("long") * HashOps.aK(p) + HashOps.bK(p)) % HashOps.M)
      .cast("double") / HashOps.M) * 2 - 1

  /** Sign-bit LSH bucket id (nPlanes bits) for each vector: bit p is set
    * when dot(vec, plane_p) > 0. Native single-pass expression; one narrow
    * pass, no shuffle. `lshBucketHof` is the parity-test reference. */
  def lshBucket(vecCol: Column, nPlanes: Int, dim: Int): Column =
    graft.plans.native.lsh_bucket(vecCol, nPlanes)

  /** Reference HOF formulation of [[lshBucket]] (parity tests only). */
  def lshBucketHof(vecCol: Column, nPlanes: Int, dim: Int): Column = {
    val v = toDouble(vecCol)
    (0 until nPlanes).foldLeft(lit(0L)) { (acc, p) =>
      val dot = aggregate(sequence(lit(1), lit(dim)), lit(0.0),
        (s, i) => s + element_at(v, i) * planeComponent(p, i))
      acc + when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }
  }

  /** Bucket every vector; downstream ANN probes search only their bucket
    * (and optionally neighboring buckets by hamming distance). */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("vec_id"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket"))

  /** Squared L2 distance between two vector columns (native expression,
    * oracle-identical sequential fold; `l2sqHof` is the parity ref). */
  def l2sqCol(a: Column, b: Column): Column = graft.plans.native.l2sq(a, b)

  /** Reference HOF formulation of [[l2sqCol]] (parity tests only). */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, v) => s + v)

  /** The IVF centroid set — the model state: a CONSTANT `numCentroids`
    * deterministically-sampled vectors (every `centroidStride`-th id,
    * first `numCentroids` hits), collected once. k·dim doubles of model
    * on the driver regardless of corpus size — the KMeans-model shape.
    * Coordinates are doubles (float → double is exact) so sampled and
    * Lloyd-trained centroids ([[trainedCentroids]]) share one literal
    * type and one oracle arithmetic. */
  def ivfCentroids(emb: DataFrame, numCentroids: Int = 8,
      centroidStride: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[(Long, Seq[Double])] =
    emb.filter(pmod(col(idCol), lit(centroidStride)) === 0 &&
        col(idCol) < centroidStride.toLong * numCentroids)
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))

  /** Per-row array of (l2-distance, centroid-id) structs against the
    * inlined centroid literals — argmin is `array_min` (struct ordering =
    * (dist, cent_id), so ties break to the smaller id) in the same narrow
    * pass. */
  private def centScored(vec: Column, cents: Array[(Long, Seq[Double])]): Column =
    array(cents.map { case (cid, cv) =>
      struct(l2sqCol(vec, typedlit(cv)).as("dist"), lit(cid).as("cent_id"))
    }: _*)

  /** The ids of the `nprobe` centroids nearest to `vec`, one row each —
    * the inverted lists a probe scans (sort the struct array, slice). */
  private def probedLists(vec: Column, cents: Array[(Long, Seq[Double])],
      nprobe: Int): Column =
    explode(transform(slice(array_sort(centScored(vec, cents)), 1, nprobe),
      x => x.getField("cent_id")))

  /** IVF coarse quantization: assign each vector to its nearest centroid
    * (argmin L2, ties → smaller centroid id). The centroid count is a
    * CONSTANT parameter — never a function of corpus size — and the
    * centroids are inlined literals, so assignment is ONE narrow corpus
    * pass with no join, no window, no Exchange. At 100 TB the assignment
    * is written as a partition column, so a probe reads only its `nprobe`
    * nearest inverted lists. */
  def ivfAssign(emb: DataFrame, numCentroids: Int = 8,
      centroidStride: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfAssignWith(emb,
      ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol),
      idCol, vecCol)

  /** IVF ANN search: for each probe, rank centroids by distance (same
    * inlined-literal argmin — sort the k-element struct array, slice
    * `nprobe`), scan only the matching inverted lists, and take top-k by
    * cosine through the bounded-heap [[graft.plans.TopKAggregator]] (the
    * shuffle carries ≤ k rows per probe per partition, not the scored
    * candidate set). */
  def ivfTopK(emb: DataFrame, probePred: Column, k: Int, nprobe: Int = 2,
      numCentroids: Int = 8, centroidStride: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKWith(emb, probePred, k, nprobe,
      ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol),
      idCol, vecCol)

  /** [[ivfTopK]] against an EXPLICIT centroid model — the seam the
    * trained path uses: pass [[trainedCentroids]] and the same plan runs
    * with the k-means model instead of the raw sample. */
  def ivfTopKWith(emb: DataFrame, probePred: Column, k: Int, nprobe: Int,
      cents: Array[(Long, Seq[Double])], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("cand_vec"),
      array_min(centScored(col(vecCol), cents)).getField("cent_id").as("cent_id"))
    val probeCents = emb.filter(probePred)
      .select(col(idCol).as("key"), col(vecCol).as("probe_vec"),
        probedLists(col(vecCol), cents, nprobe).as("cent_id"))
    val scored = assigned.join(broadcast(probeCents), Seq("cent_id"))
      .filter(col("key") =!= col("id"))
      .select(col("key"), col("id"),
        cosineCol(col("probe_vec"), col("cand_vec")).as("score"))
    probeCand(topK(scored, k), round(col("score"), 6).as("cosine"))
  }

  /** One Lloyd refinement step for the IVF centroids — the k-means model
    * TRAINING shape in pure DataFrame ops: assign every vector to its
    * nearest centroid (same no-shuffle argmin pass as [[ivfAssign]]),
    * then per (centroid, dimension) the new mean. Sums run in the decimal
    * domain (float → double exactly, → decimal(27,10)) so the result is
    * partition-order independent and engine-exact; the division back to
    * double is a single deterministic op. Output: one row per
    * (cent_id, pos) with the member count and refined coordinate.
    *
    * Scale: explode fan-out is ×dim; the aggregate has numCentroids×dim
    * groups — partial aggregation collapses each map task to that
    * constant before the shuffle, the k-means-on-Spark standard. */
  def ivfRefine(emb: DataFrame, numCentroids: Int = 8,
      centroidStride: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    refineStep(emb,
      ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol), vecCol)

  /** One Lloyd step against EXPLICIT centroids — the body shared by
    * [[ivfRefine]] (sampled model) and [[trainedCentroids]] (iterated
    * model). Means are decimal-exact and rounded to 6 decimals, so the
    * refined coordinates are bit-identical across engines and partition
    * layouts — which is what lets the ITERATED model stay oracle-exact:
    * every round's input centroids are reproducible doubles. */
  private def refineStep(emb: DataFrame, cents: Array[(Long, Seq[Double])],
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    emb.select(
        array_min(centScored(col(vecCol), cents))
          .getField("cent_id").as("cent_id"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("cent_id"), col("pos"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("x").cast("double").cast(DecimalType(27, 10))).as("s"))
      .select(col("cent_id"), col("pos").cast("long").as("pos"),
        col("n_assigned"),
        round(col("s").cast("double") / col("n_assigned"), 6).as("mean"))
  }

  /** Iterated FULL-SLICE Lloyd training — an id-bounded AUDIT of the
    * trainer math: each round rescans its input, so an unbounded corpus
    * pays iters full passes — the super-linear slope a scale probe
    * measured (5.99 at data ×8). The PRODUCTION
    * trainer is [[sampledCentroids]] (Lloyd sees only the exact-k
    * sample; slope 0.95, recall within 0.1 — AnnRecallSpec); every
    * model consumer should train through it. This audit face therefore
    * caps its training slice at `maxTrainId` ids BY DEFAULT — at the
    * test scale factors (≤ 2000 vectors) the cap is inert and the
    * model is identical to the historical full-corpus one, while at
    * any larger corpus the audit cost stays constant.
    *
    * Mechanics (shared with the sampled trainer via [[lloydRounds]]):
    * `iters` rounds, each ONE slice pass (the no-shuffle argmin assign
    * fused with a numCentroids×dim-group partial-aggregated mean), the
    * k·dim model collected per round (model to the driver, data never).
    * Clusters that lose all members keep their previous coordinates.
    * Per-round means are decimal-exact and rounded to 6 decimals, so
    * the model is reproducible bit-for-bit across engines/layouts. */
  def trainedCentroids(emb: DataFrame, iters: Int, numCentroids: Int = 8,
      centroidStride: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainId: Long = 4096L): Array[(Long, Seq[Double])] = {
    val slice = emb.filter(col(idCol) < maxTrainId)
    // the id bound is an ABSOLUTE predicate: a corpus whose ids start
    // above it (offset/sharded id spaces) would otherwise train on an
    // empty slice and hand every consumer an empty model with no error
    // — fail loudly and name the knob instead
    require(!slice.isEmpty,
      s"trainedCentroids: no rows with $idCol < $maxTrainId — the corpus's " +
        "id space starts above the audit bound; raise maxTrainId or train " +
        "through sampledCentroids (the production path)")
    lloydRounds(slice,
      ivfCentroids(slice, numCentroids, centroidStride, idCol, vecCol),
      iters, vecCol)
  }

  /** The Lloyd iteration loop both trainers share: `iters` rounds of
    * [[refineStep]] over `df` from explicit seeds, model collected per
    * round, empty clusters keeping their previous coordinates. */
  private def lloydRounds(df: DataFrame,
      seeds: Array[(Long, Seq[Double])], iters: Int,
      vecCol: String): Array[(Long, Seq[Double])] = {
    var cents = seeds
    for (_ <- 0 until iters) {
      val means = refineStep(df, cents, vecCol).collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getLong(1)).toSeq.map(_.getDouble(3))
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** SAMPLE-trained IVF model — the production trainer at corpus scale
    * (the FAISS shape: Lloyd never sees more than the training sample):
    * the deterministic exact-k per-stratum draw (the C99 affine-rehash
    * sample; strata = id mod `strataMod`, so the rank windows stay
    * partitioned) selects the training set, seeds are its
    * `numCentroids` smallest ids, and `iters` Lloyd rounds run over
    * ONLY the sample — per-round cost O(sample), independent of corpus
    * size (the fix for the full-corpus trainer's ×8-data slope). The
    * returned k·dim model assigns/searches corpus-wide through the
    * same inlined-literal seams as every IVF path; decimal-exact means
    * ([[refineStep]]) keep the model engine-reproducible, so the whole
    * sampled chain stays oracle-exact. */
  def sampledCentroids(emb: DataFrame, iters: Int, sampleK: Int = 12,
      strataMod: Int = 16, numCentroids: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[(Long, Seq[Double])] = {
    val sampleIds = Curation.sampleExactK(
      emb.withColumn("__strata", pmod(col(idCol), lit(strataMod))),
      k = sampleK, strataCol = "__strata", idCol = idCol)
      .select(col(idCol))
    val sample = Materialize(emb.join(sampleIds, idCol))
    val seeds = sample
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol)).limit(numCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    if (seeds.isEmpty) seeds // empty corpus: empty model, no rounds
    else lloydRounds(sample, seeds, iters, vecCol)
  }

  /** [[ivfAssign]] against an EXPLICIT centroid model — the seam the
    * sample-trained path assigns the full corpus through. An empty
    * model (empty training corpus) yields an empty result with the
    * contract schema rather than an unanalyzable empty-array argmin. */
  def ivfAssignWith(emb: DataFrame, cents: Array[(Long, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    if (cents.isEmpty)
      emptyPcaResult(emb.sparkSession,
        "vec_id BIGINT, cent_id BIGINT, dist DOUBLE")
    else {
      val best = array_min(centScored(col(vecCol), cents))
      emb.select(col(idCol).as("vec_id"),
        best.getField("cent_id").as("cent_id"),
        round(best.getField("dist"), 6).as("dist"))
    }

  /** The (iters)-th Lloyd step as a DataFrame — the oracle-checkable
    * face of [[trainedCentroids]]: refine against the model trained for
    * `iters − 1` rounds, i.e. the per-(centroid, dimension) counts and
    * means AFTER `iters` total refinement steps. Like the trainer it
    * audits, it is id-bounded by default (`maxTrainId`) — the full
    * trainer is an sf-bounded AUDIT; production training is
    * [[sampledCentroids]]. */
  def kmeansRefine(emb: DataFrame, iters: Int, numCentroids: Int = 8,
      centroidStride: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainId: Long = 4096L): DataFrame = {
    require(iters >= 1, "kmeansRefine needs at least one step")
    // the audit runs END-TO-END on the bounded slice (train AND the
    // displayed refine step), so its cost is corpus-size-independent —
    // at the test SFs (≤ 2000 ids) the cap is inert
    val slice = emb.filter(col(idCol) < maxTrainId)
    val cents =
      if (iters == 1) ivfCentroids(slice, numCentroids, centroidStride, idCol, vecCol)
      else trainedCentroids(slice, iters - 1, numCentroids, centroidStride,
        idCol, vecCol, maxTrainId)
    refineStep(slice, cents, vecCol)
  }

  /** Product quantization (the memory-compressed ANN index, Jégou et al.
    * TPAMI'11): the vector is split into `m` subvectors; each subvector
    * is assigned to its nearest per-subspace centroid (centroids = the
    * same deterministic sample as IVF, sliced per subspace), so a 64-dim
    * float vector compresses to m byte-ish codes + the shared codebook.
    * Output: one row per (vec_id, subspace) with the winning code and
    * the subspace quantization error.
    *
    * Scale posture — identical to [[ivfAssign]]: the codebook is a
    * CONSTANT (m × numCentroids inlined slice literals), assignment is
    * ONE narrow corpus pass (argmin over an inlined struct array per
    * subspace), no join, no window, no Exchange. At 100 TB the codes
    * table is the ANN index: 64× smaller than the raw vectors, scanned
    * in place of them by ADC search. */
  def pqAssign(emb: DataFrame, m: Int = 8, dim: Int = 64,
      numCentroids: Int = 8, centroidStride: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cents = ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol)
    val perSub = array((0 until m).map { s =>
      array_min(centScored(subvec(col(vecCol), s, sub),
        cents.map { case (cid, cv) => (cid, cv.slice(s * sub, (s + 1) * sub)) }))
    }: _*)
    emb.select(col(idCol).as("vec_id"), posexplode(perSub).as(Seq("subspace", "b")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("b").getField("cent_id").as("code"),
        round(col("b").getField("dist"), 6).as("err"))
  }

  /** Subspace `s` of a vector cut into `sub`-wide slices. */
  private def subvec(v: Column, s: Int, sub: Int): Column =
    slice(v, s * sub + 1, sub)

  /** The per-row PQ code array expression for an already-collected
    * codebook (shared by [[pqCodesWith]] and [[ivfadcIndex]] so the
    * codebook is collected exactly once per query). */
  private def pqCodesCol(cents: Array[(Long, Seq[Double])], m: Int,
      sub: Int, vecCol: String): Column =
    pqCodesColBooks(booksFrom(cents, m, sub), sub, col(vecCol))

  /** Per-subspace codebooks sliced from full-vector centroids — the
    * untrained default every PQ path starts from. */
  def booksFrom(cents: Array[(Long, Seq[Double])], m: Int,
      sub: Int): Array[Array[Seq[Double]]] =
    Array.tabulate(m)(s => cents.map(_._2.slice(s * sub, (s + 1) * sub)))

  /** Per-subspace argmin: the (dist, ord) struct of the codeword in
    * `book` nearest to the subvector `sv` (struct order, so ties break
    * to the smaller ordinal). */
  private def nearestCode(sv: Column, book: Array[Seq[Double]]): Column =
    array_min(array(book.zipWithIndex.map { case (cw, ord) =>
      struct(l2sqCol(sv, typedlit(cw)).as("dist"), lit(ord).as("ord"))
    }: _*))

  /** The PQ code array of `vec` under per-subspace `books`. */
  private def pqCodesColBooks(books: Array[Array[Seq[Double]]], sub: Int,
      vec: Column): Column =
    array(books.indices.map(s =>
      nearestCode(subvec(vec, s, sub), books(s)).getField("ord")): _*)

  /** The ADC distance table of `vec` against per-subspace `books`:
    * dt[s][c] = ‖vec_s − books(s)(c)‖², one constant-size
    * array-of-arrays expression per row. */
  private def distTable(vec: Column, books: Array[Array[Seq[Double]]],
      sub: Int): Column =
    array(books.indices.map(s =>
      array(books(s).map(cw => l2sqCol(subvec(vec, s, sub), typedlit(cw))): _*)
    ): _*)

  /** Top-k of joined (key, id, dt, codes) rows by the smallest ADC
    * distance: a candidate's m table lookups (row s of `dt` at
    * `codes[s]`) summed in subspace order, the oracle-exact sequential
    * fold. The distance is negated into the shared bounded heap, which
    * keeps the LARGEST scores, and back out. */
  private def adcTopK(joined: DataFrame, k: Int): DataFrame = {
    val adc = aggregate(
      zip_with(col("dt"), col("codes"), (row, c) => element_at(row, c + 1)),
      lit(0.0), (a, x) => a + x)
    probeCand(topK(joined.select(col("key"), col("id"), (-adc).as("score")), k),
      round(-col("score"), 6).as("adc_dist"))
  }

  /** TRUE per-subspace PQ training: independent k-means in every
    * subspace over the SUBVECTORS (not slices of full-vector centroids
    * — the distinction that makes a PQ codebook a codebook). One corpus
    * pass per round computes all m subspaces' assignments and
    * decimal-exact means together (explode over subspaces + posexplode
    * over coordinates, map-side combined to m×numCentroids×sub groups);
    * the m·numCentroids·sub model doubles collect per round. Per-
    * subspace total quantization error is non-increasing under Lloyd
    * steps — AnnRecallSpec asserts exactly that against the untrained
    * sliced books. Empty codewords keep their previous coordinates. */
  def trainedSubCodebooks(emb: DataFrame, iters: Int, m: Int = 8,
      dim: Int = 64, numCentroids: Int = 8, centroidStride: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Seq[Double]]] = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val init = booksFrom(
      ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol), m, sub)
    lloydBooks(emb.select(toDouble(col(vecCol)).as("__v")), "__v",
      iters, init, sub)
  }

  /** [[trainedSubCodebooks]] over RESIDUALS — the full FAISS recipe:
    * each vector's residual from its coarse centroid is what the PQ
    * codebook must cover, so the k-means runs on the residual frame
    * (coarse assignment held fixed). Feed the result into
    * [[ivfadcResidualTopK]]'s `booksOverride`. */
  def trainedResidualBooks(emb: DataFrame, iters: Int, m: Int = 8,
      dim: Int = 64, numCentroids: Int = 8, centroidStride: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Seq[Double]]] = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cents = ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol)
    val resFrame = emb
      .select(col(vecCol).as("__x"),
        array_min(centScored(col(vecCol), cents))
          .getField("cent_id").as("__cid"))
      .select(zip_with(toDouble(col("__x")),
        centVecFor(col("__cid"), cents), (a, b) => a - b).as("__r"))
    lloydBooks(resFrame, "__r", iters, booksFrom(cents, m, sub), sub)
  }

  /** The shared per-subspace Lloyd loop over any double-array frame:
    * one pass per round computes all m subspaces' assignments and
    * decimal-exact means (map-side combined to m×numCentroids×sub
    * groups, rounded to 6 decimals); empty codewords keep their
    * previous coordinates. */
  private def lloydBooks(frame: DataFrame, vecColName: String, iters: Int,
      init: Array[Array[Seq[Double]]], sub: Int): Array[Array[Seq[Double]]] = {
    import org.apache.spark.sql.types.DecimalType
    var books = init
    for (_ <- 0 until iters) {
      val perSub = array(books.indices.map { s =>
        val sv = subvec(col(vecColName), s, sub)
        struct(lit(s).as("s"),
          nearestCode(sv, books(s)).getField("ord").as("code"), sv.as("sv"))
      }: _*)
      val rows = frame.select(explode(perSub).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(DecimalType(27, 10))).as("sum"))
        .select(col("s"), col("code"), col("pos"),
          round(col("sum").cast("double") / col("n"), 6).as("mean"))
        .collect()
      val byKey = rows.groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rs) =>
          k -> rs.sortBy(_.getInt(2)).toSeq.map(_.getDouble(3))
        }
      val nCodes = books(0).length
      books = Array.tabulate(books.length)(s => Array.tabulate(nCodes)(c =>
        byKey.getOrElse((s, c), books(s)(c))))
    }
    books
  }

  /** Total PQ quantization error of the corpus under `books` — the
    * objective k-means minimizes (Σ over vectors and subspaces of the
    * min distance to a codeword); the scalar the training-improves
    * assertion compares. One narrow pass + one 1-row agg. */
  def pqQuantizationError(emb: DataFrame, books: Array[Array[Seq[Double]]],
      sub: Int, vecCol: String = "embedding"): Double = {
    val perSub = books.indices.map(s =>
      nearestCode(subvec(col(vecCol), s, sub), books(s)).getField("dist"))
      .reduce(_ + _)
    emb.agg(sum(perSub)).head.getDouble(0)
  }

  /** PQ codes as ordinal indices into the codebook — the compressed ANN
    * index row: (vec_id, codes[m]). Same narrow argmin pass as
    * [[pqAssign]]. */
  def pqCodes(emb: DataFrame, m: Int = 8, dim: Int = 64,
      numCentroids: Int = 8, centroidStride: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val cents = ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol)
    pqCodesWith(emb, cents, m, dim, idCol, vecCol)
  }

  /** [[pqCodes]] against an EXPLICIT codebook — the model-application
    * seam: the codebook is trained offline (batch [[trainedCentroids]])
    * and applied here as inlined literals, so the SAME expression
    * encodes a batch corpus or a STREAMING ingest (it is a pure narrow
    * projection — no collect, no shuffle, stateless per row; proven
    * streaming ≡ batch in StreamingCurationSpec). */
  def pqCodesWith(emb: DataFrame, cents: Array[(Long, Seq[Double])],
      m: Int = 8, dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    emb.select(col(idCol).as("vec_id"),
      pqCodesCol(cents, m, dim / m, vecCol).as("codes"))
  }

  /** PQ ADC search (asymmetric distance computation): each probe builds
    * its m×numCentroids distance TABLE against the inlined codebook —
    * one constant-size array-of-arrays literal expression per probe row —
    * and every candidate's approximate distance is m table lookups summed
    * in subspace order (`zip_with` + sequential `aggregate`, the
    * oracle-exact fold). Final top-k through the bounded-heap aggregator.
    *
    * The scan side touches ONLY the codes table (the 64×-compressed
    * index) — never the raw vectors: the PQ memory story. Probes are
    * broadcast; shuffle carries ≤ k rows per probe per partition. */
  def pqTopK(emb: DataFrame, probePred: Column, k: Int, m: Int = 8,
      dim: Int = 64, numCentroids: Int = 8, centroidStride: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cents = ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol)
    pqTopKBooks(emb, probePred, k, booksFrom(cents, m, sub), sub, idCol, vecCol)
  }

  /** [[pqTopK]] against EXPLICIT per-subspace codebooks — the trained-
    * model search path ([[trainedSubCodebooks]] plugs in here). Same
    * exhaustive-ADC plan: codes-only scan, broadcast probes with
    * inlined distance tables, bounded-heap top-k. */
  def pqTopKBooks(emb: DataFrame, probePred: Column, k: Int,
      books: Array[Array[Seq[Double]]], sub: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = emb.select(col(idCol).as("id"),
      pqCodesColBooks(books, sub, col(vecCol)).as("codes"))
    val probes = emb.filter(probePred)
      .select(col(idCol).as("key"), distTable(col(vecCol), books, sub).as("dt"))
    adcTopK(codes.join(broadcast(probes), col("key") =!= col("id")), k)
  }

  /** IVFADC — the production ANN composition (coarse quantizer PRUNES,
    * PQ codes SCORE): the index is one row per vector with its inverted-
    * list id and its m PQ codes, built in ONE narrow pass; a probe ranks
    * the centroids (inlined-literal argmin, no shuffle), keeps its
    * `nprobe` nearest lists, and ADC-scores ONLY the codes rows in those
    * lists — the raw vectors are never read at search time, and unlike
    * [[pqTopK]]'s exhaustive scan, the candidate set shrinks by
    * ~nprobe/numCentroids. At 100 TB the codes table is stored
    * partitioned by cent_id, so the pruning is partition pruning on a
    * 64×-compressed table. Final top-k through the bounded-heap
    * aggregator (≤ k rows per probe per partition on the shuffle).
    * nprobe = numCentroids degenerates to exactly [[pqTopK]] (asserted
    * in AnnRecallSpec). Pass a k-means model as `centsOverride` to run
    * a trained coarse quantizer — [[sampledCentroids]] is the
    * production trainer ([[trainedCentroids]] is an sf-bounded audit). */
  def ivfadcTopK(emb: DataFrame, probePred: Column, k: Int, nprobe: Int = 2,
      m: Int = 8, dim: Int = 64, numCentroids: Int = 8,
      centroidStride: Int = 32,
      centsOverride: Array[(Long, Seq[Double])] = null,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cents = if (centsOverride != null) centsOverride
      else ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol)
    val index = ivfadcIndex(emb, cents, m, sub, idCol, vecCol)
    ivfadcSearch(index, emb, probePred, cents, k, nprobe, m, sub, idCol, vecCol)
  }

  /** The STORED IVFADC index rows — (id, cent_id, codes): what a
    * production deployment writes once (partitioned by cent_id) and
    * every query reads back; plain ints/longs, so the parquet
    * round-trip is value-exact. One narrow pass. */
  def ivfadcIndex(emb: DataFrame, cents: Array[(Long, Seq[Double])],
      m: Int, sub: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("id"),
      array_min(centScored(col(vecCol), cents)).getField("cent_id").as("cent_id"),
      pqCodesCol(cents, m, sub, vecCol).as("codes"))

  /** ADC search over a (possibly read-back) [[ivfadcIndex]] table. */
  def ivfadcSearch(index: DataFrame, emb: DataFrame, probePred: Column,
      cents: Array[(Long, Seq[Double])], k: Int, nprobe: Int, m: Int,
      sub: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probes = emb.filter(probePred)
      .select(col(idCol).as("key"),
        distTable(col(vecCol), booksFrom(cents, m, sub), sub).as("dt"),
        probedLists(col(vecCol), cents, nprobe).as("cent_id"))
    adcTopK(index.join(broadcast(probes), Seq("cent_id"))
      .filter(col("key") =!= col("id")), k)
  }

  /** A column holding THIS ROW's coarse-centroid vector, selected from
    * the inlined centroid literals by the row's `cent_id` — the seam the
    * residual encoder needs (a numCentroids-branch CASE over constant
    * array literals, still a narrow projection). */
  private def centVecFor(centId: Column,
      cents: Array[(Long, Seq[Double])]): Column =
    cents.tail.foldLeft(typedlit(cents.head._2): Column) { case (acc, (cid, cv)) =>
      when(centId === cid, typedlit(cv)).otherwise(acc)
    }

  /** RESIDUAL IVFADC — the full production composition (PQ over
    * residuals x − c_list, as FAISS's IVFADC): each vector stores its
    * inverted-list id and the PQ codes of its RESIDUAL from the list
    * centroid; a probe builds a distance table PER PROBED LIST from its
    * own residual against that list's centroid, so the approximate
    * distance is ||q − c_list − reconstruction(residual)||². Residuals
    * concentrate near the origin, which is what makes a small shared
    * codebook usable across lists — the reason production systems
    * encode residuals rather than raw vectors.
    *
    * Scale posture: the index build is ONE narrow pass (argmin +
    * CASE-selected centroid literal + residual codes); probes explode
    * ×nprobe and are broadcast; the cent_id equi-join prunes exactly as
    * [[ivfadcTopK]]; bounded-heap top-k. All constants are inlined
    * literals — no join, no window, no Exchange before the final heap. */
  def ivfadcResidualTopK(emb: DataFrame, probePred: Column, k: Int,
      nprobe: Int = 2, m: Int = 8, dim: Int = 64, numCentroids: Int = 8,
      centroidStride: Int = 32,
      centsOverride: Array[(Long, Seq[Double])] = null,
      booksOverride: Array[Array[Seq[Double]]] = null,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val cents = if (centsOverride != null) centsOverride
      else ivfCentroids(emb, numCentroids, centroidStride, idCol, vecCol)
    // the residual codebook: sliced centroids by default, or a model
    // trained on the residuals ([[trainedResidualBooks]])
    val books = if (booksOverride != null) booksOverride
      else booksFrom(cents, m, sub)
    def residual(vec: Column, centId: Column): Column =
      zip_with(toDouble(vec), centVecFor(centId, cents), (a, b) => a - b)
    val index = emb
      .select(col(idCol).as("id"),
        array_min(centScored(col(vecCol), cents))
          .getField("cent_id").as("cent_id"),
        col(vecCol).as("__v"))
      // residual codes: the argmin per subspace of ||r_s − cb_s||², an
      // expression over the residual column, so it shares one assignment
      // pass with the cent_id argmin
      .select(col("id"), col("cent_id"),
        pqCodesColBooks(books, sub, residual(col("__v"), col("cent_id")))
          .as("codes"))
    // per probed list: the distance table of the probe's OWN residual
    // from that list's centroid (the table depends on (probe, list))
    val probes = emb.filter(probePred)
      .select(col(idCol).as("key"), col(vecCol).as("__q"),
        probedLists(col(vecCol), cents, nprobe).as("cent_id"))
      .select(col("key"), col("cent_id"),
        distTable(residual(col("__q"), col("cent_id")), books, sub).as("dt"))
    adcTopK(index.join(broadcast(probes), Seq("cent_id"))
      .filter(col("key") =!= col("id")), k)
  }

  /** ANN via LSH: top-k among candidates in the probe's bucket, plus —
    * with `multiProbe` (default) — the nPlanes buckets at hamming
    * distance 1 (standard multi-probe LSH: a true neighbor differs from
    * the probe on few sign bits, so flip-1 buckets recover most of the
    * recall a single bucket loses to fragmentation; candidate set grows
    * only ×(nPlanes+1) buckets, each a broadcast-joined slice). */
  def annTopK(emb: DataFrame, probePred: Column, k: Int, nPlanes: Int = 8,
      dim: Int = 64, multiProbe: Boolean = true, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val bucketed = emb.withColumn("bucket", lshBucket(col(vecCol), nPlanes, dim))
    val probeBuckets =
      if (multiProbe) array((col("probe_bucket") +: (0 until nPlanes).map(p =>
        col("probe_bucket").bitwiseXOR(lit(1L << p)))): _*)
      else array(col("probe_bucket"))
    val probes = bucketed.filter(probePred)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        col("bucket").as("probe_bucket"))
      .withColumn("bucket", explode(probeBuckets))
    // final top-k through the bounded-heap aggregator (as ivfTopK): the
    // shuffle carries ≤ k rows per (probe, partition) — a window
    // row_number here would shuffle and sort the ENTIRE scored candidate
    // set per probe, the exact anti-pattern GroupTopK documents
    val scored = bucketed.select(col(idCol).as("id"), col(vecCol).as("cand_vec"),
        col("bucket"))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id").as("key"), col("id"),
        cosineCol(col("probe_vec"), col("cand_vec")).as("score"))
    probeCand(topK(scored, k), round(col("score"), 6).as("cosine"))
  }

  /** Integer-lattice projection of a vector onto pseudo-random plane
    * `p` — the SECONDARY sort key of [[knnGraph]]'s bounded candidate
    * window. q_i = floor(v_i·10⁶) against the centered lattice
    * component 2·((i·a_p + b_p) mod M) − M: exact int64 arithmetic
    * (|Σ| ≤ 64·10⁶·2M ≈ 2.7·10¹⁷), so the rank order is bit-identical
    * on any engine — a double-valued projection could flip ranks at
    * the last ulp and change WHICH pairs are generated. */
  private def latticeProj(vecCol: Column, p: Int, dim: Int): Column = {
    val raw = aggregate(sequence(lit(1), lit(dim)), lit(0L), (s, i) =>
      s + floor(element_at(toDouble(vecCol), i) * 1000000d).cast("long") *
        (((i.cast("long") * graft.plans.HashOps.aK(p) +
          graft.plans.HashOps.bK(p)) % graft.plans.HashOps.M) * 2 -
          graft.plans.HashOps.M))
    // the safe per-component bound DERIVED from dim (a hardcoded 67
    // would cover only dim ≤ 64): each term is at most
    // (|v_i|·1e6 + 1)·M, so dim terms stay inside int64 iff
    // |v_i| ≤ (Long.MaxValue/(dim·M) − 1)/1e6 — 67 at dim=64, 33 at
    // dim=128. Past that Spark would wrap SILENTLY (reordering ranks
    // and changing WHICH pairs generate) while the identical oracle SQL
    // errors — fail loudly instead, the same silent-wrap policy as
    // Guards. Null/empty vectors pass through (projection null/0).
    val bound = math.floor(
      (Long.MaxValue.toDouble / (dim.toDouble * graft.plans.HashOps.M) - 1)
        / 1e6)
    raw + coalesce(
      assert_true(
        coalesce(
          array_max(transform(toDouble(vecCol), x => abs(x))) <= lit(bound),
          lit(true)),
        lit(s"latticeProj: |embedding| > $bound at dim=$dim can overflow " +
          "the int64 rank projection — normalize the vectors")).cast("long"),
      lit(0L))
  }

  /** The BOUNDED candidate pair stage of [[knnGraph]]: within each
    * sign-bit bucket, members are ranked by the integer-lattice
    * projection onto one extra plane (index `nPlanes` — independent of
    * the bucket bits) and each vector pairs with only the next `window`
    * members in that order. Projection-adjacent vectors are
    * cosine-close far more often than random bucket members (the
    * sorted-LSH trick), and the candidate count is DETERMINISTICALLY
    * ≤ window per vector forward, ≤ 2·window including reverse
    * orientation — a hot bucket costs O(bucket·window), never
    * O(bucket²). Each unordered pair is scored once (both directions
    * share the cosine); the window join is an EQUI-join on
    * (bucket, rank) via an exploded rank sequence — no inequality-join
    * fan-out in the physical plan. */
  private[graft] def knnCandidatePairs(emb: DataFrame, nPlanes: Int,
      dim: Int, window: Int, idCol: String,
      vecCol: String): DataFrame = {
    // a non-positive window would make sequence(rk+1, rk+window) count
    // DOWN and emit self-pairs — fail at plan-build time instead
    require(window > 0,
      s"knn candidate window must be positive, got $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("prj"), col("id"))
    val ranked = Materialize(emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        lshBucket(col(vecCol), nPlanes, dim).as("bucket"),
        latticeProj(col(vecCol), nPlanes, dim).as("prj"))
      .withColumn("rk", row_number().over(w).cast("long")))
    val cands = ranked.select(col("bucket"), col("rk"), col("id"),
      col("vec"))
    val probes = ranked.select(col("bucket").as("b_p"),
      explode(sequence(col("rk") + 1, col("rk") + window)).as("rk_c"),
      col("rk").as("rk_p"), col("id").as("id_p"), col("vec").as("vec_p"))
    probes.join(cands,
        col("b_p") === col("bucket") && col("rk_c") === col("rk"))
      .select(col("id_p").as("id_a"), col("id").as("id_b"),
        (col("rk_c") - col("rk_p")).as("gap"),
        cosineCol(col("vec_p"), col("vec")).as("score"))
  }

  /** Window-policy sweep for the bounded kNN graph — the tuning scan
    * that picks `window` for a recall/cost target at 100 TB: per
    * candidate arm, the directed edge count and mutual-edge count the
    * graph would keep. ONE corpus scan, ONE rank window, ONE cosine per
    * unordered pair at the WIDEST arm (each pair carries its rank gap;
    * an arm keeps the pairs with gap ≤ arm — the same
    * every-arm-in-one-pass shape as the session/rate-limit sweeps).
    * Per-(arm, vector) top-k rides the bounded-heap aggregator with
    * the arm index folded into the key (id·nArms + arm — injective for
    * non-negative ids). The arm table broadcasts (a 3-row inequality
    * broadcast join, never a shuffle). */
  def knnWindowSweep(emb: DataFrame, k: Int, windows: Seq[Int],
      nPlanes: Int = 8, dim: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ > 0),
      "knnWindowSweep needs at least one positive window arm")
    val s = emb.sparkSession
    import s.implicits._
    // the SAME candidate stage the graph itself runs, at the widest
    // arm — the sweep tunes exactly what knnGraph will execute
    val pairs = Materialize(
      knnCandidatePairs(emb, nPlanes, dim, windows.max, idCol, vecCol))
    val nArms = windows.length
    val armDf = windows.zipWithIndex
      .map { case (wn, i) => (wn.toLong, i.toLong) }.toDF("win", "arm")
    val armed = pairs.join(broadcast(armDf), col("gap") <= col("win"))
    val scored = armed
      .select((col("id_a") * nArms + col("arm")).as("key"),
        col("id_b").as("id"), col("score"))
      .unionAll(armed
        .select((col("id_b") * nArms + col("arm")).as("key"),
          col("id_a").as("id"), col("score")))
    val dec = Materialize(topKIds(scored, k)
      .select(expr(s"key % $nArms").as("arm"),
        expr(s"key div $nArms").as("src"), col("id").as("dst")))
    val perArm = dec.groupBy(col("arm")).agg(count(lit(1)).as("n_edges"))
    val mutual = dec.join(dec.select(col("arm").as("m_arm"),
        col("src").as("m_dst"), col("dst").as("m_src")),
        col("arm") === col("m_arm") && col("src") === col("m_src") &&
          col("dst") === col("m_dst"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n_mutual"))
    armDf.join(perArm, Seq("arm"), "left_outer")
      .join(mutual, Seq("arm"), "left_outer")
      .select(col("win"), coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
  }

  /** The directed kNN edge set (src, dst) the graph audit is built on —
    * split out so AnnRecallSpec can compare the windowed edge set
    * against the unbounded-window (all-pairs-in-bucket) reference. */
  private[graft] def knnEdges(emb: DataFrame, k: Int, nPlanes: Int,
      dim: Int, window: Int, idCol: String, vecCol: String): DataFrame = {
    // materialized so both orientations genuinely ride ONE scored row
    // per unordered pair (an unmaterialized unionAll would rebuild the
    // window-explode join and re-score every cosine twice)
    val pairs = Materialize(
      knnCandidatePairs(emb, nPlanes, dim, window, idCol, vecCol))
    val scored = pairs
      .select(col("id_a").as("key"), col("id_b").as("id"), col("score"))
      .unionAll(pairs
        .select(col("id_b").as("key"), col("id_a").as("id"), col("score")))
    Materialize(topKIds(scored, k).select(col("key").as("src"), col("id").as("dst")))
  }

  /** Mutual-kNN graph audit over LSH buckets — the semantic-clustering
    * primitive (mutual-kNN is the standard sparsifier in front of
    * community detection / semantic dedup): EVERY vector is a probe,
    * its candidates are the `window` projection-rank neighbors inside
    * its own sign-bit bucket ([[knnCandidatePairs]]), and its top-k by
    * cosine form the directed kNN edge set. Returns per-vector
    * out-degree (≤ k — small windows yield fewer), in-degree, and the
    * count of MUTUAL edges (i→j AND j→i — the edges a mutual-kNN
    * clustering keeps).
    *
    * Scale: NO corpus broadcast — with every vector a probe, the
    * broadcast-probes shape of [[annTopK]] would ship the whole corpus
    * to every executor; pair generation is the bucket-keyed equi-join
    * of [[knnCandidatePairs]] with its DETERMINISTIC ≤ 2·window
    * per-vector candidate bound (one hot bucket pairs O(bucket·window)
    * rows, never O(bucket²) — GraphOpsSpec asserts the bound), and the
    * top-k runs through the bounded-heap aggregator (≤ k rows per
    * vector per partition on the shuffle). The k-bounded edge set is
    * materialized once; the degree/mutuality passes are map-side-
    * combined aggs and one self-join on O(n·k) rows. */
  def knnGraph(emb: DataFrame, k: Int, nPlanes: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      window: Int = 16): DataFrame = {
    val edges = knnEdges(emb, k, nPlanes, dim, window, idCol, vecCol)
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val inDeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
    val mutual = edges
      .join(edges.select(col("src").as("m_dst"), col("dst").as("m_src")),
        col("src") === col("m_src") && col("dst") === col("m_dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("n_mutual"))
    emb.select(col(idCol).as("vec_id"))
      .join(outDeg, col("vec_id") === col("src"), "left_outer").drop("src")
      .join(inDeg, col("vec_id") === col("dst"), "left_outer").drop("dst")
      .join(mutual.withColumnRenamed("src", "m_s"),
        col("vec_id") === col("m_s"), "left_outer").drop("m_s")
      .select(col("vec_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
  }

  /** Per-label centroid distance — the embedding-space outlier signal a
    * curation pipeline runs after clustering/labeling: each vector's L2
    * distance to its own label's centroid (mislabeled or off-manifold
    * vectors sit far out).
    *
    * Determinism: the centroid is built from per-(label, dim) sums of
    * 9-dp DECIMALS (float → double is exact, double → decimal a fixed
    * half-up round), so the sums are commutative-exact under any
    * partitioning; the per-vector distance is then a SEQUENTIAL
    * zip-fold over dims — the same order DuckDB's list fold uses.
    *
    * Scale: one corpus scan explodes to (label, dim) partial sums —
    * map-side combined to labels×dim rows, model-state sized — and the
    * centroid table broadcasts back onto the second scan. No self-join,
    * no window; the explode fan-out (×dim) happens INSIDE a combining
    * agg, so nothing dim-sized ever shuffles per row. */
  def labelCentroidDistance(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 9)
    val comps = emb
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(labelCol), col("dim"))
      .agg(sum(col("x").cast("double").cast(dec)).as("sx"),
        count(lit(1)).as("n"))
    val centroids = comps.groupBy(col(labelCol))
      .agg(max(col("n")).as("n_label"),
        array_sort(collect_list(struct(col("dim"), col("sx")))).as("cs"))
      .select(col(labelCol), col("n_label"),
        transform(col("cs"),
          s => s.getField("sx").cast("double") / col("n_label")).as("cen"))
    emb.join(broadcast(centroids), labelCol)
      .select(col(idCol), col(labelCol), col("n_label"),
        round(sqrt(aggregate(
          zip_with(toDouble(col(vecCol)), col("cen"),
            (x, c) => (x - c) * (x - c)),
          lit(0.0), (a, v) => a + v)), 6).as("centroid_dist"))
  }

  /** Signed random projection (Achlioptas/JL): project each embedding to
    * `outDims` dimensions with a ±1 matrix derived from the minhash-family
    * affine rehash — sign(i,j) = +1 iff
    * ((i+1)·A_j + B_j) mod 2147483647 is even, with A_j =
    * ((j+1)·2654435761) mod M and B_j = ((j+1)·40503) mod M. Sign
    * matrices satisfy the JL lemma, so pairwise distances/cosines
    * survive within (1±ε) at outDims = O(log n / ε²) — the cheap
    * dimensionality reduction in front of clustering or coarse ANN when
    * 64+ dims are too wide to shuffle.
    *
    * The sign MUST come through the multiplicative rehash, not the
    * parity of a raw linear form: parity of (i+1)·K1 + (j+1)·K2 with odd
    * K1, K2 alternates deterministically in BOTH indices (a rank-1
    * checkerboard — the prefix-banded-sampler bug class again), which
    * collapses the projection to ~1 effective dimension; measured
    * recall@5 of the two-stage rerank was 0.10 regardless of outDims.
    * With the rehash the matrix behaves JL-random: recall@5 0.46 at 16
    * dims / 50-shortlist, 0.72 at 100 (floor-guarded in GraphOpsSpec).
    *
    * Determinism: the matrix is a pure hash function (no stored state, no
    * RNG — any executor regenerates it identically), and each output
    * coordinate is a SEQUENTIAL fold over input dims in index order —
    * the same IEEE op sequence both engines evaluate, so results are
    * bit-identical before the 6-dp round.
    *
    * Scale: zero shuffle — a narrow map over the corpus; 16× fewer bytes
    * into whatever shuffles next. */
  def randomProject(emb: DataFrame, outDims: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val M = 2147483647L
    emb.select(col(idCol), col("label"),
      transform(sequence(lit(0), lit(outDims - 1)), j =>
        round(aggregate(
          sequence(lit(0), size(col(vecCol)) - 1),
          lit(0.0d),
          (acc, i) => acc + element_at(col(vecCol), i + 1).cast("double")
            * when((((i + 1).cast("long")
                  * (((j + 1).cast("long") * lit(2654435761L)) % lit(M)))
                + (((j + 1).cast("long") * lit(40503L)) % lit(M)))
                % lit(M) % 2 === 0, lit(1.0d)).otherwise(lit(-1.0d))),
          6)).as("proj"))
  }

  /** Project → shortlist → exact rerank: the two-stage ANN that puts
    * [[randomProject]] to work. Stage 1 scores every candidate against
    * each probe in the CHEAP 16-dim projected space (4× fewer flops and
    * bytes than raw) and keeps a `shortlist`-sized candidate set through
    * the bounded heap; stage 2 re-scores ONLY the shortlist with exact
    * cosine on the raw vectors. JL distance preservation is what makes
    * the stage-1 ordering a faithful proxy — the shortlist just needs to
    * CONTAIN the true top-k, so `shortlist` ≫ k buys recall with flops,
    * not with another index.
    *
    * Scale: the projection table is materialized once (probe side and
    * candidate side share it); both top-k stages are bounded-heap
    * aggregations (shuffle carries ≤ shortlist rows per probe-partition,
    * never the full scored set); the rerank join touches
    * O(probes · shortlist) rows. Deterministic: heap total order =
    * (score desc, id asc) ≡ the oracle's (dist asc, id asc). */
  def projectRerankTopK(emb: DataFrame, probePred: Column, k: Int,
      shortlist: Int = 100, outDims: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val proj = Materialize(randomProject(emb, outDims, idCol, vecCol)
      .select(col(idCol).as("id"), col("proj")))
    val probes = proj
      .join(emb.filter(probePred).select(col(idCol).as("id")), "id")
      .select(col("id").as("probe_id"), col("proj").as("p_proj"))
    val coarse = proj.join(broadcast(probes), col("probe_id") =!= col("id"))
      .select(col("probe_id").as("key"), col("id"),
        (-aggregate(
          zip_with(col("p_proj"), col("proj"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (a, v) => a + v)).as("score"))
    val short = topKIds(coarse, shortlist)
      .select(col("key").as("probe_id"), col("id").as("cand_id"))
    val cand = emb.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"))
    val pvec = emb.filter(probePred)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val rer = short.join(cand, "cand_id").join(broadcast(pvec), "probe_id")
      .select(col("probe_id").as("key"), col("cand_id").as("id"),
        cosineCol(col("probe_vec"), col("cand_vec")).as("score"))
    probeCand(topK(rer, k), round(col("score"), 6).as("cosine"))
  }

  /** Collect the rescaled integer Gram matrix (None for an empty
    * corpus), enforcing the long-range bounds the scaladoc documents —
    * the BIGINT Gram sum wraps silently past Long.Max in non-ANSI
    * mode, and the driver product Σⱼ g·vⱼ wraps past
    * Long.Max/(2·scale·D); both fail loudly here instead (the vector
    * count rides the aggregator buffer for free). */
  private def collectGram(emb: DataFrame, scale: Long, gramDiv: Long,
      idCol: String, vecCol: String): Option[Array[Array[Long]]] = {
    val s = emb.sparkSession
    import s.implicits._
    // NARROW scan: each vector folds its outer product into a flat D×D
    // partition buffer ([[graft.plans.GramAggregator]] — the moments-
    // sketch shape); the shuffle carries one ~32 KB partial per
    // partition instead of D² rows per vector (the exploded self-join
    // measured slope 5.34 at data ×8 — this is the flatten)
    val (nVec, d, flat) = emb.select(toDouble(col(vecCol)).as("v"))
      .as[Seq[Double]]
      .select(new graft.plans.GramAggregator(scale).toColumn)
      .head()
    if (nVec == 0 || d == 0) return None
    require(BigInt(nVec) * BigInt(scale) * BigInt(scale) <= Long.MaxValue,
      s"pcaPower: $nVec vectors at scale=$scale can overflow the Gram " +
        "sum — lower `scale`")
    val gm = Array.ofDim[Long](d, d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val gsum = flat(i * d + j)
        val g = (if (gsum < 0) -1L else 1L) * (math.abs(gsum) / gramDiv)
        gm(i)(j) = g; gm(j)(i) = g
        j += 1
      }
      i += 1
    }
    val maxAbsG = gm.iterator.flatMap(_.iterator).map(math.abs).max
    require(BigInt(maxAbsG) * BigInt(2L * scale) * BigInt(d) <= Long.MaxValue,
      s"pcaPower: |gram| up to $maxAbsG overflows the power iteration " +
        s"at D=$d, scale=$scale — raise `gramDiv` (∝ corpus size)")
    Some(gm)
  }

  /** The order-free integer power loop: v' = sign(u)·(|u| div
    * (max|u| div scale)), u = G·v, from v₀ = (scale, …, scale). */
  private def powerIterate(gm: Array[Array[Long]], iters: Int,
      scale: Long): Array[Long] = {
    val d = gm.length
    var v = Array.fill(d)(scale)
    for (_ <- 1 to iters) {
      val u = matvec(gm, v)
      val m = u.iterator.map(math.abs).max
      val divisor = math.max(m / scale, 1L)
      v = u.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / divisor))
    }
    v
  }

  private def matvec(gm: Array[Array[Long]], v: Array[Long]): Array[Long] =
    Array.tabulate(gm.length) { i =>
      var acc = 0L; var j = 0
      while (j < gm.length) { acc += gm(i)(j) * v(j); j += 1 }; acc
    }

  private def emptyPcaResult(s: org.apache.spark.sql.SparkSession,
      ddl: String): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Top principal direction of the embedding corpus by INTEGER power
    * iteration — uncentered PCA (the dominant eigenvector of the
    * second-moment/Gram matrix Σ x·xᵀ), the whitening / projection-axis
    * audit a pipeline reads before picking [[randomProject]] dims or an
    * SQ quantization range.
    *
    * Exactness: float matrix-vector products are order-dependent, so the
    * whole computation runs on the [[graft.operators.Dedup.clusterMedoids]]
    * integer lattice — q = floor(x·10⁶) per (vec, dim); Gram entries are
    * BIGINT sums Σ q_i·q_j rescaled by an integer div; each iteration is
    * v' = sign(u)·(|u| div (max|u| div 10⁶)) with u = G·v — every step
    * order-free integer arithmetic, so the 64 output components are
    * bit-identical in any engine. Bounds at the defaults (scale=10⁶,
    * |x| ≤ 1, gramDiv=10⁷): |q| ≤ 10⁶ so each Gram sum grows ≤ 10¹²
    * per vector — the BIGINT sum stays inside long range only up to
    * ~9·10⁶ vectors, and the driver product Σⱼ g·vⱼ (|v| ≤ scale,
    * D = 64 terms) needs |g| ≤ Long.Max/(2·scale·D) ≈ 7·10¹⁰, i.e.
    * corpus ≲ 10⁶ vectors AT THE DEFAULT gramDiv. Larger corpora must
    * raise `gramDiv` proportionally (it only rescales the eigenvector's
    * fixed-point resolution, not its direction); both bounds are
    * ENFORCED — the corpus count rides the Gram aggregation for free
    * and the collected matrix is checked before iterating, so an
    * out-of-range corpus fails loudly instead of wrapping silently.
    *
    * Scale: NO wide edge — the Gram aggregation is a NARROW scan
    * folding each vector's outer product into a flat D×D partition
    * buffer ([[graft.plans.GramAggregator]]); the shuffle carries one
    * ~32 KB partial per partition. The D×D Gram table is MODEL STATE
    * (4096 cells at D = 64, like the IVF centroids) so the power
    * iteration itself runs on the collected matrix — O(iters·D²)
    * driver work, independent of corpus size. */
  def pcaPower(emb: DataFrame, iters: Int = 3, scale: Long = 1000000L,
      gramDiv: Long = 10000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = emb.sparkSession
    collectGram(emb, scale, gramDiv, idCol, vecCol) match {
      case None => // empty corpus: empty result, right schema
        emptyPcaResult(s, "dim BIGINT, comp BIGINT, loading DOUBLE")
      case Some(gm) =>
        val v = powerIterate(gm, iters, scale)
        val out = v.toIndexedSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
        s.createDataFrame(s.sparkContext.parallelize(out, 1))
          .toDF("dim", "comp")
          .select(col("dim"), col("comp"),
            round(col("comp") / lit(scale.toDouble), 6).as("loading"))
    }
  }

  /** TOP-2 principal directions by integer-lattice DEFLATION: after
    * [[pcaPower]]'s v₁, the rank-1 projector P ≈ λ·v₁v₁ᵀ/(v₁ᵀv₁) is
    * subtracted from G and the same power loop runs on G − P. Every
    * deflation step stays in long range by construction:
    * w = sign(u)·(|u| div scale) with u = G·v₁ (≤ the iteration bound);
    * S = Σ v·w and vv = Σ v² (≤ D·scale·|w|, guarded);
    * a = sign(S)·(|S| div vv) ≈ λ/scale; and
    * P_ij = sign(t)·(|t| div (vv div scale)) with t = a·vᵢ·vⱼ
    * (|t| ≤ |a|·scale² — guarded). Every div operand is non-negative —
    * the regime where Spark's `div` and DuckDB's `//` agree — so the
    * oracle unrolls the identical deflation as CTEs. Output: both
    * directions as (comp_id, dim, comp, loading). */
  def pcaTop2(emb: DataFrame, iters: Int = 3, scale: Long = 1000000L,
      gramDiv: Long = 10000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = emb.sparkSession
    collectGram(emb, scale, gramDiv, idCol, vecCol) match {
      case None =>
        emptyPcaResult(s,
          "comp_id BIGINT, dim BIGINT, comp BIGINT, loading DOUBLE")
      case Some(gm) =>
        val d = gm.length
        val v1 = powerIterate(gm, iters, scale)
        val u = matvec(gm, v1)
        val w = u.map(x => (if (x < 0) -1L else 1L) * (math.abs(x) / scale))
        var sAcc = BigInt(0); var vvAcc = 0L
        var i = 0
        while (i < d) {
          sAcc += BigInt(v1(i)) * BigInt(w(i)); vvAcc += v1(i) * v1(i)
          i += 1
        }
        require(sAcc.abs <= Long.MaxValue,
          s"pcaTop2: Σ v·w = $sAcc overflows — raise `gramDiv`")
        val sL = sAcc.toLong
        val vv = math.max(vvAcc, 1L)
        val aC = (if (sL < 0) -1L else 1L) * (math.abs(sL) / vv)
        require(BigInt(math.abs(aC)) * BigInt(scale) * BigInt(scale)
            <= Long.MaxValue,
          s"pcaTop2: projector term |a|=$aC overflows at scale=$scale")
        val div = math.max(vv / scale, 1L)
        val g2 = Array.tabulate(d, d) { (i2, j2) =>
          val t = aC * v1(i2) * v1(j2)
          gm(i2)(j2) - (if (t < 0) -1L else 1L) * (math.abs(t) / div)
        }
        val maxAbsG2 = g2.iterator.flatMap(_.iterator).map(math.abs).max
        require(BigInt(maxAbsG2) * BigInt(2L * scale) * BigInt(d)
            <= Long.MaxValue,
          s"pcaTop2: deflated |gram| up to $maxAbsG2 overflows the " +
            s"second power iteration — raise `gramDiv`")
        val v2 = powerIterate(g2, iters, scale)
        val out = v1.toIndexedSeq.zipWithIndex.map { case (c, i2) =>
            (1L, i2.toLong, c) } ++
          v2.toIndexedSeq.zipWithIndex.map { case (c, i2) =>
            (2L, i2.toLong, c) }
        s.createDataFrame(s.sparkContext.parallelize(out, 1))
          .toDF("comp_id", "dim", "comp")
          .select(col("comp_id"), col("dim"), col("comp"),
            round(col("comp") / lit(scale.toDouble), 6).as("loading"))
    }
  }

  /** WHITENED top-2 projections — the decorrelate-and-equalize step a
    * PCA embedding pipeline ships (projections divided by their own
    * standard deviation, so both axes carry unit variance): per vector
    * and component, pb = sign(proj)·(|proj| div 10⁷) (the bucketed
    * projection, kept small enough that Σpb² stays in int64 to
    * n ≈ 2·10⁵ vectors at the defaults), sd = isqrt(var(pb)) computed
    * by a 24-step UNROLLED integer bit descent — column steps like the
    * Hilbert fold, no sqrt() anywhere, so the whitened value
    * w = sign(pb)·((|pb|·10³) div sd) is bit-exact on any engine. Every
    * negative-operand division uses the sign/abs spelling (Spark div
    * truncates, DuckDB // floors — they agree only on non-negatives).
    *
    * Scale: the component table and the 2-row stat/isqrt relation are
    * broadcast model state; the corpus passes are the projection agg
    * and the whiten projection — same shape as [[pcaProject]]. */
  def pcaWhiten(emb: DataFrame, iters: Int = 3, scale: Long = 1000000L,
      gramDiv: Long = 10000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val comps = pcaTop2(emb, iters, scale, gramDiv, idCol, vecCol)
      .select(col("comp_id"), col("dim"), col("comp"))
    val q = emb.select(col(idCol),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * scale).cast("long").as("q"))
    val pb = q.join(broadcast(comps), "dim")
      .groupBy(col(idCol), col("comp_id"))
      .agg(sum(col("q") * col("comp")).as("proj"))
      .withColumn("pb", expr(
        "(CASE WHEN proj < 0 THEN -1 ELSE 1 END) * (abs(proj) div 10000000)"))
    var stats = pb.groupBy(col("comp_id"))
      .agg(count(lit(1)).as("n"), sum(col("pb")).as("sp"),
        sum(col("pb") * col("pb")).as("sp2"),
        max(abs(col("pb"))).as("__mpb"))
      // the collectGram-class guard pcaPower already carries: past
      // ~2·10⁵ vectors at the defaults Σpb² wraps int64 silently —
      // fail loudly instead (count and max ride the same agg for free)
      .withColumn("sp2", col("sp2")
        + Guards.sumSqBound(col("n"), col("__mpb"),
          "pcaWhiten: Σpb² can exceed int64 at this corpus size — " +
            "raise `gramDiv`")
        + Guards.sumBound(col("n"), col("__mpb"),
          "pcaWhiten: Σpb can exceed int64 at this corpus size — " +
            "raise `gramDiv`"))
      .drop("__mpb")
      .withColumn("m", expr(
        "(CASE WHEN sp < 0 THEN -1 ELSE 1 END) * (abs(sp) div n)"))
      .withColumn("var_s", expr("greatest(sp2 div n - m * m, 1)"))
      .withColumn("r", lit(0L))
    // isqrt(var_s) by bit descent: var_s ≤ ~4·10¹³ < 2⁴⁶ → root < 2²⁴
    for (b <- 23 to 0 by -1) {
      val step = 1L << b
      stats = stats.withColumn("r",
        when((col("r") + step) * (col("r") + step) <= col("var_s"),
          col("r") + step).otherwise(col("r")))
    }
    pb.join(broadcast(stats.select(col("comp_id"), col("r").as("sd"))),
        "comp_id")
      .select(col(idCol), col("comp_id"), col("pb"), expr(
        "(CASE WHEN pb < 0 THEN -1 ELSE 1 END) " +
          "* ((abs(pb) * 1000) div greatest(sd, 1))").as("w"))
  }

  /** Project every vector onto [[pcaPower]]'s top principal direction —
    * the 1-d feature a pipeline reads for PCA-based ordering, outlier
    * screens, or SQ range selection. Exact: the projection is the
    * integer dot product Σ q_d·v_d of the lattice quantization against
    * the lattice eigenvector (|q|·|v|·D ≤ 10⁶·10⁶·64 — inside long
    * range), bucketed by a sign/abs integer division. Scale: the
    * 64-row direction broadcasts; one corpus scan, one map-side
    * per-vector sum — no wide edge beyond pcaPower's own Gram agg. */
  def pcaProject(emb: DataFrame, iters: Int = 3, scale: Long = 1000000L,
      gramDiv: Long = 10000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = pcaPower(emb, iters, scale, gramDiv, idCol, vecCol)
      .select(col("dim"), col("comp"))
    val q = emb.select(col(idCol),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * scale).cast("long").as("q"))
    q.join(broadcast(v), "dim")
      .groupBy(col(idCol))
      .agg(sum(col("q") * col("comp")).as("proj"))
      .withColumn("proj_bucket",
        expr("(CASE WHEN proj < 0 THEN -1 ELSE 1 END) " +
          "* (abs(proj) div 1000000000000)"))
  }
}
