package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.PersistedIndex

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one narrow pass over the corpus computing scores, then a per-query
  * top-k. At 1000 executors this is embarrassingly parallel: corpus stays
  * partitioned, queries are broadcast, and the only shuffle is the final
  * per-query top-k (k rows per partition per query after partial top-k).
  *
  * Scale path: LSH random-hyperplane bucketing — sign bits of fixed
  * pseudo-random hyperplanes form a bucket key; candidate generation
  * becomes an equi-join on the bucket, turning O(N*Q) into
  * O(N*Q/2^planes) per bucket.
  *
  * Dot products use the native codegen'd [[graft.functions.DotProduct]]
  * expression (one primitive loop in whole-stage codegen; `dotHof` keeps
  * the built-in `zip_with`+`aggregate` reference formulation).
  */
object Similarity {

  /** Elementwise dot product of two double arrays — the native codegen'd
    * [[graft.functions.DotProduct]] expression (numerically identical to
    * the HOF fold, one primitive loop inside whole-stage codegen).
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  /** The pure higher-order-function formulation (kept as the reference
    * implementation; [[dot]] must always agree with it bit-for-bit).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** L2-normalize a float-array column (cast to double first so later dot
    * products are exact-enough for 6-decimal oracle rounding).
    */
  def normalize(a: Column): Column = {
    val d = transform(a, x => x.cast("double"))
    val n = sqrt(aggregate(transform(d, x => x * x), lit(0.0d), (acc, x) => acc + x))
    transform(d, x => x / n)
  }

  def cosine(a: Column, b: Column): Column = dot(normalize(a), normalize(b))

  /** Symmetric per-vector int8 scalar quantization — the storage path a
    * 100 TB embedding store runs before anything else (float32 -> int8 is
    * 4x fewer bytes scanned by every ANN pass; recall loss is bounded by
    * the returned reconstruction error). scale = max|x|/127;
    * q_i = clamp(floor(x_i/scale + 0.5), -127, 127); all-zero vectors
    * quantize to zeros with scale 0. Entirely narrow (per-row folds, no
    * shuffle), and every step is deterministic arithmetic the oracle
    * reproduces exactly — floor-based rounding, fixed operand order.
    *
    * Output: (id, scale, q array<long>, max_err = max_i |x_i - q_i*scale|).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val d = transform(col(vecCol), x => x.cast("double"))
    val base = graft.Partitioning.spread(df)
      .select(col(idCol).as("id"), d.as("d"))
      .withColumn("ma", aggregate(transform(col("d"), x => abs(x)),
        lit(0.0d), (a, x) => greatest(a, x)))
    val scale = col("ma") / lit(127.0d)
    val q = when(col("ma") === 0.0d, transform(col("d"), _ => lit(0L)))
      .otherwise(transform(col("d"), x =>
        greatest(lit(-127L), least(lit(127L), floor(x / scale + lit(0.5d))))))
    base.withColumn("q", q)
      .withColumn("max_err", aggregate(
        zip_with(col("d"), col("q"), (x, qi) => abs(x - qi.cast("double") * scale)),
        lit(0.0d), (a, x) => greatest(a, x)))
      .select(col("id"), graft.Num.r6(scale).as("scale"), col("q"),
        graft.Num.r6(col("max_err")).as("max_err"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * an LCG step mapped to [-0.5, 0.5). Fixed arithmetic — reproducible
    * anywhere, no RNG state. The plane stride (4096) bounds the
    * supported vector dimension: dims >= stride would alias into the
    * next plane's seeds and correlate adjacent hyperplanes.
    */
  val PlaneStride = 4096L

  def planeComponent(plane: Int, dim: Column): Column = {
    val seed = (lit(plane.toLong) * lit(PlaneStride) + dim) * lit(1103515245L) + lit(12345L)
    (pmod(seed, lit(2147483648L)).cast("double") / lit(2147483648.0d)) - lit(0.5d)
  }

  /** Sign-bit bucket over `nPlanes` hyperplanes: bucket = sum over planes
    * of (dot(v, plane_p) >= 0) << p — the native codegen'd
    * [[graft.functions.HyperplaneBucket]] expression (one fused loop;
    * [[hyperplaneBucketHof]] is the reference formulation it must match
    * bit-for-bit).
    */
  def hyperplaneBucket(v: Column, nPlanes: Int, firstPlane: Int = 0): Column =
    graft.functions.HyperplaneBucket.bucket(v, nPlanes, firstPlane)

  /** HOF reference formulation of [[hyperplaneBucket]]. */
  def hyperplaneBucketHof(v: Column, nPlanes: Int, firstPlane: Int = 0): Column =
    (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(firstPlane + p, i.cast("long"))),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Plane id offset for the [[randomProject]] matrix — far above any
    * plane index the LSH families use (nPlanes·nTables tops out well
    * under 100), so projection rows and bucket hyperplanes never share
    * LCG seeds.
    */
  val ProjectPlaneBase = 500

  /** Deterministic Johnson–Lindenstrauss random projection to `outDim`
    * dimensions: out_j = √(12/outDim) · Σ_i v_i · r(j, i), with
    * r(j, i) the [[planeComponent]] LCG uniform on [−0.5, 0.5)
    * (variance 1/12 — the √(12/k) scale makes E‖out‖² = ‖v‖², the JL
    * norm-preservation contract). The storage/compute lever BEFORE the
    * ANN family: every downstream dot product and bucket costs ∝ dim,
    * and a 32→8 projection cuts that 4× at a bounded distance
    * distortion (AnnRecallSpec-style empirical pins live in
    * DedupSimilaritySpec). Entirely narrow — per-row folds against
    * literal-seeded components, no shuffle, no state — and
    * deterministic anywhere (no RNG): the same vector projects to the
    * same output on any engine, which is what makes the projection a
    * stable STORAGE format, not just a transform.
    *
    * @return (id, dim: int 0-based, value: double r6) — long form, one
    *         row per output component
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int): DataFrame = {
    require(outDim >= 1, "outDim must be positive")
    val scale = math.sqrt(12.0d / outDim.toDouble)
    val v = transform(col(vecCol), x => x.cast("double"))
    val comps = (0 until outDim).map { j =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(ProjectPlaneBase + j, i.cast("long"))),
        lit(0.0d), (acc, x) => acc + x)
      graft.Num.r6(lit(scale) * proj)
    }
    graft.Partitioning.spread(df)
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), posexplode(array(comps: _*)))
      .select(col("id"), col("pos").cast("int").as("dim"), col("col").as("value"))
  }

  /** Two-stage per-query top-k: stage 1 takes the top k within each
    * (query, salt) slice — `nSalts`-way parallel, so no single task ever
    * sees more than ~N/nSalts corpus rows per query; stage 2 merges the
    * <= nSalts*k survivors per query. At 100 TB stage 1 is the only pass
    * over the corpus and stage 2's input is tiny. A plain
    * `Window.partitionBy(query_id)` over the raw scores would funnel ALL
    * N corpus scores for a query through one task — the skew this
    * replaces. Deterministic: ties broken by corpus id.
    */
  private def topKMerge(scored: DataFrame, k: Int, nSalts: Int): DataFrame = {
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id").asc)
    // nSalts == 1 means the caller established per-query candidates are
    // already small (e.g. LSH-bucketed): one window, no salted pre-stage
    val partial = if (nSalts <= 1) scored else {
      // salt on a HASH of the id, not the id itself: pmod over a raw
      // string id is null/zero for non-numeric ids, which would collapse
      // every candidate into one salt slice and silently void the
      // anti-funnel property (output stays correct — the merge window
      // re-ranks — but stage 1 degenerates to the skew it exists to
      // prevent). Same fix as Retrieval.saltedTopK.
      val salted = scored.withColumn("_salt", pmod(hash(col("nn_id")), lit(nSalts)))
      val w1 = Window.partitionBy(col("query_id"), col("_salt"))
        .orderBy(col("score").desc, col("nn_id").asc)
      salted.withColumn("_rank", row_number().over(w1))
        .filter(col("_rank") <= k).drop("_rank", "_salt")
    }
    partial.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("score"), col("rank"))
  }

  /** Normalized (query_id, qv) side plus the salt count for the
    * two-stage merge. With explicit `nSalts > 0` construction stays
    * fully lazy. With `nSalts = 0` (auto) the query side is
    * localCheckpoint'ed FIRST and the count reads the checkpoint — one
    * scan of the (broadcast-small by contract) query plan total, where
    * counting the raw plan and then joining it again would evaluate a
    * derived query side (e.g. a filter over the corpus) twice.
    *
    * Auto salt count: enough (query, salt) slices to fill the cluster's
    * shuffle parallelism ~4x over, no more — a fixed wide salt on a
    * small query set multiplies stage-1 window sorts for nothing
    * (measured: 64 salts x 20 queries = 1280 sort partitions dominated
    * the LSH top-k at sf0.1). `floor` is the caller's statement about
    * per-query candidate size: brute/IVF paths score corpus-sized
    * candidate lists, so even with MANY queries (where the parallelism
    * term collapses to 1) they keep a 4x salted pre-reduction per task;
    * the LSH path's candidates are already bucket-bounded, so it floors
    * at 1 and the pre-stage disappears when query count covers the
    * cluster.
    */
  private def prepQueries(queries: DataFrame, idCol: String, vecCol: String,
                          nSalts: Int, floor: Long = 4L): (DataFrame, Int) = {
    val q = queries.select(col(idCol).as("query_id"), normalize(col(vecCol)).as("qv"))
    if (nSalts > 0) (q, nSalts)
    else {
      // persist (lineage kept), NOT localCheckpoint (lineage severed):
      // losing an executor holding checkpoint blocks mid-way through the
      // long corpus pass would fail the whole job unrecoverably, where a
      // persisted plan just recomputes the lost blocks. The pin outlives
      // this call (the returned top-k plan reads it lazily) — it is
      // tracked, and long-lived sessions release accumulated pins via
      // [[graft.Partitioning.unpersistPins]] after their terminal action
      val qc = graft.Partitioning.trackPin(
        q.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val p = queries.sparkSession.sessionState.conf.numShufflePartitions
      val nq = math.max(1L, qc.count())
      (qc, math.min(64L, math.max(floor, (4L * p + nq - 1) / nq)).toInt)
    }
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself when ids collide). Scores rounded to 6
    * decimals; ties broken by corpus id so ordering is deterministic.
    */
  /** Max-inner-product top-k (MIPS) — the recommendation-scoring
    * variant where vector MAGNITUDE matters (user·item affinity,
    * un-normalized retrieval heads): identical shape to [[topK]] but
    * the raw vectors score directly (cast to double, no
    * normalization), so a long vector can rank above a better-aligned
    * short one — exactly the semantics cosine deliberately removes.
    * Same broadcast-query + salted two-stage merge scale shape. For
    * sublinear MIPS at corpus scale use [[topKMipsAnn]] — the
    * norm-augmentation reduction implemented below.
    */
  def topKMips(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               k: Int, nSalts: Int = 8): DataFrame = {
    require(nSalts >= 1, "nSalts must be at least 1")
    val c = graft.Partitioning.spread(corpus)
      .select(col(idCol).as("nn_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(scored, k, nSalts)
  }

  /** The MIPS→cosine norm-augmentation front half (Bachrach et al.
    * 2014): append √(M²−‖x‖²) to every corpus vector (M² = max squared
    * corpus norm) and 0 to every query. Augmented corpus vectors all
    * have norm exactly M, so for any query the cosine ordering over
    * augmented vectors IS the inner-product ordering over the raw ones
    * — and because random-hyperplane buckets are sign-invariant under
    * positive scaling, the augmented vectors feed [[hyperplaneBucket]]
    * directly, un-normalized (also keeps the all-zero corner NaN-free).
    * M² is ONE 1-row aggregate entering the plan as a literal (the
    * centroid idiom); `greatest(…, 0)` guards the max-norm row against
    * a negative-epsilon sqrt. Raw vectors ride along so candidates are
    * scored with the true inner product.
    *
    * @return (corpus(nn_id, cv, av), queries(query_id, qv, aq))
    */
  private def mipsAugmented(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val c0 = graft.Partitioning.spread(corpus)
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("nn_id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))
    val m2row = c0.agg(max(dot(col("cv"), col("cv")))).first()
    val m2 = if (m2row.isNullAt(0)) 0.0d else m2row.getDouble(0)
    val aug = c0.withColumn("av", concat(col("cv"),
      array(sqrt(greatest(lit(m2) - dot(col("cv"), col("cv")), lit(0.0d))))))
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .withColumn("aq", concat(col("qv"), array(lit(0.0d))))
    (aug, q)
  }

  /** Sublinear MIPS: [[mipsAugmented]] reduction + the multi-table
    * OR-amplified hyperplane bucketing of [[topKLsh]] — candidates must
    * share a (table, bucket) with the query's AUGMENTED vector, then
    * are scored with the exact RAW inner product and ranked. Same scale
    * shape as the cosine LSH path: corpus explodes nTables narrow keys,
    * queries broadcast, the only exchange is the candidate-pair dedup.
    * Approximate (recall < 1 — AnnRecallSpec pins the recall floor AND
    * candidate-rate ceiling at the gate parameters); [[topKMips]] is
    * the exact linear-scan baseline.
    */
  def topKMipsAnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nPlanes: Int = 4, nTables: Int = 16,
                  nSalts: Int = 1): DataFrame = {
    require(nPlanes >= 1, "nPlanes must be positive")
    require(nTables >= 1, "nTables must be positive")
    val (c, q) = mipsAugmented(corpus, queries, idCol, vecCol)
    val matched = tabled(c, "av", nPlanes, nTables)
      .join(broadcast(tabled(q, "aq", nPlanes, nTables)), Seq("tbl", "bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    // same pair via several tables: identical score, max() is pure dedup
    val scored = matched.groupBy(col("query_id"), col("nn_id"))
      .agg(max(col("score")).as("score"))
    topKMerge(scored, k, nSalts)
  }

  /** Sublinear MIPS, IVF variant: the same [[mipsAugmented]] reduction
    * quantized by the deterministic k-means coarse quantizer — the
    * cluster-bounded cost/recall trade of [[topKIvf]] applied to
    * inner-product search. The quantizer and probes run over the
    * NORMALIZED augmented vectors (every augmented corpus vector has
    * norm exactly M, so normalization is a pure rescale and the
    * quantizer sees the cosine geometry it expects); the assignment is
    * the same narrow literal-centroid argmax, carrying the RAW vector
    * along so candidates are rescored with the exact inner product —
    * no join-back against the corpus. Recall < 1 like any IVF; raise
    * `nProbe` (AnnRecallSpec pins the floor at the gate parameters).
    */
  def topKMipsAnnIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nCentroids: Int = 16,
                     nProbe: Int = 4, kmeansIters: Int = 2,
                     nSalts: Int = 1): DataFrame = {
    val (aug0, q0) = mipsAugmented(corpus, queries, idCol, vecCol)
    val aug = if (kmeansIters > 0) graft.Partitioning.pinForReuse(corpus, aug0) else aug0
    val cq = aug.select(col("nn_id"), normalize(col("av")).as("cv"))
    val cent = coarseQuantizer(cq, nCentroids, kmeansIters)
    val assign = aug.select(col("nn_id"), col("cv"),
      graft.functions.CentroidArgmax.argmax(normalize(col("av")), typedLit(cent))
        .as("cluster"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cid").asc)
    val probes = q0.select(col("query_id"), col("qv"),
        normalize(col("aq")).as("nq"), explode(typedLit(cent)).as("ct"))
      .select(col("query_id"), col("qv"), col("nq"),
        col("ct").getField("_1").as("cid"), col("ct").getField("_2").as("centv"))
      .withColumn("sim", dot(col("nq"), col("centv")))
      .withColumn("r", row_number().over(wq)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cluster"))
    val scored = assign.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(scored, k, nSalts)
  }

  /** Distinct (query_id, nn_id) candidate pairs [[topKMipsAnn]] would
    * score at these parameters — the selectivity diagnostic, mirroring
    * [[lshCandidatePairs]] (same contract: recall without a candidate
    * rate is meaningless).
    */
  def mipsCandidatePairs(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, nPlanes: Int, nTables: Int): DataFrame = {
    require(nPlanes >= 1 && nTables >= 1, "nPlanes/nTables must be positive")
    val (c, q) = mipsAugmented(corpus, queries, idCol, vecCol)
    tabled(c.select(col("nn_id"), col("av")), "av", nPlanes, nTables)
      .select(col("nn_id"), col("tbl"), col("bucket"))
      .join(broadcast(tabled(q.select(col("query_id"), col("aq")), "aq", nPlanes, nTables)
        .select(col("query_id"), col("tbl"), col("bucket"))), Seq("tbl", "bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id")).distinct()
  }

  /** `excludeSelf = false` switches off the `nn_id =!= query_id` filter
    * — required when corpus and queries are DIFFERENT relations whose id
    * spaces may overlap coincidentally (bitext mining's src/tgt sides:
    * line-aligned parallel corpora commonly number both sides
    * identically, and the self-exclusion would silently drop exactly
    * the true diagonal pairs). Default true: same-relation kNN, where
    * a vector trivially being its own nearest neighbor is noise.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           k: Int, nSalts: Int = 0, excludeSelf: Boolean = true): DataFrame = {
    val c = graft.Partitioning.spread(corpus)
      .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv"))
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    val paired = c.crossJoin(broadcast(q))
    val scored = (if (excludeSelf) paired.filter(col("nn_id") =!= col("query_id"))
                  else paired)
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(scored, k, salts)
  }

  /** Scalar-quantized (int8) cosine top-k with exact rescoring — the
    * two-tier search an embedding store runs when the corpus lives as
    * 1-byte-per-dimension codes ([[quantizeInt8]]'s storage format, 4×
    * fewer bytes scanned than float32): the COARSE pass scores every
    * corpus vector against the full-precision query using the
    * DEQUANTIZED codes (asymmetric SQ — queries stay float, only the
    * corpus side is compressed), keeps the top `nCandidates` per query,
    * and the RESCORE pass re-reads full-precision vectors for those
    * candidates only and ranks the exact scores. At 100 TB the coarse
    * pass is the only corpus-wide scan and it reads the 4×-smaller code
    * table; the rescore join's probe side is (queries × nCandidates)
    * rows — broadcast-scale by construction.
    *
    * Quantization is per-vector symmetric over the NORMALIZED vector
    * (scale = max|x|/127, q = clamp(floor(x/scale + 0.5))), the exact
    * [[quantizeInt8]] arithmetic, so codes here and that storage op
    * agree. Approximate like any SQ search: recall loss is bounded by
    * the per-dimension error ≤ scale/2; raise `nCandidates` to trade
    * scan cost for recall. Deterministic end-to-end — every float step
    * is fixed-operand-order IEEE the oracle reproduces.
    *
    * @return (query_id, nn_id, score, rank) — score is the EXACT cosine
    */
  def topKSq8(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCandidates: Int = 0, nSalts: Int = 0): DataFrame = {
    val c = graft.Partitioning.spread(corpus)
      .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv"))
    val ma = aggregate(transform(col("cv"), x => abs(x)),
      lit(0.0d), (a, x) => greatest(a, x))
    // dq = dequantized codes; in production the CODES + scale are what
    // the index stores — dq here makes the coarse arithmetic explicit.
    // The serve tail (coarse rank -> candidate-bounded exact rescore)
    // is the shared pqServe, so the two-tier families stay bit-aligned
    val cq = c.withColumn("_scale", ma / lit(127.0d))
      .select(col("nn_id"), transform(col("cv"), x =>
        greatest(lit(-127.0d), least(lit(127.0d),
          floor(x / col("_scale") + lit(0.5d)))) * col("_scale")).as("dq"))
    pqServe(cq, c, queries, idCol, vecCol, k, nCandidates, nSalts)
  }

  /** The typed empty top-k result every index family's empty path
    * returns: schema (query_id, nn_id, score, rank) with the id TYPES
    * inherited from the real relations (the bm25TopK empty-path
    * discipline — a lit() placeholder would pin the wrong type).
    * `idSource` is any relation with the corpus-id column `nn_id`.
    */
  private def emptyTopKResult(idSource: DataFrame, q: DataFrame): DataFrame =
    idSource.select(col("nn_id")).crossJoin(q.select(col("query_id")))
      .select(col("query_id"), col("nn_id"),
        lit(0.0d).as("score"), lit(0).as("rank"))
      .where(lit(false))

  /** Min-L2 codebook assignment as a MAX-dot argmax over AUGMENTED
    * vectors: argmin_c ‖x−c‖² = argmax_c (x·c − ‖c‖²/2), and appending
    * a constant 1.0 to the vector and −‖c‖²/2 to each codeword turns
    * the adjusted score into a plain dot product — so the one fused
    * codegen'd [[graft.functions.CentroidArgmax]] loop serves both the
    * cosine (IVF) and Euclidean (PQ) assignment without a second
    * expression. Bias folds are sequential sums of squares (the
    * [[normalize]] fold order) and ×0.5 is exact, so the oracle's
    * `dot − 0.5·Σc²` reproduces the augmented dot bit-for-bit; ties go
    * to the lowest code id, as everywhere.
    */
  private def argminL2(sv: Column, book: Seq[(Long, Seq[Double])]): Column = {
    val aug = book.map { case (cid, bv) =>
      (cid, bv :+ (-0.5d * bv.foldLeft(0.0d)((a, x) => a + x * x))) }
    graft.functions.CentroidArgmax.argmax(
      concat(sv, array(lit(1.0d))), typedLit(aug))
  }

  /** Product-quantized (PQ, Jégou et al. 2011) cosine top-k with exact
    * rescoring — the third standard embedding-store compression next to
    * [[topKIvf]] (partition pruning) and [[topKSq8]] (scalar codes):
    * each normalized vector splits into `m` subvectors, each subvector
    * is replaced by its nearest codeword from a per-subspace codebook of
    * `nCodes` entries, and the COARSE pass scores queries against the
    * RECONSTRUCTED corpus (asymmetric distance — queries stay
    * full-precision). Storage is m·log2(nCodes) bits per vector (m=4,
    * nCodes=8 → 4 bytes/vector vs 256 for float32-dim-64); the RESCORE
    * pass re-reads full-precision vectors for the top `nCandidates`
    * coarse candidates only and ranks exact cosines.
    *
    * Codebook training is per-subspace deterministic Lloyd's k-means
    * under EUCLIDEAN distance (the PQ objective — subvectors are not
    * unit-norm, so cosine assignment would be wrong): seeds are the
    * `nCodes` lowest-id vectors' subvectors, assignment is [[argminL2]],
    * and the update is the PLAIN mean (no re-normalization) carried in
    * exact integer micro-units — the [[kmeansRefine]] discipline, so
    * training is byte-reproducible across partitionings and engines.
    * Empty codes keep their previous codeword. Each training round is
    * ONE job: a narrow corpus scan exploding (subspace, code, subvector)
    * straight into a map-side-combined groupBy(s, code) whose
    * m×nCodes-row integer result is collected — the corpus is scanned,
    * never shuffled, exactly the [[kmeansRefine]] scale contract.
    *
    * At 100 TB: training cost is `kmeansIters` corpus scans (pay-once —
    * persist the codebooks and codes via the ingest layer for repeated
    * probes); the coarse pass is the only per-query corpus-wide scan and
    * in a persisted deployment reads the 64×-smaller code table; the
    * rescore join's probe side is (queries × nCandidates) rows —
    * broadcast-scale by construction. Recall < 1 like any PQ; raise
    * `nCandidates` (or m) to trade scan cost for recall.
    *
    * @return (query_id, nn_id, score, rank) — score is the EXACT cosine
    */
  def topKPq(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int, nCodes: Int, kmeansIters: Int,
             nCandidates: Int = 0, nSalts: Int = 0): DataFrame = {
    val c = normalizedCorpus(corpus, idCol, vecCol, kmeansIters)
    val books = pqCodebooks(c, m, nCodes, kmeansIters)
    if (books.isEmpty) {
      // empty corpus: no codebooks, no neighbors
      val (q, _) = prepQueries(queries, idCol, vecCol, nSalts = 1)
      return emptyTopKResult(c, q)
    }
    val cq = c.select(col("nn_id"), pqReconstruct(books).as("dq"))
    pqServe(cq, c, queries, idCol, vecCol, k, nCandidates, nSalts)
  }

  /** Train the per-subspace Euclidean codebooks over a normalized corpus
    * `c` (columns nn_id, cv) — the [[topKPq]] front half, shared with
    * [[ingestPq]]. Seeds are the `nCodes` lowest-id vectors' subvectors;
    * each round is ONE job (explode → map-side-combined groupBy(s, code)
    * → m×nCodes-row integer collect) per the [[kmeansRefine]] contract.
    */
  private[graft] def pqCodebooks(c: DataFrame, m: Int, nCodes: Int,
                                 kmeansIters: Int)
      : IndexedSeq[Seq[(Long, Seq[Double])]] = {
    require(m >= 1 && nCodes >= 1 && kmeansIters >= 0,
      "m, nCodes must be positive; kmeansIters non-negative")
    // seeds: the nCodes lowest-id vectors, sliced per subspace — one
    // TakeOrdered job; dim is read from the seeds, ragged input fails
    // the guarded training aggregate below
    val seedRows = c.orderBy(col("nn_id")).limit(nCodes)
      .select(col("nn_id").cast("long"), col("cv")).collect()
    // an empty corpus defines no codebooks — callers degrade to typed
    // empty results / empty index tables (the empty-pipeline contract)
    if (seedRows.isEmpty) return IndexedSeq.empty
    val dim = seedRows.head.getSeq[Double](1).length
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    if (kmeansIters == 0) {
      // with no training rounds the loop's ragged-input guard below
      // never runs — probe loudly here instead (limit-1 short-circuit;
      // a ragged vector would otherwise be coded via silently-truncated
      // dots and return plausible-looking wrong rankings)
      require(c.where(size(col("cv")) =!= lit(dim)).limit(1).count() == 0L,
        s"topKPq requires uniform $dim-dim vectors; found a different length")
    }
    var books: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map { s =>
      seedRows.toSeq.map(r =>
        r.getLong(0) -> r.getSeq[Double](1).slice(s * sub, (s + 1) * sub))
    }
    for (_ <- 0 until kmeansIters) {
      val perS = (0 until m).map { s =>
        struct(lit(s).as("s"),
          argminL2(slice(col("cv"), s * sub + 1, sub), books(s)).as("code"),
          slice(col("cv"), s * sub + 1, sub).as("sv"),
          size(col("cv")).as("fd"))
      }
      // one scan: explode feeds a partially-aggregated groupBy — the
      // exchange carries only the m × nCodes aggregated rows. min/max
      // subvector length AND full-vector length ride along so ragged
      // input fails LOUDLY (the kmeansRefine guard; try_element_at
      // keeps the message ours). The full-vector bound matters: a
      // vector LONGER than dim still slices into full-length
      // subvectors everywhere, so the subvector check alone would pass
      // silently and code it from its first dim dimensions
      val aggCols = Seq(count(lit(1)).as("cnt"),
        min(size(col("sv"))).as("mindim"), max(size(col("sv"))).as("maxdim"),
        min(col("fd")).as("minfd"), max(col("fd")).as("maxfd")) ++
        (0 until sub).map(d =>
          sum(floor(try_element_at(col("sv"), lit(d + 1)) * lit(1000000.0d) + lit(0.5d))
            .cast("long")).as(s"x$d"))
      val rows = c.select(explode(array(perS: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          col("e.sv").as("sv"), col("e.fd").as("fd"))
        .groupBy(col("s"), col("code")).agg(aggCols.head, aggCols.tail: _*)
        .collect()
      rows.foreach { r =>
        require(r.getInt(3) == sub && r.getInt(4) == sub,
          s"topKPq requires uniform $dim-dim vectors; found subvector lengths " +
            s"${r.getInt(3)}..${r.getInt(4)} in subspace ${r.getInt(0)}")
        require(r.getInt(5) == dim && r.getInt(6) == dim,
          s"topKPq requires uniform $dim-dim vectors; found vector lengths " +
            s"${r.getInt(5)}..${r.getInt(6)}")
      }
      val byKey = rows.map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.map { case (cid, old) =>
          byKey.get((s, cid)) match {
            case Some(r) =>
              val cnt = r.getLong(2).toDouble
              cid -> (0 until sub).map(d => r.getLong(7 + d).toDouble / 1000000.0d / cnt)
            case None => cid -> old
          }
        }
      }
    }
    books
  }

  /** The m per-subspace code assignments of the normalized vector in
    * `cv`, as an array<long> — the compressed representation a PQ store
    * persists (m·log2(nCodes) meaningful bits per vector). An
    * empty-corpus index has no books and codes nothing.
    */
  private def pqCodes(books: IndexedSeq[Seq[(Long, Seq[Double])]]): Column =
    if (books.isEmpty) typedLit(Seq.empty[Long])
    else {
      val sub = books.head.head._2.length
      array(books.indices.map(s =>
        argminL2(slice(col("cv"), s * sub + 1, sub), books(s))): _*)
    }

  /** Reconstruction of the full-dim approximation from the normalized
    * vector in `cv` directly (assign + look up in one expression):
    * per subspace, the assigned codeword from the (m × nCodes × sub —
    * literal-sized by definition) codebook map, concatenated in
    * subspace order.
    */
  private def pqReconstruct(books: IndexedSeq[Seq[(Long, Seq[Double])]]): Column = {
    val sub = books.head.head._2.length
    concat(books.indices.map { s =>
      element_at(typedLit(books(s).toMap),
        argminL2(slice(col("cv"), s * sub + 1, sub), books(s)))
    }: _*)
  }

  /** Reconstruction from a PERSISTED codes column (array<long>) — the
    * [[topKPqIngested]] probe path, which never sees full vectors until
    * the rescore.
    */
  private def pqReconstructCodes(books: IndexedSeq[Seq[(Long, Seq[Double])]],
                                 codes: Column): Column =
    concat(books.indices.map { s =>
      element_at(typedLit(books(s).toMap), element_at(codes, s + 1))
    }: _*)

  /** The [[topKPq]] serving tail shared with [[topKPqIngested]]: coarse
    * top-`nCandidates` over the reconstructed relation `cq (nn_id, dq)`,
    * exact rescore against the full-precision relation `cvec (nn_id,
    * cv)` for those candidates only.
    */
  private def pqServe(cq: DataFrame, cvec: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nCandidates: Int, nSalts: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val nCand = if (nCandidates > 0) nCandidates else 4 * k
    require(nCand >= k, "nCandidates must be >= k")
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    val coarse = cq.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("dq"), col("qv"))))
    val cand = topKMerge(coarse, nCand, salts).select(col("query_id"), col("nn_id"))
    pqRescore(cand, cvec, q, k)
  }

  /** The candidate-bounded exact-rescore tail every two-tier family
    * ends in ([[topKSq8]]/[[topKPq]]/[[topKIvfPq]] and their ingested
    * twins): fetch full-precision vectors for the (queries ×
    * nCandidates — broadcast-scale by construction) candidate set only,
    * score exact cosines, rank.
    */
  private def pqRescore(cand: DataFrame, cvec: DataFrame, q: DataFrame,
                        k: Int): DataFrame = {
    val rescored = broadcast(cand).join(cvec, Seq("nn_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(rescored, k, nSalts = 1)
  }

  /** Persist the PQ index ONCE — [[ingestIvf]]'s sibling for the
    * product-quantization family: train the per-subspace codebooks over
    * the corpus, write the COMPRESSED relation `(nn_id, codes)` (the
    * m-codes-per-vector table a 100 TB store actually scans per probe —
    * m·log2(nCodes) bits/vector vs 32·dim for float32) and the
    * full-precision `(nn_id, cv)` rescore table, both bucketed by id
    * (co-locating maintenance sweeps — compaction, dedup audits), plus
    * the `(s, cid, centv)` codebook sidecar (m × nCodes rows by
    * definition). Probes ([[topKPqIngested]]) then skip codebook
    * training (kmeansIters corpus scans) AND per-vector assignment —
    * the coarse pass reads codes and looks up codewords from the
    * sidecar as a plan literal.
    *
    * Determinism contract: codes are a pure function of the frozen
    * codebooks and parquet round-trips longs/doubles bit-exactly, so a
    * probe against the ingested index is BIT-IDENTICAL to [[topKPq]] at
    * the same (m, nCodes, kmeansIters, nCandidates) — the gate shares
    * one oracle. Same single-writer contract as the other ingests.
    */
  def ingestPq(corpus: DataFrame, idCol: String, vecCol: String, table: String,
               m: Int, nCodes: Int, kmeansIters: Int, nBuckets: Int): Unit = {
    val c = normalizedCorpus(corpus, idCol, vecCol, kmeansIters)
    val books = pqCodebooks(c, m, nCodes, kmeansIters)
    // empty corpus: empty tables with the contract schema and an empty
    // sidecar — probes degrade to typed empty results, appends of real
    // rows reject loudly (no quantizer to code against)
    pqIndex.ingest(corpus.sparkSession, table, nBuckets,
      pqIndex.encode(c, books), Seq(codebookRows(corpus.sparkSession, books)))
  }

  /** Append a new batch into an [[ingestPq]] index: the batch is
    * normalized and coded against the FROZEN codebook sidecar (a pure
    * per-vector function, like [[appendLsh]]'s band keys — existing
    * rows never change), so `ingestPq(A); appendPq(B)` equals coding
    * A∪B under books(A) and the appended-index gate shares the
    * train-on-A oracle. Work is batch-sized: no codebook retraining, no
    * corpus re-scan. CODEBOOK DRIFT is the rebuild trigger — frozen
    * codewords quantize a shifted distribution worse (recall, not
    * correctness, degrades); re-run [[ingestPq]] when reconstruction
    * error on fresh batches exceeds tolerance. Batch ids must be
    * distinct from index ids.
    */
  def appendPq(spark: org.apache.spark.sql.SparkSession, table: String,
               batch: DataFrame, idCol: String, vecCol: String): Unit =
    pqIndex.append(spark, table, batch, idCol, vecCol)

  /** Exactly-once streaming maintenance of a PQ index — [[ivfSink]]'s
    * sibling: the first delivered batch builds the index ([[ingestPq]] —
    * codebooks train there and FREEZE), later batches are coded against
    * the frozen sidecar ([[appendPq]], batch-sized), and a RE-delivered
    * batch id is a commit-log no-op. Codebook drift — rising
    * reconstruction error on fresh batches — remains the rebuild
    * trigger.
    */
  def pqSink(table: String, idCol: String, vecCol: String,
             m: Int, nCodes: Int, kmeansIters: Int, nBuckets: Int)
      : (DataFrame, Long) => Unit =
    pqIndex.sink(table, idCol, vecCol)(
      ingestPq(_, idCol, vecCol, table, m, nCodes, kmeansIters, nBuckets))

  /** The codebook sidecar collected back into the literal form every
    * probe embeds in its plan — m × nCodes × sub doubles, bounded by
    * the index parameters.
    */
  private def pqBooksOf(spark: org.apache.spark.sql.SparkSession,
                        table: String): IndexedSeq[Seq[(Long, Seq[Double])]] = {
    val rows = spark.table(s"${table}_codebooks").collect()
    rows.groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1).map { case (_, rs) =>
      rs.toSeq.sortBy(_.getLong(1)).map(r => r.getLong(1) -> r.getSeq[Double](2))
    }
  }

  /** Per-subspace reconstruction-error stats over an [[ingestPq]] index
    * — the CODEBOOK-DRIFT monitor ([[ivfClusterStats]]'s sibling): mean
    * squared error between each stored vector's subvectors and their
    * assigned codewords. Frozen codebooks quantize a shifted
    * distribution worse, so rising MSE after appends is exactly the
    * documented rebuild trigger. The codes and vectors tables are both
    * bucketed by nn_id, so their join is co-located; output is m rows.
    *
    * Float discipline: each (vector, subspace) SSE is a sequential
    * zip-fold (squares are never −0.0, so the 0.0-seeded fold matches
    * the oracle's seedless list_reduce bit-for-bit), micro-quantized
    * per row and summed as exact integers — aggregation-order free;
    * one final division per subspace.
    *
    * @return (s, n_vectors, mse) — one row per subspace
    */
  def pqReconStats(spark: org.apache.spark.sql.SparkSession,
                   table: String): DataFrame = {
    val books = pqBooksOf(spark, table)
    // tombstoned rows are excluded: the drift signal should reflect the
    // LIVE index, not rows a probe can no longer see (snapshot stamps
    // dropped — a duplicate _batch_id column would make the join output
    // ambiguous)
    val joined = graft.ops.Tombstones.filterByParent(spark, table,
      graft.ops.Snapshots.readAsOf(spark, s"${table}_vectors", table, None)
        .join(graft.ops.Snapshots.readAsOf(spark, table, table, None),
          Seq("nn_id")),
      "nn_id")
    if (books.isEmpty)
      return joined.select(lit(0).as("s"), lit(0L).as("n_vectors"),
        lit(0.0d).as("mse")).where(lit(false))
    val sub = books.head.head._2.length
    val perS = books.indices.map { s =>
      val cw = element_at(typedLit(books(s).toMap),
        element_at(col("codes"), s + 1))
      val sse = aggregate(
        zip_with(slice(col("cv"), s * sub + 1, sub), cw,
          (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x)
      struct(lit(s).as("s"),
        floor(sse * lit(1000000.0d) + lit(0.5d)).cast("long").as("ssem"))
    }
    joined.select(explode(array(perS: _*)).as("e"))
      .groupBy(col("e.s").as("s"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("e.ssem")).as("sm"))
      .select(col("s"), col("n_vectors"),
        graft.Num.r6(col("sm").cast("double") / lit(1000000.0d)
          / col("n_vectors").cast("double")).as("mse"))
  }

  /** Serve a query batch against an [[ingestPq]] index: codebooks ride
    * the plan as a literal (collected once from the m × nCodes sidecar),
    * the coarse pass scans the COMPRESSED codes table (the pay-once
    * claim — at 100 TB this is the 64×-smaller scan), and only the
    * candidate-bounded rescore touches full-precision vectors.
    * Bit-identical to [[topKPq]] at the index parameters and this
    * `nCandidates` — the gate shares the oracle.
    */
  def topKPqIngested(spark: org.apache.spark.sql.SparkSession, table: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nCandidates: Int = 0, nSalts: Int = 0,
                     asOf: Option[Long] = None): DataFrame = {
    val books = pqBooksOf(spark, table)
    val cvec = pqIndex.live(spark, table, "_vectors", asOf)
    if (books.isEmpty) {
      // empty-corpus index
      val (q, _) = prepQueries(queries, idCol, vecCol, nSalts = 1)
      return emptyTopKResult(cvec, q)
    }
    val cq = pqIndex.live(spark, table, asOf = asOf)
      .select(col("nn_id"), pqReconstructCodes(books, col("codes")).as("dq"))
    pqServe(cq, cvec, queries, idCol, vecCol, k, nCandidates, nSalts)
  }

  // ------------------------------------------------------------- IVF-PQ

  /** IVF-PQ composed top-k (FAISS IVFADC's shape, Jégou et al. 2011
    * §V): the coarse k-means quantizer PRUNES — a query only examines
    * its `nProbe` nearest cells — and product quantization COMPRESSES
    * what the probe reads inside those cells; survivors exact-rescore
    * from full-precision vectors. This is the standard production ANN
    * store: at 100 TB the probe scans nProbe/nCentroids of the corpus
    * AND reads it at m·log2(nCodes) bits per vector — the two parents'
    * savings multiply.
    *
    * Both quantizers train on the same normalized corpus with the same
    * deterministic machinery ([[coarseQuantizer]] cosine Lloyd's for
    * the cells, [[pqCodebooks]] Euclidean Lloyd's per subspace — one
    * narrow corpus scan per round each, exact-integer means). Codes
    * here quantize the VECTOR, not the residual: residual coding (ADC's
    * refinement) buys recall at the cost of per-cell codebooks; the
    * global-codebook form keeps codes valid across cell reassignment
    * and is what the frozen-sidecar append contract needs. Recall < 1
    * on two axes — raise `nProbe` (cells) or `nCandidates` (rescore
    * pool); AnnRecallSpec pins the floor at the gate parameters.
    *
    * @return (query_id, nn_id, score, rank) — score is the EXACT cosine
    */
  def topKIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
                m: Int, nCodes: Int, kmeansIters: Int,
                nCandidates: Int = 0, nSalts: Int = 0): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val nCand = if (nCandidates > 0) nCandidates else 4 * k
    require(nCand >= k, "nCandidates must be >= k")
    val c = normalizedCorpus(corpus, idCol, vecCol, kmeansIters)
    val cent = coarseQuantizer(c, nCentroids, kmeansIters)
    val books = pqCodebooks(c, m, nCodes, kmeansIters)
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    if (books.isEmpty) return emptyTopKResult(c, q)
    val coded = assignClusters(c, cent)
      .select(col("nn_id"), col("cluster"), pqReconstruct(books).as("dq"))
    val probes = ivfProbes(q, cent, nProbe)
    val coarse = coded.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("dq"), col("qv"))))
    val cand = topKMerge(coarse, nCand, salts).select(col("query_id"), col("nn_id"))
    pqRescore(cand, c, q, k)
  }

  /** The query-side probe relation shared by the IVF family: rank the
    * literal centroids per query (a window over queries × nCentroids
    * rows only — never corpus-scale), keep the `nProbe` nearest.
    */
  private def ivfProbes(q: DataFrame, cent: Seq[(Long, Seq[Double])],
                        nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cid").asc)
    q.select(col("query_id"), col("qv"), explode(typedLit(cent)).as("ct"))
      .select(col("query_id"), col("qv"),
        col("ct").getField("_1").as("cid"), col("ct").getField("_2").as("centv"))
      .withColumn("sim", dot(col("qv"), col("centv")))
      .withColumn("r", row_number().over(wq)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cluster"))
  }

  /** Persist the composed IVF-PQ index ONCE: the cluster-bucketed
    * `(nn_id, cluster, codes)` table (a probe reads only its nProbe
    * cells' buckets, and each row is m codes, not dim floats — the
    * multiplied saving), the id-bucketed full-precision rescore table,
    * and BOTH sidecars (centroids + codebooks). Probes are
    * bit-identical to [[topKIvfPq]] at the index parameters (pure
    * functions of the frozen sidecars; parquet round-trips exactly) —
    * the gate shares one oracle. Same single-writer contract; a
    * rebuild clears any tombstone set.
    */
  def ingestIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                  table: String, nCentroids: Int, m: Int, nCodes: Int,
                  kmeansIters: Int, nBuckets: Int): Unit = {
    val c = normalizedCorpus(corpus, idCol, vecCol, kmeansIters)
    val cent = coarseQuantizer(c, nCentroids, kmeansIters)
    val books = pqCodebooks(c, m, nCodes, kmeansIters)
    val spark = corpus.sparkSession
    ivfpqIndex.ingest(spark, table, nBuckets, ivfpqIndex.encode(c, (cent, books)),
      Seq(centroidRows(spark, cent), codebookRows(spark, books)))
  }

  /** Append a batch into an [[ingestIvfPq]] index: assignment and codes
    * are pure per-vector functions of the two FROZEN sidecars, so the
    * work is batch-sized and `ingestIvfPq(A); appendIvfPq(B)` equals
    * coding/assigning A∪B under A's quantizers. Both drift monitors
    * apply ([[ivfClusterStats]] for cells, [[pqReconStats]]'s analogue
    * via a rebuild when reconstruction error rises). Batch ids must be
    * distinct from live index ids, and must not be tombstoned
    * (re-admission requires a purge or rebuild — the
    * [[graft.ops.Tombstones]] contract).
    */
  def appendIvfPq(spark: org.apache.spark.sql.SparkSession, table: String,
                  batch: DataFrame, idCol: String, vecCol: String): Unit =
    ivfpqIndex.append(spark, table, batch, idCol, vecCol)

  /** Serve a query batch against an [[ingestIvfPq]] index: both
    * sidecars ride the plan as literals, the probe reads ONLY the
    * nProbe probed cells from the cluster-bucketed codes table
    * (reconstructing codewords in place), and full vectors appear only
    * in the candidate-bounded rescore. Tombstoned ids are excluded on
    * both the coarse and rescore reads. Bit-identical to [[topKIvfPq]]
    * at the index parameters.
    */
  def topKIvfPqIngested(spark: org.apache.spark.sql.SparkSession, table: String,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int, nCandidates: Int = 0,
                        nSalts: Int = 0, asOf: Option[Long] = None): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val nCand = if (nCandidates > 0) nCandidates else 4 * k
    require(nCand >= k, "nCandidates must be >= k")
    val cent = centroidsOf(spark, table)
    val books = pqBooksOf(spark, table)
    val cvec = ivfpqIndex.live(spark, table, "_vectors", asOf)
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    if (books.isEmpty || cent.isEmpty) return emptyTopKResult(cvec, q)
    val probes = ivfProbes(q, cent, nProbe)
    // literal CELL PRUNING: the probed cluster ids are (queries ×
    // nProbe)-bounded by construction, so collecting them costs one
    // tiny job and turns the cell restriction into an IN literal the
    // bucketed scan can prune FILES with — a runtime join relation
    // cannot prune a Spark bucketed scan, a literal can. Semantics
    // unchanged (the join would drop the same rows); this moves the
    // drop from post-scan to the scan itself.
    val cells = probedCells(probes)
    val coded = ivfpqIndex.live(spark, table, asOf = asOf)
      .where(col("cluster").isin(cells: _*))
      .select(col("nn_id"), col("cluster"),
        pqReconstructCodes(books, col("codes")).as("dq"))
    val coarse = coded.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("dq"), col("qv"))))
    val cand = topKMerge(coarse, nCand, salts).select(col("query_id"), col("nn_id"))
    pqRescore(cand, cvec, q, k)
  }

  /** The distinct probed cluster ids as driver literals — bounded by
    * min(nCentroids, queries × nProbe) by construction.
    */
  private def probedCells(probes: DataFrame): Seq[Any] =
    probes.select(col("cluster")).distinct().collect().map(_.get(0)).toSeq

  /** Exactly-once streaming maintenance of an IVF-PQ index — the sixth
    * family's sink, same shape as [[pqSink]]/[[ivfSink]]: the first
    * delivered batch builds the index (BOTH quantizers train there and
    * FREEZE), later batches assign + code against the frozen sidecars
    * ([[appendIvfPq]], batch-sized), a RE-delivered batch id is a
    * commit-log no-op, and an empty first delivery heals.
    */
  def ivfpqSink(table: String, idCol: String, vecCol: String,
                nCentroids: Int, m: Int, nCodes: Int, kmeansIters: Int,
                nBuckets: Int): (DataFrame, Long) => Unit =
    ivfpqIndex.sink(table, idCol, vecCol)(ingestIvfPq(_, idCol, vecCol, table,
      nCentroids, m, nCodes, kmeansIters, nBuckets))

  /** Logically delete ids from an [[ingestIvfPq]] index (probes exclude
    * them immediately; [[compactIvfPq]] drops them physically). Trained
    * state stays frozen — the append contract's mirror.
    */
  def deleteFromIvfPq(spark: org.apache.spark.sql.SparkSession, table: String,
                      ids: DataFrame): Unit = ivfpqIndex.delete(spark, table, ids)

  /** Physically drop tombstoned rows from both IVF-PQ tables and clear
    * the tombstone set — a per-bucket local rewrite on each.
    */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession,
                   table: String): Unit = ivfpqIndex.compact(spark, table)

  // ------------------------------------------------ residual-coded IVF-PQ

  /** RESIDUAL-coded IVF-PQ top-k — the recall-per-byte refinement
    * [[topKIvfPq]]'s scaladoc names as ADC's standard production form
    * (Jégou et al. 2011 §V's by-residual encoding; per-cell local
    * codebooks as in LOPQ, Kalantidis & Avrithis CVPR 2014): instead of
    * quantizing the raw vector with one global codebook, each vector
    * encodes its RESIDUAL r = v − centroid(cell) with its OWN CELL's
    * per-subspace codebooks. Residuals concentrate near the origin
    * (most of a vector's energy is explained by its cell centroid), so
    * the same (m, nCodes) budget spends its codewords on a much tighter
    * distribution — reconstruction dq = centroid + codewords is
    * strictly more faithful, and coarse-rank recall rises at equal
    * compression (AnnRecallSpec pins the floor strictly above the
    * global-codebook gate's at identical parameters).
    *
    * The trade, honestly: codebook state grows from m × nCodes to
    * nCentroids × m × nCodes codewords, and a code is only meaningful
    * WITH its cell — cell reassignment invalidates codes, which is why
    * the frozen-sidecar append contract matters even more here. At the
    * gate parameters the books are a plan literal (16 × 4 × 8 × 16
    * doubles); at production cell counts (tens of thousands) the
    * codebook is a cluster-keyed TABLE joined against the
    * cluster-bucketed codes scan — co-located by the same bucketing,
    * the literal form is the bounded local-mode stand-in (the
    * [[kmeansRefine]] collect discipline, one cell-sized factor wider).
    *
    * Training is the [[pqCodebooks]] machinery with the cell in every
    * key: per (cell, subspace), seeds are the nCodes lowest-id members'
    * residual subvectors (a cell with fewer members gets fewer
    * codewords), each Lloyd's round is ONE narrow scan exploding
    * (cell, subspace, code, residual-subvector) into a
    * map-side-combined groupBy whose ≤ nCentroids·m·nCodes integer
    * rows collect to the driver; assignment is the argmax-dot form of
    * argmin-L2 with the −½‖c‖² bias folded in ([[argminL2]]'s identity,
    * iterated in ascending cid so ties break low). Residual subtraction
    * and centroid re-addition are single IEEE ops — correctly rounded,
    * byte-reproducible on any engine (the oracle replays both chains
    * verbatim).
    *
    * @return (query_id, nn_id, score, rank) — score is the EXACT cosine
    */
  def topKIvfPqResidual(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
                        m: Int, nCodes: Int, kmeansIters: Int,
                        nCandidates: Int = 0, nSalts: Int = 0): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    require(m >= 1 && nCodes >= 1 && kmeansIters >= 0,
      "m, nCodes must be positive; kmeansIters non-negative")
    val nCand = if (nCandidates > 0) nCandidates else 4 * k
    require(nCand >= k, "nCandidates must be >= k")
    val c = normalizedCorpus(corpus, idCol, vecCol, math.max(kmeansIters, 1))
    val cent = coarseQuantizer(c, nCentroids, kmeansIters)
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    if (cent.isEmpty) return emptyTopKResult(c, q)
    val (resid, books) =
      trainResidual(c, cent, m, nCodes, kmeansIters, "topKIvfPqResidual")
    val centMap = typedLit(cent.toMap)
    val sub = cent.head._2.length / m
    // reconstruction: centroid + per-subspace codeword of the OWN cell's
    // codebook — assign + look up in one expression (pqReconstruct's
    // shape, cell-keyed)
    val dqr = concat(books.indices.map { s =>
      val plain = typedLit(books(s).map { case (cl, book) =>
        cl -> book.map { case (cid, v, _) => cid -> v }.toMap })
      element_at(element_at(plain, col("cluster")),
        residArgmin(slice(col("rv"), s * sub + 1, sub), col("cluster"), books(s)))
    }: _*)
    val coded = resid.select(col("nn_id"), col("cluster"),
      zip_with(element_at(centMap, col("cluster")), dqr, (a, b) => a + b).as("dq"))
    val probes = ivfProbes(q, cent, nProbe)
    val coarse = coded.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("dq"), col("qv"))))
    val cand = topKMerge(coarse, nCand, salts).select(col("query_id"), col("nn_id"))
    pqRescore(cand, c, q, k)
  }

  /** Persist the residual-coded IVF-PQ index ONCE — [[ingestIvfPq]]'s
    * sibling for the by-residual form: the cluster-bucketed
    * `(nn_id, cluster, codes)` table, the id-bucketed full-precision
    * rescore table, the centroid sidecar, and the PER-CELL codebook
    * sidecar `(cluster, s, cid, centv)` — nCentroids × m × nCodes rows,
    * a literal at gate parameters and a cluster-keyed (co-locatable)
    * table at production cell counts, the documented trade. Probes are
    * bit-identical to [[topKIvfPqResidual]] at the index parameters
    * (codes are pure functions of the two frozen sidecars; parquet
    * round-trips exactly) — the gate shares the per-run oracle. Same
    * single-writer contract; rebuild clears tombstones and restarts
    * the snapshot timeline.
    */
  def ingestIvfPqResidual(corpus: DataFrame, idCol: String, vecCol: String,
                          table: String, nCentroids: Int, m: Int, nCodes: Int,
                          kmeansIters: Int, nBuckets: Int): Unit = {
    val spark = corpus.sparkSession
    val c = normalizedCorpus(corpus, idCol, vecCol, math.max(kmeansIters, 1))
    val cent = coarseQuantizer(c, nCentroids, kmeansIters)
    // empty corpus: contract-schema empty tables + empty sidecars —
    // probes degrade to typed empty results, appends reject loudly
    val books =
      if (cent.isEmpty) IndexedSeq.empty[CellBook]
      else trainResidual(c, cent, m, nCodes, kmeansIters, "ingestIvfPqResidual")._2
    val sub = cent.headOption.fold(0)(_._2.length / m)
    import spark.implicits._
    // the cellbooks sidecar is bucketed by the codes table's OWN cluster
    // key: the table-path probe's (cluster, s, cid) lookup join then
    // co-locates with the cluster-bucketed codes scan instead of
    // shuffling it
    rivfpqIndex.ingest(spark, table, nBuckets,
      rivfpqIndex.encode(c, ResidualState(cent, residCodes(_, books, sub), false)),
      Seq(centroidRows(spark, cent),
        books.zipWithIndex.flatMap { case (book, s) =>
          book.toSeq.flatMap { case (cl, cws) =>
            cws.map { case (cid, v, _) => (cl, s, cid, v) } }
        }.toDF("cluster", "s", "cid", "centv")))
  }

  /** The frozen state a residual append codes against: the centroids,
    * the residual coder `(nn_id, cluster, rv) → (nn_id, cluster,
    * codes)`, and whether the quantizer is empty.
    */
  private[graft] final case class ResidualState(cent: Centroids,
                                                code: DataFrame => DataFrame,
                                                untrained: Boolean)

  /** Load a residual index's sidecars. The coder switches on the
    * cellbooks size, as the probe does: the literal fold at or below
    * `maxLiteralBookRows` rows (one collect, zero joins), the
    * codebook-TABLE join above it — appends are where a production
    * deployment codes every arriving batch, so the design-parameter-
    * sized collect has to go here too. Bit-identical codes
    * (AppendMaintenanceSpec pins the table parity). A centroid carried
    * through an EMPTY cell at ingest (the k-means empty-cell rule keeps
    * it) trained no per-cell codebook: a batch vector assigned there
    * would get NULL codes and silently never surface in coarse ranking,
    * so either coder rejects it loudly; the fix is a rebuild, whose
    * seeds then cover the cell.
    */
  private def residualLoad(maxLiteralBookRows: Int)(
      spark: org.apache.spark.sql.SparkSession, table: String): ResidualState = {
    val cent = centroidsOf(spark, table)
    val cbRows = spark.table(s"${table}_cellbooks")
      .limit(maxLiteralBookRows + 1).collect()
    val emptyCellMsg =
      s"appendIvfPqResidual: index '$table' carries a centroid whose cell " +
        "was empty at ingest (no per-cell codebook) and the batch assigns " +
        "to it — rebuild with ingestIvfPqResidual so the books cover it"
    def code(resid: DataFrame): DataFrame =
      if (cbRows.length <= maxLiteralBookRows) {
        val books = cellBooksFromRows(cbRows)
        require(resid.where(!col("cluster")
            .isInCollection(books.head.keySet.toSeq))
          .limit(1).count() == 0L, emptyCellMsg)
        residCodes(resid, books, cent.head._2.length / books.length)
      } else {
        val cb = spark.table(s"${table}_cellbooks")
        require(resid.join(cb.select(col("cluster")).distinct(),
            Seq("cluster"), "left_anti").limit(1).count() == 0L, emptyCellMsg)
        val m = cb.agg(max(col("s"))).first().getInt(0) + 1
        residCodesFromTable(spark, table, resid, m, cent.head._2.length / m)
      }
    ResidualState(cent, code, cent.isEmpty || cbRows.isEmpty)
  }

  /** The residual index: cluster-bucketed codes (empty-corpus rows keep
    * the contract schema), id-bucketed rescore vectors, the centroid
    * and per-cell codebook sidecars.
    */
  private[graft] val rivfpqIndex = PersistedIndex[ResidualState](
    "IvfPqResidual", "nn_id",
    tables = Seq("" -> "cluster", "_vectors" -> "nn_id"),
    sidecars = Seq("_centroids" -> None, "_cellbooks" -> Some("cluster")),
    prepare = vectorRows, load = residualLoad(65536),
    encode = (c, st) => Seq(
      if (st.cent.isEmpty) c.select(col("nn_id"), lit(0L).as("cluster"),
        typedLit(Seq.empty[Long]).as("codes"))
      else st.code(residualsOf(c, st.cent)),
      c.select(col("nn_id"), col("cv"))),
    untrained = _.untrained, dim = _.cent.headOption.map(_._2.length),
    trainedOn = Some("_cellbooks"))

  /** Train the per-cell residual codebooks over `c` under the non-empty
    * `cent`, after the uniform-dimension guard: ragged input would slice
    * into silently-truncated residuals (the [[pqCodebooks]] guard,
    * applied once up front — limit-1 short-circuit). Returns the
    * residual relation with the books.
    */
  private def trainResidual(c: DataFrame, cent: Centroids, m: Int, nCodes: Int,
                            kmeansIters: Int, op: String)
      : (DataFrame, IndexedSeq[CellBook]) = {
    val dim = cent.head._2.length
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    require(c.where(size(col("cv")) =!= lit(dim)).limit(1).count() == 0L,
      s"$op requires uniform $dim-dim vectors; found a different length")
    val resid = residualsOf(c, cent)
    (resid, residualCodebooks(resid, m, nCodes, kmeansIters, dim))
  }

  /** `(nn_id, cv, cluster, rv)`: the residual against the OWN cell's
    * centroid — one IEEE subtraction per dimension (pinned across the
    * training scans by normalizedCorpus' pinForReuse).
    */
  private def residualsOf(c: DataFrame, cent: Centroids): DataFrame =
    assignClusters(c, cent).withColumn("rv", zip_with(col("cv"),
      element_at(typedLit(cent.toMap), col("cluster")), (a, b) => a - b))

  /** Code a residual relation with the literal per-cell books. */
  private def residCodes(resid: DataFrame, books: IndexedSeq[CellBook],
                         sub: Int): DataFrame =
    resid.select(col("nn_id"), col("cluster"),
      array(books.indices.map(s =>
        residArgmin(slice(col("rv"), s * sub + 1, sub), col("cluster"),
          books(s))): _*).as("codes"))

  /** The per-cell codebook sidecar collected back into the
    * [[CellBook]]-per-subspace literal form (biases recomputed — exact
    * doubles, same fold as training). Used by the APPEND coder (which
    * needs the whole book to code its batch) and by the literal-path
    * probe below its size threshold; the probe's scale form joins the
    * TABLE instead ([[residReconFromTable]]) and never collects.
    */
  private def cellBooksFromRows(rows: Array[org.apache.spark.sql.Row])
      : IndexedSeq[CellBook] = {
    if (rows.isEmpty) return IndexedSeq.empty
    val m = rows.map(_.getInt(1)).max + 1
    (0 until m).map { s =>
      rows.filter(_.getInt(1) == s).groupBy(_.getLong(0)).map { case (cl, rs) =>
        cl -> rs.toSeq.sortBy(_.getLong(2)).map { r =>
          val v = r.getSeq[Double](3)
          (r.getLong(2), v, -0.5d * v.foldLeft(0.0d)((a, x) => a + x * x))
        }
      }.toMap
    }
  }

  /** Reconstruct `dq = centroid + per-cell codewords` for a stamped
    * codes relation `(nn_id, cluster, codes)` by JOINING the
    * cluster-keyed `_cellbooks` TABLE — the production serving form the
    * literal path stands in for below its size threshold: per-cell
    * books grow as nCentroids × m × nCodes (a DESIGN parameter users
    * crank), and collecting them to a plan literal makes the driver the
    * bottleneck exactly where the index is sized for scale. Shape: the
    * codes scan posexplodes into (cluster, s, cid) lookups — the
    * cellbooks table is bucketed by the SAME cluster key as the codes
    * table, so the join co-locates instead of broadcasting
    * driver-collected state; codewords regroup per row ordered by
    * subspace (array_sort on the (s, cw) struct — deterministic), and
    * the centroid re-addition joins the nCentroids-row `_centroids`
    * sidecar (broadcast). Arithmetic is element-for-element the literal
    * path's: flatten(sorted codewords) IS concat(cw_0..cw_{m-1}), and
    * parquet round-trips the doubles exactly — outputs are
    * bit-identical (AnnRecallSpec pins it).
    *
    * Every stored code has its (cluster, s, cid) book row by
    * construction — ingest trains books over exactly the cells it
    * codes, and append rejects uncovered cells loudly — so the inner
    * join drops nothing.
    */
  private def residReconFromTable(spark: org.apache.spark.sql.SparkSession,
                                  table: String,
                                  codes: DataFrame): DataFrame = {
    val cb = spark.table(s"${table}_cellbooks")
      .select(col("cluster"), col("s"), col("cid"), col("centv").as("cw"))
    val perS = codes
      .select(col("nn_id"), col("cluster"),
        posexplode(col("codes")).as(Seq("s", "cid")))
    val dvr = perS.join(cb, Seq("cluster", "s", "cid"))
      .groupBy(col("nn_id"), col("cluster"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("cw")))),
        e => e.getField("cw"))).as("dvr"))
    dvr.join(broadcast(spark.table(s"${table}_centroids")
        .select(col("cid").as("cluster"), col("centv"))), Seq("cluster"))
      .select(col("nn_id"), col("cluster"),
        zip_with(col("centv"), col("dvr"), (a, b) => a + b).as("dq"))
  }

  /** Per-CELL reconstruction-error stats over an [[ingestIvfPqResidual]]
    * index — [[pqReconStats]]'s cell-keyed sibling and the rebuild
    * trigger [[appendIvfPqResidual]] promises: mean squared error
    * between each stored vector and its reconstruction
    * centroid + per-cell codewords. Residual books are MORE
    * drift-sensitive than global ones (a code is only meaningful WITH
    * its cell), so the monitor is per cell: an out-of-distribution
    * append concentrates its error in the cells it lands in, and those
    * rows rising is exactly the rebuild signal. Reconstruction goes
    * through the codebook-TABLE join ([[residReconFromTable]]) — the
    * monitor never collects books, so it holds at production cell
    * counts.
    *
    * Float discipline as on [[pqReconStats]]: per-row SSE is a
    * 0.0-seeded fold over squares (never −0.0, so it matches the
    * oracle's seedless list_reduce bit-for-bit), micro-quantized and
    * summed as exact integers, one final division per cell. Tombstoned
    * rows are excluded — drift should reflect the LIVE index. Cells
    * with no live rows are absent (no reconstruction to measure;
    * [[ivfClusterStats]] is the emptied-cell monitor).
    *
    * @return (cluster, n_vectors, mse) — one row per live cell
    */
  def ivfPqResidualCellStats(spark: org.apache.spark.sql.SparkSession,
                             table: String): DataFrame = {
    val live = rivfpqIndex.live(spark, table)
    val vec = rivfpqIndex.live(spark, table, "_vectors")
    val sse = aggregate(
      zip_with(col("cv"), col("dq"), (a, b) => (a - b) * (a - b)),
      lit(0.0d), (acc, x) => acc + x)
    residReconFromTable(spark, table, live)
      .join(vec, Seq("nn_id"))
      .select(col("cluster"),
        floor(sse * lit(1000000.0d) + lit(0.5d)).cast("long").as("ssem"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("ssem")).as("sm"))
      .select(col("cluster"), col("n_vectors"),
        graft.Num.r6(col("sm").cast("double") / lit(1000000.0d)
          / col("n_vectors").cast("double")).as("mse"))
  }

  /** Append a batch into an [[ingestIvfPqResidual]] index: assignment
    * and residual codes are pure per-vector functions of the two FROZEN
    * sidecars, so work is batch-sized and `ingest(A); append(B)` equals
    * coding A∪B under A's quantizers — with the residual-specific
    * caveat made explicit: a code is only meaningful WITH its cell, so
    * the frozen-centroid contract is what keeps old codes valid. A
    * batch vector assigned to a cell that was EMPTY at ingest (k-means
    * empty-cell carryover keeps the centroid, but no codebook trained
    * there) is rejected loudly — coding it would produce NULL codes
    * that silently vanish from coarse ranking. Drift monitors:
    * [[ivfPqResidualCellStats]] (per-cell reconstruction MSE) is the
    * rebuild trigger, [[ivfClusterStats]]' sibling.
    */
  def appendIvfPqResidual(spark: org.apache.spark.sql.SparkSession,
                          table: String, batch: DataFrame, idCol: String,
                          vecCol: String,
                          maxLiteralBookRows: Int = 65536): Unit =
    rivfpqIndex.copy(load = residualLoad(maxLiteralBookRows))
      .append(spark, table, batch, idCol, vecCol)

  /** Code a residual relation `(nn_id, cluster, rv)` by JOINING the
    * cluster-keyed `_cellbooks` TABLE — [[residReconFromTable]]'s
    * sibling for the APPEND side: per (row, subspace) the batch
    * explodes into its m residual slices, joins the own cell's nCodes
    * candidate codewords (co-bucketed on cluster), and takes the argmax
    * of the bias-adjusted dot `dot(sv, c) − ½‖c‖²` with ties to the
    * lowest cid — max over the (adj, −cid) struct, exactly the literal
    * fold's strict-improvement-in-ascending-cid rule. The bias is
    * recomputed in-plan with the same 0.0-seeded left-to-right
    * square-sum fold the driver-side collect uses, so every adjusted
    * score — and therefore every code — is bit-identical to the
    * literal path. Work is batch × m × nCodes rows, never driver-side.
    */
  private def residCodesFromTable(spark: org.apache.spark.sql.SparkSession,
                                  table: String, resid: DataFrame,
                                  m: Int, sub: Int): DataFrame = {
    val cb = spark.table(s"${table}_cellbooks")
      .select(col("cluster"), col("s"), col("cid"), col("centv"))
    val perS = resid.select(col("nn_id"), col("cluster"),
      posexplode(array((0 until m).map(s =>
        slice(col("rv"), s * sub + 1, sub)): _*)).as(Seq("s", "sv")))
    val adj = dot(col("sv"), col("centv")) +
      lit(-0.5d) * aggregate(transform(col("centv"), z => z * z),
        lit(0.0d), (a, x) => a + x)
    perS.join(cb, Seq("cluster", "s"))
      .groupBy(col("nn_id"), col("cluster"), col("s"))
      .agg(max(struct(adj.as("adj"), (-col("cid")).as("nc"))).as("best"))
      .groupBy(col("nn_id"), col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("s"),
          (-col("best.nc")).as("code")))),
        e => e.getField("code")).as("codes"))
      .select(col("nn_id"), col("cluster"), col("codes"))
  }

  /** Serve a query batch against an [[ingestIvfPqResidual]] index: the
    * probe reads only the probed cells (IN-literal file pruning, as on
    * [[topKIvfPqIngested]]), reconstruction is centroid + per-cell
    * codewords in place, survivors exact-rescore. Bit-identical to
    * [[topKIvfPqResidual]] at the index parameters.
    *
    * TWO reconstruction paths, switched on the cellbooks sidecar's
    * size: at or below `maxLiteralBookRows` rows the books collect once
    * and ride the plan as a literal (the bounded local form — one
    * driver round-trip, zero joins); above it the probe JOINS the
    * cluster-keyed `_cellbooks` TABLE ([[residReconFromTable]]) and the
    * driver never sees a codeword — the production form for cell
    * counts where nCentroids × m × nCodes is no longer plan-literal
    * material. The switch probe is `limit(threshold + 1).collect()`,
    * so the literal path pays exactly its old single collect and the
    * table path collects nothing book-sized. Outputs are bit-identical
    * (same doubles, same addition order — AnnRecallSpec pins it);
    * `maxLiteralBookRows = 0` forces the table path, which the
    * booktable gate runs against the shared oracle.
    */
  def topKIvfPqResidualIngested(spark: org.apache.spark.sql.SparkSession,
                                table: String, queries: DataFrame,
                                idCol: String, vecCol: String, k: Int,
                                nProbe: Int, nCandidates: Int = 0,
                                nSalts: Int = 0,
                                asOf: Option[Long] = None,
                                maxLiteralBookRows: Int = 65536): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be positive")
    val nCand = if (nCandidates > 0) nCandidates else 4 * k
    require(nCand >= k, "nCandidates must be >= k")
    val cent = centroidsOf(spark, table)
    val cbRows = spark.table(s"${table}_cellbooks")
      .limit(maxLiteralBookRows + 1).collect()
    val cvec = rivfpqIndex.live(spark, table, "_vectors", asOf)
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    if (cent.isEmpty || cbRows.isEmpty) return emptyTopKResult(cvec, q)
    val probes = ivfProbes(q, cent, nProbe)
    val cells = probedCells(probes)
    val codesLive = rivfpqIndex.live(spark, table, asOf = asOf)
      .where(col("cluster").isin(cells: _*))
    val coded =
      if (cbRows.length <= maxLiteralBookRows) {
        val books = cellBooksFromRows(cbRows)
        val centMap = typedLit(cent.toMap)
        val dqr = concat(books.indices.map { s =>
          val plain = typedLit(books(s).map { case (cl, book) =>
            cl -> book.map { case (cid, v, _) => cid -> v }.toMap })
          element_at(element_at(plain, col("cluster")),
            element_at(col("codes"), s + 1))
        }: _*)
        codesLive.select(col("nn_id"), col("cluster"),
          zip_with(element_at(centMap, col("cluster")), dqr,
            (a, b) => a + b).as("dq"))
      } else residReconFromTable(spark, table, codesLive)
    val coarse = coded.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("dq"), col("qv"))))
    val cand = topKMerge(coarse, nCand, salts).select(col("query_id"), col("nn_id"))
    pqRescore(cand, cvec, q, k)
  }

  /** Exactly-once streaming maintenance of a residual IVF-PQ index —
    * the seventh family's sink, [[ivfpqSink]]'s shape: batch 0 trains
    * BOTH quantizers (cells + per-cell residual books) and freezes
    * them, later batches assign + code against the frozen sidecars,
    * replays are commit-log no-ops, and an empty first delivery heals
    * by re-ingesting on the first non-empty one.
    */
  def ivfpqResidualSink(table: String, idCol: String, vecCol: String,
                        nCentroids: Int, m: Int, nCodes: Int,
                        kmeansIters: Int, nBuckets: Int)
      : (DataFrame, Long) => Unit =
    rivfpqIndex.sink(table, idCol, vecCol)(ingestIvfPqResidual(_, idCol,
      vecCol, table, nCentroids, m, nCodes, kmeansIters, nBuckets))

  /** Logical delete / physical compaction for a residual IVF-PQ index —
    * the [[deleteFromIvfPq]]/[[compactIvfPq]] verbs on the same two
    * tables; frozen sidecars stay, as everywhere.
    */
  def deleteFromIvfPqResidual(spark: org.apache.spark.sql.SparkSession,
                              table: String, ids: DataFrame): Unit =
    rivfpqIndex.delete(spark, table, ids)

  def compactIvfPqResidual(spark: org.apache.spark.sql.SparkSession,
                           table: String): Unit =
    rivfpqIndex.compact(spark, table)

  /** Per-cell residual codebook: cluster → Seq of (cid, codeword,
    * −½‖codeword‖²) in ascending cid order — the augmented-bias form
    * [[residArgmin]] folds over.
    */
  private type CellBook = Map[Long, Seq[(Long, Seq[Double], Double)]]

  /** argmin-L2 over the row's OWN cell's codebook, as the argmax of
    * dot(sv, c) − ½‖c‖² ([[argminL2]]'s identity): the book rides the
    * plan as a cluster-keyed literal map, and the fold visits codewords
    * in ascending cid with a STRICT improvement test, so ties break to
    * the lowest cid — the oracle's `ORDER BY adj DESC, cid ASC` rule.
    */
  private def residArgmin(sv: Column, cluster: Column, book: CellBook): Column = {
    val lut = typedLit(book)
    aggregate(element_at(lut, cluster),
      struct(lit(Double.NegativeInfinity).as("sc"), lit(-1L).as("cid")),
      (acc, e) => {
        val adj = dot(sv, e.getField("_2")) + e.getField("_3")
        when(adj > acc.getField("sc"),
          struct(adj.as("sc"), e.getField("_1").as("cid"))).otherwise(acc)
      }).getField("cid")
  }

  /** Train the per-(cell, subspace) Euclidean codebooks over the
    * residual relation `resid (nn_id, cluster, rv)` — [[pqCodebooks]]
    * with the cell in every key. Returns one [[CellBook]] per subspace.
    * Seeds: per cell, the nCodes lowest-id members' residual subvectors
    * (one bounded window-rank collect — ≤ nCentroids × nCodes rows);
    * each round: one narrow scan, a map-side-combined groupBy(cluster,
    * s, code), a ≤ nCentroids·m·nCodes-row integer collect, exact
    * micro-unit means. Cells that lose all members in a round keep
    * their previous codewords (the kmeansRefine rule).
    */
  private def residualCodebooks(resid: DataFrame, m: Int,
                                nCodes: Int, kmeansIters: Int, dim: Int)
      : IndexedSeq[CellBook] = {
    val sub = dim / m
    val wSeed = Window.partitionBy(col("cluster")).orderBy(col("nn_id").asc)
    val seedRows = resid.withColumn("_rn", row_number().over(wSeed))
      .filter(col("_rn") <= nCodes)
      .select(col("cluster"), col("nn_id").cast("long"), col("rv"))
      .collect()
    def withBias(v: Seq[Double]): (Seq[Double], Double) =
      (v, -0.5d * v.foldLeft(0.0d)((a, x) => a + x * x))
    var books: IndexedSeq[CellBook] = (0 until m).map { s =>
      seedRows.groupBy(_.getLong(0)).map { case (cl, rs) =>
        cl -> rs.toSeq.sortBy(_.getLong(1)).map { r =>
          val (v, b) = withBias(r.getSeq[Double](2).slice(s * sub, (s + 1) * sub))
          (r.getLong(1), v, b)
        }
      }.toMap
    }
    for (_ <- 0 until kmeansIters) {
      val perS = (0 until m).map { s =>
        struct(lit(s).as("s"),
          residArgmin(slice(col("rv"), s * sub + 1, sub), col("cluster"),
            books(s)).as("code"),
          slice(col("rv"), s * sub + 1, sub).as("sv"))
      }
      val aggCols = Seq(count(lit(1)).as("cnt")) ++ (0 until sub).map(d =>
        sum(floor(element_at(col("sv"), d + 1) * lit(1000000.0d) + lit(0.5d))
          .cast("long")).as(s"x$d"))
      val rows = resid.select(col("cluster"), explode(array(perS: _*)).as("e"))
        .select(col("cluster"), col("e.s").as("s"), col("e.code").as("code"),
          col("e.sv").as("sv"))
        .groupBy(col("cluster"), col("s"), col("code"))
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val byKey = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)) -> r).toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.map { case (cl, cws) =>
          cl -> cws.map { case (cid, old, oldBias) =>
            byKey.get((cl, s, cid)) match {
              case Some(r) =>
                val cnt = r.getLong(3).toDouble
                val (v, b) = withBias(
                  (0 until sub).map(d => r.getLong(4 + d).toDouble / 1000000.0d / cnt))
                (cid, v, b)
              case None => (cid, old, oldBias)
            }
          }
        }
      }
    }
    books
  }

  // ------------------------------------------- DELETE (tombstone) verbs

  /** Logically delete ids from an [[ingestIvf]] index: the tombstone
    * set is takedown-list work only, probes exclude the ids
    * immediately, and [[compactIvf]] drops the rows physically. The
    * frozen centroids stay — the append contract's mirror — so
    * `ingestIvf(A∪B); deleteFromIvf(B)` serves A's rows under
    * centroids(A∪B): with kmeansIters = 0 and B ids above A's seed
    * range that IS `ingestIvf(A)` bit-for-bit (the gate proof); with
    * trained centroids the honest difference is the quantizer, not the
    * rows, and [[ivfClusterStats]] (which counts LIVE rows) remains
    * the rebuild trigger.
    */
  def deleteFromIvf(spark: org.apache.spark.sql.SparkSession, table: String,
                    ids: DataFrame): Unit = ivfIndex.delete(spark, table, ids)

  /** Physical drop + tombstone clear for an IVF index. */
  def compactIvf(spark: org.apache.spark.sql.SparkSession,
                 table: String): Unit = ivfIndex.compact(spark, table)

  /** Logically delete ids from an [[ingestLsh]] index. Band keys are a
    * pure per-vector function of the sidecar parameters — no frozen
    * corpus-trained state at all — so `ingestLsh(A∪B); deleteFromLsh(B)`
    * is BIT-IDENTICAL to `ingestLsh(A)` at probe time at any
    * parameters; the delete gate shares the A-only oracle outright.
    */
  def deleteFromLsh(spark: org.apache.spark.sql.SparkSession, table: String,
                    ids: DataFrame): Unit = lshIndex.delete(spark, table, ids)

  /** Physical drop + tombstone clear for an LSH index. */
  def compactLsh(spark: org.apache.spark.sql.SparkSession,
                 table: String): Unit = lshIndex.compact(spark, table)

  /** Logically delete ids from an [[ingestPq]] index (codes AND rescore
    * vectors are excluded — both tables share the tombstone set).
    * Frozen codebooks stay, as on append; [[pqReconStats]] over the
    * live rows remains the rebuild trigger.
    */
  def deleteFromPq(spark: org.apache.spark.sql.SparkSession, table: String,
                   ids: DataFrame): Unit = pqIndex.delete(spark, table, ids)

  /** Physical drop + tombstone clear for a PQ index (both tables). */
  def compactPq(spark: org.apache.spark.sql.SparkSession,
                table: String): Unit = pqIndex.compact(spark, table)

  /** Maximal-marginal-relevance (MMR, Carbonell & Goldstein 1998)
    * diversified reranking: from a scored candidate list per query,
    * greedily select `k` items maximizing
    *
    *   λ·rel(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * — the standard redundancy-removal rerank a RAG pipeline runs on
    * its retriever's top-N so the context window isn't k near-copies
    * of the same passage. `candidates` is any (query_id, nn_id, score)
    * ranking ([[topK]], [[topKLsh]], [[Retrieval.bm25TopK]] over doc
    * embeddings, a fused [[Retrieval.rrfFuse]] list — anything whose
    * score is r6-rounded); `corpus` supplies the vectors that define
    * inter-candidate similarity.
    *
    * Scale shape: the candidate relation is (queries × N) rows —
    * broadcast-scale by contract (it came out of a top-N) — so the ONE
    * corpus-touching operation is the broadcast join fetching candidate
    * vectors; every selection round after that joins per-query-bounded
    * relations (≤ N candidates × < k selected) with no corpus-scale
    * window or exchange anywhere. Each of the k rounds' selected set is
    * pinned so plan depth stays linear in k. Greedy MMR is inherently
    * sequential in k — that is the algorithm, not a Spark limitation;
    * k is output-context-sized (≤ tens) by contract.
    *
    * Float discipline: relevance and pairwise similarity enter as exact
    * micro-units (floor(x·1e6 + 0.5)); λ is micro-quantized ONCE and the
    * MMR objective is pure BIGINT arithmetic (λm·relm − (1e6−λm)·simm,
    * max 1e12 — no overflow, no float accumulation), ties to the lowest
    * nn_id — bit-reproducible by construction.
    *
    * @return (query_id, nn_id, score, rank) — score is the INPUT
    *         relevance; rank is the MMR selection order (1 = first pick)
    */
  def diversifyMmr(candidates: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, k: Int, lambda: Double): DataFrame =
    diversifyMmrFrom(candidates,
      graft.Partitioning.spread(corpus)
        .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv")),
      k, lambda)

  /** [[diversifyMmr]] against a PERSISTED normalized-vector table
    * `(nn_id, cv)` bucketed by nn_id — exactly what [[ingestPq]] /
    * [[ingestIvfPq]] write as `<table>_vectors`. The one
    * corpus-touching operation (the candidate-vector fetch) becomes a
    * broadcast join against the id-bucketed scan instead of a raw
    * corpus scan + normalize: no normalization work, and the bucketed
    * layout lets the scan prune to candidate buckets in a
    * deployment with bucket pruning (PlanSpec asserts strictly fewer
    * exchanges than the raw-corpus form). Tombstoned ids are excluded
    * — a deleted vector must not resolve (the candidate contract then
    * fails loudly, which is correct: the candidate list is stale).
    */
  def diversifyMmrIngested(spark: org.apache.spark.sql.SparkSession,
                           vectorsTable: String, candidates: DataFrame,
                           k: Int, lambda: Double,
                           asOf: Option[(String, Long)] = None): DataFrame =
    diversifyMmrFrom(candidates,
      graft.ops.Tombstones.filterByParent(spark, vectorsTable,
        asOf match {
          // (parent index root, batch): the vectors table's snapshot
          // sidecar lives with its index root, not the satellite name
          case Some((parent, b)) =>
            graft.ops.Snapshots.readAsOf(spark, vectorsTable, parent, Some(b))
          case None => spark.table(vectorsTable)
        }, "nn_id"),
      k, lambda)

  /** The shared MMR core over a prepared normalized relation
    * `cvec (nn_id, cv)`. PIN COST: this call persists ONE
    * MEMORY_AND_DISK plan (the candidate fetch; the candidate INPUT pin
    * is released eagerly once the contract counts have materialized it
    * into the joined cache) — droppable via
    * [[graft.Partitioning.unpersistPins]] in long-lived serving
    * sessions. Each selection round's remaining-pool relation is
    * instead an EAGER lineage-truncating checkpoint
    * ([[graft.Partitioning.checkpointKeep]]): round r's pool references
    * round r−1's pool TWICE (the argmax pick and the pool update), so a
    * cache-only pin leaves the logical plan doubling per round — 2^k
    * copies of the candidate-fetch DAG, measured 64k plan lines / 7.3k
    * Exchange nodes at k=5 — and Catalyst re-analyzes that tree on
    * every action (guide §5: very large plans are driver-side,
    * single-threaded cost; §3.3: materialize to truncate). The
    * checkpoint bounds the plan at O(1) per round; pool relations are
    * (queries × N)-bounded by contract, so the per-round materialization
    * job is trivially small.
    */
  private def diversifyMmrFrom(candidates: DataFrame, cvec: DataFrame,
                               k: Int, lambda: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    require(lambda >= 0.0d && lambda <= 1.0d, "lambda must be in [0, 1]")
    val lm = math.floor(lambda * 1e6 + 0.5).toLong
    val om = 1000000L - lm
    def micro(c: Column): Column =
      floor(c * lit(1000000.0d) + lit(0.5d)).cast("long")
    // candIn is pinned BEFORE the contract counts so its (often
    // expensive — a full retrieval) lineage evaluates exactly once;
    // both counts below then read caches
    val candIn = candidates.select(col("query_id"), col("nn_id"),
        col("score"), micro(col("score")).as("relm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = graft.Partitioning.trackPin(
      cvec.join(broadcast(candIn), Seq("nn_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // contract check, loud: every candidate id must resolve to exactly
    // one corpus vector — a silently-dropped candidate (id-space mixup,
    // wrong embedding table) would shrink the result below k with no
    // error, and a duplicated corpus id would rank one candidate twice.
    // The contract FAILURE path (stale candidates against a tombstoned
    // vector table — diversifyMmrIngested's documented loud failure)
    // must not leak the untracked candIn pin: a long-lived serving
    // session that catches the error and retries would otherwise
    // accumulate cache linearly in retries
    try {
      val nIn = candIn.count()
      val nGot = cand.count()
      require(nGot == nIn,
        s"diversifyMmr: $nIn candidates resolved to $nGot corpus vectors — " +
          "candidate ids must match exactly one corpus row each")
    } catch {
      case t: Throwable => candIn.unpersist(blocking = false); throw t
    }
    // the second count materialized `cand` in full, so candIn's cache
    // has no further reader — release it NOW instead of tracking it to
    // unpersistPins (lineage stays intact for executor-loss recompute);
    // this keeps the per-call pin count at k+1, not k+2
    candIn.unpersist(false)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("nn_id").asc)
    def argmaxPick(scored: DataFrame, r: Int): DataFrame =
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("nn_id"), col("score"), col("cv"),
          lit(r).as("rank"))
    // the INCREMENTAL greedy (the textbook O(N·k) form): `rem` carries
    // each remaining candidate's running max-similarity to the selected
    // set, updated each round against ONLY the newest pick — one
    // broadcast join of a 1-row-per-query relation, no anti-join, no
    // re-aggregation over the whole selected set (which would be the
    // O(N·k²) shape and k× the stages)
    var pick = argmaxPick(cand.withColumn("mmr", col("relm")), 1)
    var acc = pick.select(col("query_id"), col("nn_id"), col("score"), col("rank"))
    var rem = cand
    for (r <- 2 to k) {
      val pv = pick.select(col("query_id"), col("nn_id").as("_pid"),
        col("cv").as("pv"))
      val simNew = micro(dot(col("cv"), col("pv")))
      // the inner join also drops queries whose candidates are exhausted
      // (no pick last round => nothing left to rank); the =!= filter
      // removes exactly the newest pick from the remaining pool
      rem = graft.Partitioning.checkpointKeep(
        rem.join(broadcast(pv), Seq("query_id"))
          .filter(col("nn_id") =!= col("_pid"))
          .withColumn("ms",
            if (r == 2) simNew else greatest(col("ms"), simNew))
          .drop("pv", "_pid"))
      pick = argmaxPick(
        rem.withColumn("mmr", lit(lm) * col("relm") - lit(om) * col("ms")), r)
      acc = acc.unionByName(
        pick.select(col("query_id"), col("nn_id"), col("score"), col("rank")))
    }
    acc
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER /
    * CCMatrix parallel-corpus miner): candidate translation pairs
    * between two embedding sets score by the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((avgₖNN(x→tgt) + avgₖNN(y→src)) / 2)
    *
    * — raw cosine divided by the mean of each side's average k-NN
    * similarity, which cancels the "hubness" bias where a generic
    * sentence is everyone's near-neighbor. Candidates are the union of
    * forward (src→tgt) and backward (tgt→src) top-k lists, so each
    * margin's per-query window sees ≤ 2k rows. Per src sentence the
    * output ranks candidates by margin (rank 1 = the mined pair; apply
    * a margin threshold downstream to trade precision for yield).
    *
    * Float discipline: cosines are r6-scored by [[topK]], k-NN sums
    * accumulate in exact micro-units, and the margin is ONE double
    * division of exact integers — aggregation-order independent.
    * Scale shape: two [[topK]] passes (each a single corpus scan with
    * the salted two-stage merge; swap in the ANN/IVF variants upstream
    * when brute force is too hot), then k-bounded joins keyed on
    * sentence ids — no corpus-scale window anywhere.
    *
    * @return (src_id, tgt_id, score, margin, rank) — rank per src by
    *         margin desc, ties to low tgt_id
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // CROSS-SET top-k (excludeSelf = false): src and tgt are different
    // relations, and line-aligned parallel corpora commonly number both
    // sides identically — the same-id exclusion would silently drop
    // exactly the true diagonal pairs (src line i ↔ tgt line i)
    bitextMargins(topK(tgt, src, idCol, vecCol, k, excludeSelf = false),
      topK(src, tgt, idCol, vecCol, k, excludeSelf = false))
  }

  /** [[bitextMine]] with LSH-bucketed candidate generation — the corpus
    * scale path the brute miner's scaladoc steers to, measured after
    * SCALING.md showed the exact variant at 1.9× linear per row (two
    * all-pairs passes over sides that BOTH grow — inherent to exact
    * mining, not a plan defect). Both directional k-NN lists come from
    * [[topKLsh]] (band-key equi-join candidates, never all pairs); the
    * margin math is identical and count-based, so the shorter/absent
    * lists an LSH miss produces are averaged over their ACTUAL length
    * — approximate recall, exact arithmetic. Sentences whose buckets
    * never collide are absent from the output (no candidates, no
    * margin), the honest ANN degradation.
    */
  def bitextMineAnn(src: DataFrame, tgt: DataFrame, idCol: String,
                    vecCol: String, k: Int, nPlanes: Int,
                    nTables: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // cross-set top-k, as in [[bitextMine]]: overlapping src/tgt id
    // spaces must not drop the diagonal pairs
    bitextMargins(
      topKLsh(tgt, src, idCol, vecCol, k, nPlanes = nPlanes,
        nTables = nTables, excludeSelf = false),
      topKLsh(src, tgt, idCol, vecCol, k, nPlanes = nPlanes,
        nTables = nTables, excludeSelf = false))
  }

  /** The CCMatrix emission step downstream of the miners: apply the
    * margin threshold and the MUTUAL one-best filter to a mined ranking
    * — keep (x, y) only when y is x's best candidate by margin (rank 1)
    * AND x is y's best among the rank-1 pairs (ties to the lowest
    * src_id) and the margin clears `threshold`. This is the
    * precision/yield dial Artetxe & Schwenk apply before emitting a
    * parallel corpus; raising the threshold trades yield for precision.
    *
    * Scale shape: input is the miners' k-bounded output (≤ |src|·2k
    * rows); the one-best-per-tgt pass is a window over the RANK-1 rows
    * only (≤ 1 row per src), so everything here is rank-list-sized —
    * no corpus access at all.
    *
    * @param mined [[bitextMine]]/[[bitextMineAnn]] output
    *              (src_id, tgt_id, score, margin, rank)
    * @return (src_id, tgt_id, score, margin) — the emitted pairs
    */
  def bitextMinedPairs(mined: DataFrame, threshold: Double): DataFrame = {
    val best = mined.filter(col("rank") === 1)
      .filter(col("margin") >= threshold)
    val wt = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin").desc, col("src_id").asc)
    best.withColumn("_rt", row_number().over(wt))
      .filter(col("_rt") === 1)
      .select(col("src_id"), col("tgt_id"), col("score"), col("margin"))
  }

  /** The shared margin tail over two directional ranked lists (fwd:
    * query = src; bwd: query = tgt), both `(query_id, nn_id, score)`
    * with r6 scores.
    */
  private def bitextMargins(fwd: DataFrame, bwd: DataFrame): DataFrame = {
    def micro(c: Column): Column =
      floor(c * lit(1000000.0d) + lit(0.5d)).cast("long")
    val fm = fwd.select(col("query_id").as("src_id"),
      col("nn_id").as("tgt_id"), micro(col("score")).as("m"))
    val bm = bwd.select(col("nn_id").as("src_id"),
      col("query_id").as("tgt_id"), micro(col("score")).as("m"))
    // carry the ACTUAL list sizes: when a side has fewer than k
    // neighbors (tiny corpora), a hardcoded 2k denominator would
    // inflate every margin relative to the avg-kNN definition — the
    // count-based form m·2·nx·ny/(sxm·ny + sym·nx) equals the paper's
    // cos/((avgF+avgB)/2) exactly, is pure exact-integer arithmetic
    // until one final division, and reduces to m·2k/(sxm+sym)
    // bit-for-bit when both lists are full (IEEE division is correctly
    // rounded and the real quotients are equal)
    val sx = fm.groupBy("src_id").agg(sum(col("m")).as("sxm"),
      count(lit(1)).as("nx"))
    val sy = bm.groupBy("tgt_id").agg(sum(col("m")).as("sym"),
      count(lit(1)).as("ny"))
    // the same (x, y) cosine is bit-identical from either direction
    // (element products commute, the fold order is the dim order), so
    // max() is a pure dedup of the two lists
    val cand = fm.unionByName(bm).groupBy("src_id", "tgt_id")
      .agg(max(col("m")).as("m"))
    val marg = cand.join(sx, Seq("src_id")).join(sy, Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"),
        graft.Num.r6(col("m").cast("double") / lit(1000000.0d)).as("score"),
        graft.Num.r6((col("m") * lit(2L) * col("nx") * col("ny")).cast("double")
          / (col("sxm") * col("ny") + col("sym") * col("nx")).cast("double"))
          .as("margin"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    marg.withColumn("rank", row_number().over(w))
  }

  /** Hard-negative mining for contrastive training (DPR / SimCSE /
    * CLIP-style): for each query, the k most-similar corpus items that
    * are NOT in its positive set — the negatives that actually move a
    * contrastive loss, as opposed to random negatives the model already
    * separates. `positives` is a `(query_id, pos_id)` relation (same id
    * types as the embedding ids); the query itself is always excluded.
    *
    * Scale shape: identical to [[topK]] — one corpus scan against the
    * broadcast query batch with the salted two-stage merge — plus ONE
    * broadcast `left_anti` join against the positive set, which is
    * query-batch-scale by contract (queries × per-query positives; the
    * corpus side never exchanges). Swap the brute scorer for the
    * LSH/IVF candidate generators upstream when the corpus scan itself
    * is the bottleneck — the anti-join composes unchanged.
    *
    * @return (query_id, nn_id, score, rank) — rank 1 = hardest negative
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, positives: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    nSalts: Int = 0): DataFrame = {
    require(k >= 1, "k must be positive")
    val c = graft.Partitioning.spread(corpus)
      .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv"))
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    val pos = positives.select(col("query_id"), col("pos_id").as("nn_id"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .join(broadcast(pos), Seq("query_id", "nn_id"), "left_anti")
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(scored, k, salts)
  }

  /** LSH-bucketed ANN: candidates must share the query's hyperplane bucket;
    * top-k within candidates. Approximate (recall < 1) but the candidate
    * join is an equi-join on the bucket key — the 100 TB path.
    */
  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — seeds
    * are the `nCentroids` lowest-id corpus vectors, optionally refined by
    * `kmeansIters` rounds of deterministic Lloyd's k-means
    * ([[kmeansRefine]]) — partitions the corpus into inverted lists
    * (each vector assigned to its max-cosine centroid, ties to the
    * lowest centroid id); a query probes its `nProbe` nearest centroids
    * and ranks only those lists.
    *
    * Scale shape: assignment is a NARROW fold over a one-row broadcast
    * centroid array ([[assignClusters]] — no per-vector exchange, no
    * window); candidate generation is an equi-join on the cluster id
    * with the (tiny) probe side broadcast. Recall < 1 like any IVF;
    * raise nProbe — or kmeansIters, see the recall@k spec — to trade
    * cost for recall. Corpus ids must be unique: each row is assigned
    * independently (the id is the output key).
    */
  /** (nn_id, cv, cluster) assignment via a NARROW argmax: the centroids
    * travel as a PLAN LITERAL (they are O(nCentroids x dim) by
    * definition — broadcast-scale) and each corpus vector scans them in
    * place with the native codegen'd [[graft.functions.CentroidArgmax]]
    * — one fused primitive loop (max-cosine, ties to the lowest cid).
    * NO per-vector shuffle, no broadcast-build job, no exchange of any
    * kind: the ONLY distributed work is the corpus scan itself. A
    * crossJoin+groupBy(nn_id) shape would ship every vector (id + full
    * embedding) through an exchange just to pick its centroid.
    * [[assignClustersHof]] keeps the interpreted `array_max`-over-struct
    * reference formulation the expression must match bit-for-bit (the
    * HOF lambda is evaluated per centroid per row — linear in
    * corpus x centroids x dim at 1B vectors). Assumes unique ids
    * (duplicate-id rows assign independently; a groupBy shape would
    * silently pick a partition-order-dependent winner, which is worse).
    */
  private[graft] def assignClusters(c: DataFrame,
                                    cent: Seq[(Long, Seq[Double])]): DataFrame =
    c.select(col("nn_id"), col("cv"),
      graft.functions.CentroidArgmax.argmax(col("cv"), typedLit(cent)).as("cluster"))

  /** HOF reference formulation of [[assignClusters]] — `array_max` over
    * struct(sim, -cid) is the same max-cosine/lowest-cid-tie ordering;
    * kept only as the bit-parity oracle for the codegen expression.
    */
  private[graft] def assignClustersHof(c: DataFrame,
                                       cent: Seq[(Long, Seq[Double])]): DataFrame =
    c.withColumn("best", array_max(transform(typedLit(cent),
        x => struct(dot(col("cv"), x.getField("_2")).as("sim"),
          (-x.getField("_1")).as("negcid")))))
      .select(col("nn_id"), col("cv"), (-col("best.negcid")).as("cluster"))

  /** Deterministic Lloyd's k-means refinement of the coarse quantizer:
    * seeds are the lowest-id corpus vectors (reproducible, no RNG); each
    * of `iters` rounds reassigns vectors to their max-cosine centroid
    * (ties to the lowest centroid id) and recomputes each centroid as
    * the NORMALIZED MEAN of its members. The per-dimension sums are
    * carried as exact integers (`floor(x*1e6+0.5)`) so the mean is
    * associative — byte-reproducible across partitionings and engines;
    * a raw double sum would be partition-order dependent. Empty clusters
    * keep their previous centroid.
    *
    * Scale shape per round: EXACTLY ONE job — a narrow corpus scan
    * (literal-centroid argmax, [[assignClusters]]) feeding one
    * partial-aggregated groupBy(cluster) with (count, dim) integer-sum
    * columns, whose <= nCentroids-row result is collected and the new
    * centroids computed in driver scalar code (bit-identical arithmetic:
    * (sx/1e6)/cnt then a sequential-fold L2 normalize). This is the
    * canonical distributed Lloyd's shape — Spark MLlib's KMeans likewise
    * collects per-round centroid sums to the driver — and collecting
    * O(nCentroids x dim) aggregated longs per round is the entire
    * driver-side footprint: the corpus is scanned, never shuffled, and
    * the round's output re-enters the next plan as a literal (no
    * localCheckpoint, no broadcast-build, no join against a centroid
    * relation — measured ~1.7 s/round of pure orchestration overhead
    * saved at sf0.1).
    */
  private def kmeansRefine(c: DataFrame, seeds: Seq[(Long, Seq[Double])],
                           iters: Int): Seq[(Long, Seq[Double])] = {
    var cent = seeds
    val dim = if (seeds.nonEmpty) seeds.head._2.length else 0
    for (_ <- 0 until iters) {
      // min/max vector length ride the same aggregate so ragged input
      // fails LOUDLY in one round trip: a vector shorter/longer than the
      // seed dim would silently skew the single per-cluster count (the
      // exact-integer mean assumes every member contributes every dim)
      val sumCols = Seq(count(lit(1)).as("cnt"),
        min(size(col("cv"))).as("mindim"), max(size(col("cv"))).as("maxdim")) ++
        (0 until dim).map(d =>
          // try_element_at: a shorter-than-dim vector yields null (summed
          // as absent) instead of ANSI INVALID_ARRAY_INDEX — so the
          // ragged-input require below gets to fire with its real message
          sum(floor(try_element_at(col("cv"), lit(d + 1)) * lit(1000000.0d) + lit(0.5d))
            .cast("long")).as(s"s$d"))
      val rows = assignClusters(c, cent)
        .groupBy(col("cluster")).agg(sumCols.head, sumCols.tail: _*)
        .collect()
      rows.foreach { r =>
        require(r.getInt(2) == dim && r.getInt(3) == dim,
          s"kmeansRefine requires uniform $dim-dim vectors; found lengths " +
            s"${r.getInt(2)}..${r.getInt(3)} in cluster ${r.getLong(0)}")
      }
      val byCid = rows.map(r => r.getLong(0) -> r).toMap
      cent = cent.map { case (cid, old) =>
        byCid.get(cid) match {
          case Some(r) =>
            val cnt = r.getLong(1).toDouble
            val mv = Array.tabulate(dim)(d => r.getLong(4 + d).toDouble / 1000000.0d / cnt)
            val n = math.sqrt(mv.foldLeft(0.0d)((a, x) => a + x * x))
            cid -> mv.map(_ / n).toSeq
          case None => cid -> old
        }
      }
    }
    cent
  }

  /** The normalized-corpus relation (nn_id, cv) every IVF-family
    * consumer starts from: null vectors cannot participate (no
    * similarity is defined) — filtered EXPLICITLY rather than letting a
    * null seed or a null-cluster aggregation row crash the
    * literal-centroid path. With `kmeansIters > 0` the (provably-small)
    * corpus is pinned across the per-round scans; a large corpus
    * re-scans — the honest per-round cost at 100 TB.
    */
  private def normalizedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                               kmeansIters: Int): DataFrame = {
    val c0 = graft.Partitioning.spread(corpus)
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv"))
    if (kmeansIters > 0) graft.Partitioning.pinForReuse(corpus, c0) else c0
  }

  /** Deterministic coarse quantizer over a normalized corpus `c`
    * (columns nn_id, cv): seeds are the `nCentroids` lowest-id vectors,
    * optionally refined by `kmeansIters` Lloyd's rounds
    * ([[kmeansRefine]]). The result is dimension-sized BY DEFINITION
    * (nCentroids x dim): collected once (a TakeOrdered job, reading the
    * pinned corpus when present) so it rides every later plan as a
    * literal. Shared by [[topKIvf]] and [[Dedup.semanticNearDup]].
    */
  private[graft] def coarseQuantizer(c: DataFrame, nCentroids: Int,
                                     kmeansIters: Int): Seq[(Long, Seq[Double])] = {
    val seeds: Seq[(Long, Seq[Double])] = c.orderBy(col("nn_id")).limit(nCentroids)
      .select(col("nn_id").cast("long").as("cid"), col("cv").as("centv"))
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1))
    if (kmeansIters > 0) kmeansRefine(c, seeds, kmeansIters) else seeds
  }

  /** Normalized corpus + literal quantizer in one call — the shared
    * front half of the IVF family.
    */
  private[graft] def quantizedCorpus(corpus: DataFrame, idCol: String, vecCol: String,
                                     nCentroids: Int, kmeansIters: Int)
      : (DataFrame, Seq[(Long, Seq[Double])]) = {
    val c = normalizedCorpus(corpus, idCol, vecCol, kmeansIters)
    (c, coarseQuantizer(c, nCentroids, kmeansIters))
  }

  /** Persist the IVF index ONCE — the pay-once-at-ingest layout twin
    * the graph family already has ([[graft.ops.Graph.writeEdges]]):
    * run the deterministic coarse quantizer over the corpus, write the
    * assigned corpus `(nn_id, cv, cluster)` as a parquet table BUCKETED
    * by cluster id, and the `nCentroids × dim` centroid table
    * `<table>_centroids (cid, centv)` as a plain sidecar. Every
    * [[topKIvfIngested]] probe batch then serves WITHOUT re-running
    * Lloyd's rounds (kmeansIters full corpus scans + one aggregation
    * each), without re-normalizing or re-assigning the corpus, and
    * without the seed TakeOrdered collect — at 100 TB the quantizer
    * build is exactly the cost you pay once, not per query batch. The
    * cluster bucketing additionally pre-co-locates each inverted list,
    * so maintenance jobs keyed on cluster (list compaction, per-cell
    * stats, SemDeDup sweeps) read it exchange-free.
    *
    * Determinism contract: centroids are the exact-integer Lloyd's
    * output ([[coarseQuantizer]]) and parquet round-trips doubles
    * bit-exactly, so a probe against the ingested index is
    * BIT-IDENTICAL to [[topKIvf]] at the same (nCentroids, kmeansIters,
    * nProbe) — the gate shares one oracle. Same
    * single-writer-per-table contract as
    * [[graft.ops.Bucketing.writeBucketed]].
    */
  def ingestIvf(corpus: DataFrame, idCol: String, vecCol: String, table: String,
                nCentroids: Int, kmeansIters: Int, nBuckets: Int): Unit = {
    val (c, cent) = quantizedCorpus(corpus, idCol, vecCol, nCentroids, kmeansIters)
    ivfIndex.ingest(corpus.sparkSession, table, nBuckets, ivfIndex.encode(c, cent),
      Seq(centroidRows(corpus.sparkSession, cent)))
  }

  /** Append a new batch into an [[ingestIvf]] index — the maintenance
    * half of the pay-once story (a crawl pipeline ingests batches
    * continuously; a 100 TB index cannot be rebuilt per batch). The
    * batch is normalized and assigned against the FROZEN centroid
    * sidecar (collected once — nCentroids × dim, bounded) and appended
    * into the cluster-bucketed corpus table; per append the work is
    * batch-sized — no Lloyd's rounds, no corpus re-assignment, no
    * corpus scan of any kind. The bucket count is read from the
    * catalog ([[graft.ops.Bucketing.bucketCountOf]]) so layout
    * mismatch is impossible by construction.
    *
    * Semantics: `ingestIvf(A); appendIvf(B)` yields the SAME table as
    * assigning A∪B against centroids(A) — cluster assignment is a pure
    * function of the frozen centroids, so existing rows never change
    * and probes stay bit-identical to [[topKIvf]] RUN WITH A's
    * centroids over the union. CENTROID DRIFT is the rebuild trigger:
    * the frozen quantizer's cells grow unbalanced as the appended
    * distribution shifts (monitor per-cluster counts — the table is
    * cluster-bucketed precisely so that stat is exchange-free); when
    * skew exceeds tolerance, re-run [[ingestIvf]]. Batch ids must be
    * distinct from index ids (duplicate ids would yield duplicate
    * index rows). Same single-writer contract as the ingest.
    */
  def appendIvf(spark: org.apache.spark.sql.SparkSession, table: String,
                batch: DataFrame, idCol: String, vecCol: String): Unit =
    ivfIndex.append(spark, table, batch, idCol, vecCol)

  /** Exactly-once streaming maintenance of an IVF index —
    * [[graft.llm.Retrieval.bm25Sink]]'s sibling: the first delivered
    * batch builds the index ([[ingestIvf]] — the quantizer trains there
    * and its centroids FREEZE), later batches assign against the frozen
    * sidecar ([[appendIvf]], batch-sized), and a RE-delivered batch id
    * is a commit-log no-op. The replay guard is correctness-critical: a
    * doubled batch would append duplicate corpus rows, and every probe
    * top-k over them would burn ranks on duplicates — the streamed
    * gate's oracle catches exactly that. Centroid drift remains the
    * rebuild trigger ([[ivfClusterStats]]).
    */
  def ivfSink(table: String, idCol: String, vecCol: String,
              nCentroids: Int, kmeansIters: Int, nBuckets: Int)
      : (DataFrame, Long) => Unit =
    ivfIndex.sink(table, idCol, vecCol)(
      ingestIvf(_, idCol, vecCol, table, nCentroids, kmeansIters, nBuckets))

  /** Serve a query batch against an [[ingestIvf]] index: the centroid
    * sidecar (nCentroids × dim by construction) is collected once and
    * probes rank it as a plan literal exactly like [[topKIvf]]; the
    * corpus side is ONE cluster-bucketed scan feeding the broadcast
    * candidate join — no quantizer build, no assignment pass, no
    * corpus-side exchange of any kind. Output is bit-identical to
    * [[topKIvf]] at the index's (nCentroids, kmeansIters) and this
    * nProbe (AnnRecallSpec asserts parity and runs the recall floor
    * against the persisted index).
    */
  def topKIvfIngested(spark: org.apache.spark.sql.SparkSession, table: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nProbe: Int = 4, nSalts: Int = 0,
                      asOf: Option[Long] = None): DataFrame = {
    val cent = centroidsOf(spark, table)
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    if (cent.isEmpty) {
      // an index built over an EMPTY corpus has no centroids and no
      // neighbors
      return emptyTopKResult(
        graft.ops.Snapshots.readAsOf(spark, table, table, asOf), q)
    }
    val probes = ivfProbes(q, cent, nProbe)
    // literal cell pruning, as in [[topKIvfPqIngested]]: the probed
    // cluster ids are (queries × nProbe)-bounded — collected once, the
    // IN literal lets the cluster-bucketed scan prune files instead of
    // reading every cell and discarding post-join
    val cells = probedCells(probes)
    val assign = ivfIndex.live(spark, table, asOf = asOf)
      .where(col("cluster").isin(cells: _*))
    val scored = assign.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(scored, k, salts)
  }

  /** Persist the multi-table LSH index ONCE — [[ingestIvf]]'s sibling
    * for the hyperplane family: normalize the corpus and explode its
    * `nTables` (tbl, bucket) band keys a single time, writing the
    * banded relation `(nn_id, cv, tbl, bucket)` bucketed by bucket
    * (co-locating each posting list for maintenance sweeps), with a
    * 1-row `(nplanes, ntables)` parameter sidecar so a probe can NEVER
    * hash its queries with mismatched planes (the histMerge
    * parameter-consistency failure mode, closed by construction).
    * Every [[topKLshIngested]] batch then skips the corpus-side
    * hashing entirely — nTables × nPlanes × dim fused-loop work per
    * corpus vector, the dominant per-batch cost — and reads the banded
    * scan directly.
    */
  def ingestLsh(corpus: DataFrame, idCol: String, vecCol: String, table: String,
                nPlanes: Int, nTables: Int, nBuckets: Int): Unit = {
    require(nPlanes >= 1 && nTables >= 1, "nPlanes/nTables must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    lshIndex.ingest(spark, table, nBuckets,
      lshIndex.encode(vectorRows(corpus, idCol, vecCol), (nPlanes, nTables)),
      Seq(Seq((nPlanes, nTables)).toDF("nplanes", "ntables")))
  }

  /** Append a new batch into an [[ingestLsh]] index — the maintenance
    * half of the banded layout. Unlike [[appendIvf]]/
    * [[graft.llm.Dedup.appendMinhashIndex]], LSH ingest freezes NO
    * corpus-dependent state: band keys are a pure per-vector function
    * of the sidecar's (nPlanes, nTables), so `ingestLsh(A);
    * appendLsh(B)` is ROW-IDENTICAL to `ingestLsh(A∪B)` — no drift, no
    * rebuild trigger, the gate shares the per-run operator's oracle
    * outright. Per append the work is batch-sized: normalize + band-key
    * the batch with the sidecar parameters (mismatch impossible by
    * construction) and append bucketed files. Batch ids must be
    * distinct from index ids. Same single-writer contract.
    */
  def appendLsh(spark: org.apache.spark.sql.SparkSession, table: String,
                batch: DataFrame, idCol: String, vecCol: String): Unit =
    lshIndex.append(spark, table, batch, idCol, vecCol)

  /** Exactly-once streaming maintenance of an LSH index — the fourth
    * and simplest sink of the family: band keys are a pure function of
    * the FIRST batch's (nPlanes, nTables) sidecar, so unlike
    * [[ivfSink]]/[[graft.llm.Dedup.minhashSink]] there is no frozen
    * corpus-dependent state and the streamed index is bit-identical to
    * a batch [[ingestLsh]] over the union. Replays are commit-log
    * no-ops (a doubled batch would duplicate banded rows and burn probe
    * ranks on duplicate candidates).
    */
  def lshSink(table: String, idCol: String, vecCol: String,
              nPlanes: Int, nTables: Int, nBuckets: Int)
      : (DataFrame, Long) => Unit =
    lshIndex.sink(table, idCol, vecCol)(
      ingestLsh(_, idCol, vecCol, table, nPlanes, nTables, nBuckets))

  // ------------------------------------------------ persisted index families

  private type Centroids = Seq[(Long, Seq[Double])]
  private type Books = IndexedSeq[Seq[(Long, Seq[Double])]]

  /** The `(nn_id, cv)` relation every vector family codes: null vectors
    * dropped (no similarity is defined), ids renamed, vectors
    * normalized — [[normalizedCorpus]] without the training pin.
    */
  private def vectorRows(batch: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    normalizedCorpus(batch, idCol, vecCol, kmeansIters = 0)

  /** The centroid sidecar as the literal every assignment embeds —
    * nCentroids × dim, bounded by the index parameters.
    */
  private def centroidsOf(spark: org.apache.spark.sql.SparkSession,
                          table: String): Centroids =
    spark.table(s"${table}_centroids")
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1))

  private def centroidRows(spark: org.apache.spark.sql.SparkSession,
                           cent: Centroids): DataFrame = {
    import spark.implicits._
    cent.toDF("cid", "centv")
  }

  private def codebookRows(spark: org.apache.spark.sql.SparkSession,
                           books: Books): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.map { case (cid, centv) => (s, cid, centv) }
    }.toDF("s", "cid", "centv")
  }

  /** IVF: the assigned corpus `(nn_id, cv, cluster)` bucketed by cluster
    * plus the centroid sidecar.
    */
  private[graft] val ivfIndex = PersistedIndex[Centroids]("Ivf", "nn_id",
    tables = Seq("" -> "cluster"), sidecars = Seq("_centroids" -> None),
    prepare = vectorRows, load = centroidsOf,
    encode = (c, cent) => Seq(assignClusters(c, cent)),
    untrained = _.isEmpty, dim = _.headOption.map(_._2.length),
    trainedOn = Some("_centroids"))

  /** LSH: the banded relation `(nn_id, cv, tbl, bucket)` bucketed by
    * bucket plus the `(nplanes, ntables)` sidecar — no corpus-trained
    * state, so nothing to heal and no dimension to check.
    */
  private[graft] val lshIndex = PersistedIndex[(Int, Int)]("Lsh", "nn_id",
    tables = Seq("" -> "bucket"), sidecars = Seq("_meta" -> None),
    prepare = vectorRows,
    load = (spark, table) => {
      val meta = spark.table(s"${table}_meta").first()
      (meta.getInt(meta.fieldIndex("nplanes")),
        meta.getInt(meta.fieldIndex("ntables")))
    },
    encode = { case (c, (nPlanes, nTables)) =>
      Seq(tabled(c, "cv", nPlanes, nTables)) })

  /** PQ: id-bucketed `(nn_id, codes)` and `(nn_id, cv)` rescore tables
    * plus the `(s, cid, centv)` codebook sidecar.
    */
  private[graft] val pqIndex = PersistedIndex[Books]("Pq", "nn_id",
    tables = Seq("" -> "nn_id", "_vectors" -> "nn_id"),
    sidecars = Seq("_codebooks" -> None),
    prepare = vectorRows, load = pqBooksOf,
    encode = (c, books) => Seq(
      c.select(col("nn_id"), pqCodes(books).as("codes")),
      c.select(col("nn_id"), col("cv"))),
    untrained = _.isEmpty,
    dim = books => books.headOption.map(books.length * _.head._2.length),
    trainedOn = Some("_codebooks"))

  /** IVF-PQ: cluster-bucketed `(nn_id, cluster, codes)`, id-bucketed
    * rescore vectors, both quantizer sidecars.
    */
  private[graft] val ivfpqIndex = PersistedIndex[(Centroids, Books)](
    "IvfPq", "nn_id",
    tables = Seq("" -> "cluster", "_vectors" -> "nn_id"),
    sidecars = Seq("_centroids" -> None, "_codebooks" -> None),
    prepare = vectorRows,
    load = (spark, table) => (centroidsOf(spark, table), pqBooksOf(spark, table)),
    encode = { case (c, (cent, books)) => Seq(
      assignClusters(c, cent).select(col("nn_id"), col("cluster"),
        pqCodes(books).as("codes")),
      c.select(col("nn_id"), col("cv"))) },
    untrained = { case (cent, books) => cent.isEmpty || books.isEmpty },
    dim = st => pqIndex.dim(st._2), trainedOn = Some("_codebooks"))

  /** Per-cluster membership counts of an [[ingestIvf]]/[[appendIvf]]
    * index — the CENTROID-DRIFT monitor the append contract names as
    * its rebuild trigger: the frozen quantizer's cells grow unbalanced
    * as the appended distribution shifts, and this is the bounded
    * (nCentroids rows), exchange-free probe that watches it — the
    * aggregation key IS the table's bucket key, so the cluster-bucketed
    * layout feeds the groupBy without an exchange (every centroid is
    * reported, including emptied cells: size 0 is exactly the drift
    * signal a count-over-members query would silently hide).
    *
    * @return (cluster: long, n_members: long) — one row per centroid
    */
  def ivfClusterStats(spark: org.apache.spark.sql.SparkSession,
                      table: String): DataFrame =
    spark.table(s"${table}_centroids")
      .select(col("cid").as("cluster"))
      .join(ivfIndex.live(spark, table)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n")), Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n_members"))

  /** Serve a query batch against an [[ingestLsh]] index: queries hash
    * with the SIDE-CAR's (nPlanes, nTables) — parameter mismatch is
    * impossible — and broadcast onto the banded scan; candidates dedup
    * and rank exactly like [[topKLsh]]'s multi-table path, so output
    * is bit-identical to the per-run operator at the index parameters
    * (shared gate oracle; AnnRecallSpec asserts parity and that the
    * probe plan hashes only the query side).
    */
  def topKLshIngested(spark: org.apache.spark.sql.SparkSession, table: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nSalts: Int = 0,
                      asOf: Option[Long] = None): DataFrame = {
    val (nPlanes, nTables) = lshIndex.load(spark, table)
    val banded = lshIndex.live(spark, table, asOf = asOf)
    val (q0, salts) = prepQueries(queries, idCol, vecCol, nSalts, floor = 1L)
    val matched = banded
      .join(broadcast(tabled(q0, "qv", nPlanes, nTables)), Seq("tbl", "bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    val scored = matched.groupBy(col("query_id"), col("nn_id"))
      .agg(max(col("score")).as("score"))
    topKMerge(scored, k, salts)
  }

  def topKIvf(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4, nSalts: Int = 0,
              kmeansIters: Int = 0): DataFrame = {
    val (c, cent) = quantizedCorpus(corpus, idCol, vecCol, nCentroids, kmeansIters)
    // assign each corpus vector to its best centroid: narrow map against
    // the literal centroid array — never a per-vector shuffle or window
    val assign = assignClusters(c, cent)
    val (q, salts) = prepQueries(queries, idCol, vecCol, nSalts)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cid").asc)
    // probe selection: explode the literal centroids per query row —
    // narrow, then a window over (queries x nCentroids) rows only
    val probes = q.select(col("query_id"), col("qv"), explode(typedLit(cent)).as("ct"))
      .select(col("query_id"), col("qv"),
        col("ct").getField("_1").as("cid"), col("ct").getField("_2").as("centv"))
      .withColumn("sim", dot(col("qv"), col("centv")))
      .withColumn("r", row_number().over(wq)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cluster"))
    val scored = assign.join(broadcast(probes), Seq("cluster"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
    topKMerge(scored, k, salts)
  }

  /** `nTables > 1` switches on OR-amplified multi-table LSH (the
    * classic Indyk–Motwani recall amplification): each table hashes
    * with its own independent `nPlanes` hyperplanes (table t uses
    * planes [t*nPlanes, (t+1)*nPlanes)), candidates are the UNION of
    * same-bucket matches across tables, and a candidate found by
    * several tables is deduplicated before the rank. Recall per true
    * neighbor rises from p^b to 1-(1-p^b)^L while each table's bucket
    * stays selective — the standard answer when one table's recall is
    * data-limited (see AnnRecallSpec for the measured floors).
    *
    * Scale shape: the corpus side explodes nTables narrow bucket keys
    * per vector (no shuffle); queries stay broadcast; the only new
    * exchange is the candidate dedup, keyed on (query, candidate)
    * pairs — candidate-sized, never corpus-sized.
    */
  /** Explode `nTables` (tbl, bucket) keys per row — table t hashes with
    * its own independent planes [t*nPlanes, (t+1)*nPlanes). Shared by
    * [[topKLsh]] and [[lshCandidatePairs]] so the selectivity diagnostic
    * measures exactly the join the ANN path runs.
    */
  private def tabled(df: DataFrame, v: String, nPlanes: Int, nTables: Int): DataFrame =
    df.select(col("*"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("tbl"),
          hyperplaneBucket(col(v), nPlanes, t * nPlanes).as("bucket"))): _*)).as("tb"))
      .select(df.columns.map(col) :+ col("tb.tbl").as("tbl")
        :+ col("tb.bucket").as("bucket"): _*)

  /** Distinct (query_id, nn_id) candidate pairs [[topKLsh]] would score
    * at these parameters — the SELECTIVITY diagnostic. candidate rate =
    * count(this) / (|Q| * (|C|-1)) is the fraction of brute-force work
    * the index actually leaves; recall without this number is
    * meaningless (any config reaches recall 1 by degenerating to
    * all-pairs). Ships only id pairs through the dedup exchange — no
    * vectors — so measuring costs a fraction of the search itself.
    * AnnRecallSpec pins a CEILING on this next to each gate config's
    * recall floor.
    */
  def lshCandidatePairs(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, nPlanes: Int, nTables: Int = 1): DataFrame = {
    require(nTables >= 1, "nTables must be positive")
    val c0 = graft.Partitioning.spread(corpus)
      .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv"))
    val q0 = queries.select(col(idCol).as("query_id"), normalize(col(vecCol)).as("qv"))
    tabled(c0.select(col("nn_id"), col("cv")), "cv", nPlanes, nTables)
      .select(col("nn_id"), col("tbl"), col("bucket"))
      .join(broadcast(tabled(q0, "qv", nPlanes, nTables)
        .select(col("query_id"), col("tbl"), col("bucket"))), Seq("tbl", "bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id")).distinct()
  }

  /** `excludeSelf` as on [[topK]]: false for cross-set searches (bitext
    * src/tgt sides) where overlapping id spaces must not drop pairs.
    */
  def topKLsh(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nPlanes: Int = 8, nSalts: Int = 0,
              nTables: Int = 1, excludeSelf: Boolean = true): DataFrame = {
    require(nTables >= 1, "nTables must be positive")
    def noSelf(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col("nn_id") =!= col("query_id")) else df
    val c0 = graft.Partitioning.spread(corpus)
      .select(col(idCol).as("nn_id"), normalize(col(vecCol)).as("cv"))
    val (q0, salts) = prepQueries(queries, idCol, vecCol, nSalts, floor = 1L)
    if (nTables == 1) {
      val c = c0.withColumn("bucket", hyperplaneBucket(col("cv"), nPlanes))
      val q = q0.withColumn("bucket", hyperplaneBucket(col("qv"), nPlanes))
      val scored = noSelf(c.join(broadcast(q), Seq("bucket")))
        .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
      topKMerge(scored, k, salts)
    } else {
      val matched = noSelf(tabled(c0, "cv", nPlanes, nTables)
        .join(broadcast(tabled(q0, "qv", nPlanes, nTables)),
          Seq("tbl", "bucket")))
        .withColumn("score", graft.Num.r6(dot(col("cv"), col("qv"))))
      // same pair found by several tables: identical score by
      // construction, so max() is pure dedup (pair-keyed exchange)
      val scored = matched.groupBy(col("query_id"), col("nn_id"))
        .agg(max(col("score")).as("score"))
      topKMerge(scored, k, salts)
    }
  }
}
