package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Num
import graft.llm.Dedup

/** Bounded-size sketch aggregates — the cardinality / frequency
  * estimators a 100 TB profiling pass runs where exact answers would
  * shuffle the full key space. Both sketches are expressed as plain
  * groupBy pipelines over deterministic hashes, so Catalyst plans them
  * with map-side partial aggregation: the shuffle carries at most the
  * FIXED sketch state (m registers / d·w counters) per partition, never
  * the raw keys — the property that makes them viable where
  * `count(DISTINCT …)` or a full frequency table is not.
  *
  * Engine extension surface (no reference analogue — the reference's
  * RDBMS answers these with exact SQL at its scale): determinism is part
  * of the contract here, like the k-means/minhash families — the hash is
  * md5-derived (not seeded per run), so estimates are bit-identical
  * across runs AND across engines (the DuckDB oracle reproduces them
  * exactly, see `entry/SketchGates.scala`).
  */
object Sketch {

  /** 60-bit uniform hash of any column: first 15 hex chars of
    * md5(CAST(c AS STRING)). md5 is a native codegen'd expression in
    * both engines and the hex prefix parses to the same BIGINT on both
    * sides (`conv(hex,16,10)` here, `CAST('0x'||hex AS BIGINT)` in
    * DuckDB) — the cross-engine-reproducible uniform hash the sketch
    * contracts need (xxhash64/murmur3 exist only on the Spark side).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  // ------------------------------------------------------------ HyperLogLog

  /** Register count m = 2^B; B=8 gives ±6.5% standard error in ~256
    * longs of state per group — the classic profiling trade.
    */
  val HllB = 8
  val HllM = 256

  /** Bias-correction constant α_m for m = 256 (Flajolet et al. 2007,
    * §4: α_m = 0.7213/(1 + 1.079/m) for m ≥ 128).
    */
  val HllAlpha: Double = 0.7213d / (1.0d + 1.079d / HllM.toDouble)

  /** Per-group HLL register table `(groupCols…, bucket, m_rho)` — the
    * MERGEABLE form: registers of a union of shards are the bucket-wise
    * MAX of the shards' registers ([[hllMerge]]), which is what makes
    * the sketch re-aggregable across partitions, days, or tiers without
    * touching raw data. ρ is capped at 40 so every 2^-ρ term in the
    * estimator is a dyadic rational ≥ 2^-40: partial sums of ≤ 256 such
    * terms stay EXACTLY representable in a double (48 < 52 mantissa
    * bits), making the final sum independent of aggregation order — the
    * determinism contract float summation would otherwise break. The
    * cap costs nothing: ρ > 40 requires 40 leading zero bits
    * (probability 2^-40 per value).
    */
  def hllRegisters(df: DataFrame, keyCol: String, groupCols: Seq[String]): DataFrame = {
    val h = hash60(col(keyCol))
    val r = shiftrightunsigned(h, HllB)
    // bitlen(r) = length(bin(r)) (no leading zeros in either engine's
    // bin); ρ = leading-zeros-in-52-bit-field + 1 = 53 - bitlen
    val rho = least(lit(53) - length(bin(r)), lit(40))
    df.select(groupCols.map(col) :+ h.bitwiseAND(lit((HllM - 1).toLong)).as("bucket") :+ rho.as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("m_rho"))
  }

  /** Merge register tables of disjoint (or overlapping — HLL is
    * idempotent) shards: bucket-wise max. Every shard must have been
    * built by [[hllRegisters]] with the same key column semantics —
    * the register layout (HllB/HllM) is a library constant, so shard
    * compatibility is automatic for states built by this object.
    */
  def hllMerge(shards: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    require(shards.nonEmpty, "hllMerge needs at least one shard")
    shards.reduce(_ unionByName _)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("m_rho")).as("m_rho"))
  }

  /** Estimate per group from a register table: raw harmonic-mean
    * estimate α·m²/Z with the standard small-range linear-counting
    * correction (est ≤ 2.5m with empty registers → m·ln(m/V)). All
    * arithmetic is the exact expression the DuckDB oracle runs; the
    * result is r6-rounded.
    *
    * @return (groupCols…, est_distinct: double)
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame = {
    val m = lit(HllM.toDouble)
    // 2^-ρ as integer-shift-then-divide: exact, no libm pow
    val inv = lit(1.0d) / expr("cast(shiftleft(cast(1 as bigint), m_rho) as double)")
    val agg = registers.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("present"), sum(inv).as("sinv"))
    val z = (m - col("present")) + col("sinv")
    val raw = lit(HllAlpha) * m * m / z
    val v = lit(HllM.toLong) - col("present")
    val est = when(raw <= m * lit(2.5d) && v > 0,
      m * log(m / v.cast("double"))).otherwise(raw)
    agg.select(groupCols.map(col) :+ Num.r6(est).as("est_distinct"): _*)
  }

  /** One-call per-group approximate distinct count. */
  def hllDistinct(df: DataFrame, keyCol: String, groupCols: Seq[String]): DataFrame =
    hllEstimate(hllRegisters(df, keyCol, groupCols), groupCols)

  /** Set-OVERLAP estimate from two register tables by inclusion–
    * exclusion: est(A∩B) = est(A) + est(B) − est(A∪B), the union's
    * registers being the bucket-wise max ([[hllMerge]]) — the
    * "how contaminated is this training shard against that eval set"
    * RATE estimator that never touches raw keys (each side is ≤ m
    * registers per group; pair it with the exact n-gram decontaminate
    * operators when membership, not rate, is the question). Error
    * compounds — roughly the union's standard error scaled by
    * |A∪B|/|A∩B| — so small overlaps read noisily; the estimate is
    * clamped at 0 (inclusion–exclusion of independent sketches can go
    * negative). Groups present on one side only report their one-sided
    * estimate and intersect 0-ish via a full outer join. All arithmetic
    * is the exact expression the DuckDB oracle runs; every estimate is
    * r6-rounded BEFORE the combination (and the combination r6-rounded
    * again), so the output is bit-reproducible cross-engine.
    *
    * @return (groupCols…, est_a, est_b, est_union, est_intersect)
    */
  def hllIntersectEstimate(a: DataFrame, b: DataFrame,
                           groupCols: Seq[String]): DataFrame = {
    val ea = hllEstimate(a, groupCols)
      .withColumnRenamed("est_distinct", "est_a")
    val eb = hllEstimate(b, groupCols)
      .withColumnRenamed("est_distinct", "est_b")
    val eu = hllEstimate(hllMerge(Seq(a, b), groupCols), groupCols)
      .withColumnRenamed("est_distinct", "est_union")
    ea.join(eb, groupCols, "full_outer")
      .join(eu, groupCols, "inner") // union covers every group by construction
      .select(groupCols.map(col) ++ Seq(
        coalesce(col("est_a"), lit(0.0d)).as("est_a"),
        coalesce(col("est_b"), lit(0.0d)).as("est_b"),
        col("est_union"),
        Num.r6(greatest(
          coalesce(col("est_a"), lit(0.0d)) + coalesce(col("est_b"), lit(0.0d))
            - col("est_union"), lit(0.0d))).as("est_intersect")): _*)
  }

  // ------------------------------------------------------------ Count-min

  /** Count-min depth (independent hash rows) and width (buckets per
    * row): overestimate ≤ 2N/w with probability 1 − 2^-d. The counter
    * table is d·w rows TOTAL regardless of input size — the whole
    * point: map-side combine reduces each partition to ≤ d·w partials
    * before the shuffle.
    */
  val CmDepth = 4
  val CmWidth = 512
  val CmP = 2147483647L // 2^31 − 1, the minhash prime

  /** The d pairwise-independent hash constants, from the shared
    * splitmix-derived constant pool (seeds offset to 1000+ so they
    * never collide with the minhash permutation seeds).
    */
  def cmConstants: Seq[(Long, Long)] =
    (0 until CmDepth).map(i =>
      (Dedup.mixConstant(1000L + 2 * i), Dedup.mixConstant(1001L + 2 * i)))

  private def cmBucket(key: Column, a: Long, b: Long): Column =
    ((lit(a) * key + lit(b)) % lit(CmP)) % lit(CmWidth.toLong)

  /** Build the counter table `(i, bucket, cnt)` over occurrences of an
    * integer key: each row increments one counter per hash row. The
    * explode is d literal structs per input row — narrow, codegen'd —
    * and the groupBy's partial aggregation bounds the shuffle at d·w
    * rows per map partition.
    */
  def countMinSketch(df: DataFrame, keyCol: String): DataFrame = {
    val key = col(keyCol).cast("long")
    val rows = cmConstants.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("i"), cmBucket(key, a, b).as("bucket"))
    }
    df.select(explode(array(rows: _*)).as("e"))
      .groupBy(col("e.i").as("i"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("i"), col("bucket"), col("cnt"))
  }

  /** Merge count-min counter tables of shards: counter-wise sum —
    * exact, because each shard's counter (i, bucket) counts disjoint
    * occurrences under the SAME hash constants (a library constant, so
    * shard compatibility is automatic like [[hllMerge]]'s). Unlike HLL
    * this merge is NOT idempotent: merging a shard twice double-counts,
    * the standard linear-sketch contract.
    */
  def countMinMerge(shards: Seq[DataFrame]): DataFrame = {
    require(shards.nonEmpty, "countMinMerge needs at least one shard")
    shards.reduce(_ unionByName _)
      .groupBy(col("i"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  // ------------------------------------------------- Histogram quantiles

  /** Fixed-boundary histogram sketch over `[lo, hi)`: per group, one
    * count per occupied bin — at most `nBins` rows of state per group
    * regardless of input size, the third leg of the sketch family
    * (HLL = cardinality, count-min = frequency, histogram = quantiles).
    * Values below `lo` / at-or-above `hi` clamp into the edge bins, so
    * mass is never silently dropped; NULLs are ignored. Mergeable by
    * bin-wise SUM ([[histMerge]]) — shards, days, and tiers combine
    * without raw data, the same re-aggregability contract as
    * [[hllMerge]]. The bin index is pure double arithmetic
    * (`floor((v − lo) / w)`, w = (hi − lo)/nBins) identical in both
    * engines, so the state — and everything derived from it — is
    * bit-reproducible.
    *
    * @return (groupCols…, bin: long, cnt: long)
    */
  def histogram(df: DataFrame, valueCol: String, groupCols: Seq[String],
                lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    val bin = least(greatest(floor((col(valueCol).cast("double") - lit(lo)) / lit(w)),
      lit(0.0d)), lit((nBins - 1).toDouble)).cast("long")
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ bin.as("bin"): _*)
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge histogram states of shards: bin-wise sum.
    *
    * CALLER INVARIANT — the histogram state `(groupCols…, bin, cnt)`
    * does NOT carry its `(lo, hi, nBins)` parameters: bin indices are
    * meaningful only relative to the bounds they were built with.
    * Merging shards built with different bounds, or calling
    * [[histQuantiles]] with parameters other than the state's, yields
    * silently wrong quantiles — the caller owns parameter consistency,
    * exactly as with any fixed-boundary histogram exchange format.
    */
  def histMerge(shards: Seq[DataFrame], groupCols: Seq[String]): DataFrame = {
    require(shards.nonEmpty, "histMerge needs at least one shard")
    shards.reduce(_ unionByName _)
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Estimate quantiles per group from a histogram state: for each q,
    * walk the cumulative bin counts to the first bin holding the
    * ⌈q·n⌉-th value and interpolate uniformly inside it — error is
    * bounded by one bin width by construction. The cumulative walk is a
    * window over the state relation, which is ≤ nBins rows per group
    * (window-over-sketch, not window-over-data — bounded state is what
    * makes the window admissible at 100 TB). Estimates are exact-integer
    * arithmetic up to the final interpolation, r6-rounded like every
    * cross-engine float. `(lo, hi, nBins)` MUST be the parameters the
    * state was built with (see the [[histMerge]] caller invariant —
    * the state does not carry them).
    *
    * @return (groupCols…, q: double, est: double) — one row per group × q
    */
  def histQuantiles(state: DataFrame, groupCols: Seq[String],
                    lo: Double, hi: Double, nBins: Int,
                    qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0d && q <= 1.0d),
      "quantiles must lie in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val w = (hi - lo) / nBins
    val grp = Window.partitionBy(groupCols.map(col): _*)
    val cum = state
      .withColumn("__cum", sum(col("cnt")).over(grp.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("cnt")).over(grp))
    qs.map { q =>
      val target = ceil(lit(q) * col("__n").cast("double"))
      val before = (col("__cum") - col("cnt")).cast("double")
      cum.where(before < target && col("__cum").cast("double") >= target)
        .select(groupCols.map(col) :+ lit(q).as("q") :+
          graft.Num.r6(lit(lo) + (col("bin").cast("double") +
            (target - before) / col("cnt").cast("double")) * lit(w)).as("est"): _*)
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------- Rank-based quantile sample

  /** Deterministic bottom-k-by-hash quantile sample — the RANK-based
    * quantile sketch: unlike [[histogram]] it needs NO (lo, hi) bounds
    * a priori, because its state is k actual data rows chosen by a
    * content hash, not fixed bins. Per group, keep the `k` rows whose
    * [[hash60]] of a UNIQUE row id is smallest — a uniform
    * without-replacement sample of the group (the hash is a random
    * uniform rank), so the sample's order statistics estimate the
    * group's quantiles with rank error O(1/√k) whp, the standard
    * sample-quantile bound.
    *
    * Why not KLL or GK: KLL's compactors are RANDOMIZED and
    * merge-order-dependent, GK is inherently sequential — neither
    * yields the bit-reproducible, aggregation-order-independent state
    * this engine's cross-engine oracle contract requires. Bottom-k by
    * deterministic hash has every property that matters at 100 TB —
    * bounded state (k rows/group), one-pass build, exact associative
    * idempotent merge ([[quantileSampleMerge]]: bottom-k of a union of
    * bottom-ks IS the union's bottom-k, the [[hllMerge]] property) —
    * and is reproducible anywhere, at a k-vs-accuracy trade (KLL's
    * space advantage buys error ε in O(1/ε·√log) vs the sample's
    * O(1/ε²); at k ≤ a few thousand rows of state per group, the
    * simpler sketch's cost is noise).
    *
    * Scale shape: the per-group bottom-k is the salted two-stage
    * [[Reshape.saltedTopN]], so no task ever windows a full group.
    * `idCol` must be unique per row (duplicate ids bias the sample toward their
    * rows — same contract as the IVF family's unique-id rule); NULL
    * values are excluded (no rank is defined for them).
    *
    * @return (groupCols…, h: long, v: double) — ≤ k rows per group
    */
  def quantileSample(df: DataFrame, idCol: String, valueCol: String,
                     groupCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val base = df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ hash60(col(idCol)).as("h")
        :+ col(valueCol).cast("double").as("v"): _*)
    bottomK(base, groupCols, k, nSalts = 8)
  }

  /** Per-group bottom-k by (h, v): [[Reshape.saltedTopN]] salted on
    * the row's own hash `h`.
    */
  private def bottomK(rows: DataFrame, groupCols: Seq[String], k: Int,
                      nSalts: Int): DataFrame =
    Reshape.saltedTopN(rows, groupCols.map(col), Seq(col("h").asc, col("v").asc),
      col("h"), lit(k), nSalts, "__r").drop("__r")

  /** Merge quantile-sample states: bottom-k of the deduplicated union.
    * EXACT and idempotent — a row kept by any shard re-enters the
    * ranking with its original hash, so merging overlapping shards (or
    * the same shard twice) cannot skew the sample: duplicates collapse
    * on (group, h, v) first (the same physical row always carries the
    * same pair; distinct rows colliding on both h AND v are
    * indistinguishable to the order statistics anyway). The window
    * input is ≤ shards·k rows per group — sketch-sized, never
    * data-sized. Same caller invariant as [[histMerge]]: every shard
    * must have been built with the same idCol/valueCol semantics and
    * the same k.
    */
  def quantileSampleMerge(shards: Seq[DataFrame], groupCols: Seq[String],
                          k: Int): DataFrame = {
    require(shards.nonEmpty, "quantileSampleMerge needs at least one shard")
    bottomK(shards.reduce(_ unionByName _).distinct(), groupCols, k, nSalts = 1)
  }

  /** Per-group quantile estimates from a sample state: for each q, the
    * ⌈q·n'⌉-th smallest sampled VALUE (n' = sample size) — an actual
    * data value, so no arithmetic and no rounding discipline is needed
    * at all; ties in v break by h for a deterministic row (the
    * estimate is the same either way). The rank window runs over ≤ k
    * rows per group — window-over-sketch, the [[histQuantiles]]
    * admissibility argument.
    *
    * @return (groupCols…, q: double, est: double) — one row per group × q
    */
  def quantileSampleEstimate(state: DataFrame, groupCols: Seq[String],
                             qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0d && q <= 1.0d),
      "quantiles must lie in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val grp = Window.partitionBy(groupCols.map(col): _*)
    val ranked = state
      .withColumn("__rk", row_number().over(grp.orderBy(col("v").asc, col("h").asc)))
      .withColumn("__n", count(lit(1)).over(grp))
    qs.map { q =>
      ranked.where(col("__rk") === ceil(lit(q) * col("__n").cast("double")))
        .select(groupCols.map(col) :+ lit(q).as("q") :+ col("v").as("est"): _*)
    }.reduce(_ unionByName _)
  }

  /** Point-estimate the frequency of each key in `keys` (a one-column
    * relation of candidate keys): min over the d rows of the counter
    * each hash maps the key to, absent counters reading 0. The sketch
    * side of the join is ≤ d·w rows — broadcast — so estimation is a
    * narrow pass over the candidate keys.
    *
    * @return (key, est_cnt: long)
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    val key = col(keyCol).cast("long")
    val rows = cmConstants.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("i"), cmBucket(key, a, b).as("bucket"))
    }
    keys.select(key.as("key"), explode(array(rows: _*)).as("e"))
      .join(broadcast(sketch), col("e.i") === sketch("i") && col("e.bucket") === sketch("bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }
}
