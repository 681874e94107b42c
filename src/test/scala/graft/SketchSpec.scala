package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Incremental, Layout, Prune, Sketch}

/** Sketch / layout / incremental-maintenance semantics: HLL accuracy and
  * mergeability, count-min's one-sided error, Z-order's bounding-box
  * effect (the actual data-skipping guarantee), incremental-state
  * equality with the one-shot aggregate, and bloom-prune's exactness.
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  // ------------------------------------------------------------ HyperLogLog

  test("HLL estimate is within 3 standard errors of the true cardinality") {
    import spark.implicits._
    val n = 5000
    val df = (1 to n).map(i => ("g", i)).toDF("g", "k")
    val est = Sketch.hllDistinct(df, "k", Seq("g")).collect()(0).getDouble(1)
    // σ ≈ 1.04/√m = 6.5% at m=256
    assert(math.abs(est - n) / n < 0.195, s"est=$est true=$n")
  }

  test("HLL is insensitive to duplication (distinct, not count)") {
    import spark.implicits._
    val base = (1 to 1000).map(i => ("g", i))
    val dup = base ++ base ++ base
    val e1 = Sketch.hllDistinct(base.toDF("g", "k"), "k", Seq("g")).collect()(0).getDouble(1)
    val e2 = Sketch.hllDistinct(dup.toDF("g", "k"), "k", Seq("g")).collect()(0).getDouble(1)
    assert(e1 == e2)
  }

  test("HLL registers merge: shard-wise max equals whole-input registers") {
    import spark.implicits._
    val all = (1 to 3000).map(i => ("g", i))
    val (s1, s2) = all.splitAt(1200) // overlapping shard added below: idempotence
    val whole = Sketch.hllRegisters(all.toDF("g", "k"), "k", Seq("g"))
    val merged = Sketch.hllMerge(Seq(
      Sketch.hllRegisters(s1.toDF("g", "k"), "k", Seq("g")),
      Sketch.hllRegisters(s2.toDF("g", "k"), "k", Seq("g")),
      Sketch.hllRegisters(s1.take(100).toDF("g", "k"), "k", Seq("g"))), Seq("g"))
    val w = whole.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val m = merged.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(w == m)
    // and therefore the estimates agree exactly
    val ew = Sketch.hllEstimate(whole, Seq("g")).collect()(0).getDouble(1)
    val em = Sketch.hllEstimate(merged, Seq("g")).collect()(0).getDouble(1)
    assert(ew == em)
  }

  test("HLL small-range correction engages below 2.5m and stays accurate") {
    import spark.implicits._
    val n = 100 // well under 2.5·256 = 640 raw-estimate territory
    val df = (1 to n).map(i => ("g", i)).toDF("g", "k")
    val est = Sketch.hllDistinct(df, "k", Seq("g")).collect()(0).getDouble(1)
    assert(math.abs(est - n) / n < 0.15, s"est=$est true=$n")
  }

  // ------------------------------------------------------------ Count-min

  test("count-min never underestimates and is exact for isolated heavy keys") {
    import spark.implicits._
    // key 7 appears 500 times, keys 100..399 once each
    val rows = Seq.fill(500)(7) ++ (100 until 400)
    val df = rows.toDF("k")
    val sk = Sketch.countMinSketch(df, "k")
    val keys = (Seq(7) ++ (100 until 400) ++ Seq(9999)).distinct.toDF("k")
    val est = Sketch.countMinEstimate(sk, keys, "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(identity).map { case (k, v) => k.toLong -> v.size.toLong }
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"key $k est ${est(k)} < exact $c")
    }
    // the heavy key dominates every bucket it lands in
    assert(est(7L) >= 500L && est(7L) <= 500L + 300L)
    // an absent key can only read collision mass, never negative
    assert(est(9999L) >= 0L)
  }

  test("count-min counter table is bounded by d*w regardless of input size") {
    import spark.implicits._
    val df = (1 to 20000).map(i => i % 997).toDF("k")
    val n = Sketch.countMinSketch(df, "k").count()
    assert(n <= Sketch.CmDepth.toLong * Sketch.CmWidth)
  }

  // ------------------------------------------------------------ Z-order

  test("zValue is a bijection on the bits-bounded grid") {
    import spark.implicits._
    val pts = for (x <- 0 until 32; y <- 0 until 32) yield (x, y)
    val zs = pts.toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"), 5).as("z"))
      .collect().map(_.getLong(0))
    assert(zs.distinct.length == 1024)
    assert(zs.min == 0L && zs.max == 1023L)
  }

  test("zorderBy partitions have far tighter 2-D bounding boxes than a 1-D sort") {
    import spark.implicits._
    // uniform grid: 64x64 points, 16 partitions
    val pts = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y)).toDF("x", "y")
    def meanBoxArea(df: DataFrame): Double = {
      val areas = df.rdd.mapPartitions { it =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val xs = rows.map(_.getInt(0)); val ys = rows.map(_.getInt(1))
          Iterator(((xs.max - xs.min + 1).toDouble * (ys.max - ys.min + 1)))
        }
      }.collect()
      areas.sum / areas.length
    }
    val zed = Layout.zorderBy(pts, "x", "y", 6, 16)
    val sorted = pts.repartitionByRange(16, col("x")).sortWithinPartitions("x")
    val za = meanBoxArea(zed)
    val sa = meanBoxArea(sorted)
    // 1-D sort partitions span the full y range (area ≈ 4*64=256); Z-order
    // partitions are ~16x16 squares (area ≈ 256... for 16 parts of 4096 pts
    // each part has 256 pts: z gives 16x16=256 box, x-sort gives 4x64=256).
    // The skipping win shows on a SELECTIVE 2-D probe: count partitions
    // whose box intersects a small query rectangle.
    def touched(df: DataFrame, x0: Int, x1: Int, y0: Int, y1: Int): Int =
      df.rdd.mapPartitions { it =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val xs = rows.map(_.getInt(0)); val ys = rows.map(_.getInt(1))
          Iterator((xs.min <= x1 && xs.max >= x0 && ys.min <= y1 && ys.max >= y0))
        }
      }.collect().count(identity)
    val zt = touched(zed, 0, 15, 0, 15)
    val st = touched(sorted, 0, 15, 0, 15)
    // the probe rectangle is 1/16 of the plane: Z-order touches ~1-4
    // partitions, the x-sort touches every partition overlapping x∈[0,15]
    // but ALL of them span y fully, so it reads 4/16 with equality only
    // when the x-stripe aligns; the decisive assert is strict improvement
    assert(zt <= st, s"zorder touched $zt > sort $st")
    assert(zt <= 4, s"zorder touched $zt partitions for a 1/16 probe")
    assert(za <= sa * 1.05, s"zorder mean box $za vs sort $sa")
  }

  // ------------------------------------------------------------ Incremental

  test("incremental merge over batches equals the one-shot aggregate") {
    import spark.implicits._
    val rows = (1 to 300).map(i => (s"g${i % 3}", (i * 37 % 1000).toLong))
    val df = rows.toDF("g", "v")
    val batches = Seq(0, 1, 2).map(p => df.filter(col("v") % 3 === p))
    val merged = Incremental.finalizeState(
      Incremental.mergeStates(batches.map(b =>
        Incremental.aggState(b, Seq("g"), "v")), Seq("g")), Seq("g"))
    val oneShot = Incremental.finalizeState(
      Incremental.aggState(df, Seq("g"), "v"), Seq("g"))
    val m = merged.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val o = oneShot.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(m == o)
  }

  test("incremental merge is associative: ((a+b)+c) == (a+(b+c))") {
    import spark.implicits._
    val df = (1 to 120).map(i => (s"g${i % 2}", i.toLong)).toDF("g", "v")
    val Seq(a, b, c) = Seq(0, 1, 2).map(p =>
      Incremental.aggState(df.filter(col("v") % 3 === p), Seq("g"), "v"))
    val l = Incremental.mergeStates(Seq(Incremental.mergeStates(Seq(a, b), Seq("g")), c), Seq("g"))
    val r = Incremental.mergeStates(Seq(a, Incremental.mergeStates(Seq(b, c), Seq("g"))), Seq("g"))
    assert(l.collect().map(_.toSeq).toSet == r.collect().map(_.toSeq).toSet)
  }

  // ------------------------------------------------------------ Bloom prune

  test("bloomSemiFilter keeps every matching row; exact join result unchanged") {
    import spark.implicits._
    val big = (1 to 2000).map(i => (i % 100, i)).toDF("k", "v")
    val small = Seq(3, 7, 42).toDF("k")
    val pruned = Prune.bloomSemiFilter(big, col("k"), small, col("k"),
      expectedItems = 10L, numBits = 1L << 12)
    // no false negatives: every truly-matching row survives
    val joined = pruned.join(small.withColumnRenamed("k", "sk"), col("k") === col("sk"))
      .select("k", "v").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val plain = big.filter(col("k").isin(3, 7, 42))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(joined == plain)
    // and the filter actually prunes: ≤ small fraction survives pre-join
    val kept = pruned.count()
    assert(kept < 2000, s"bloom kept all $kept rows")
    assert(kept >= plain.size)
  }

  test("bloomSemiFilter with an empty small side drops everything") {
    import spark.implicits._
    val big = (1 to 50).toDF("k")
    val small = Seq.empty[Int].toDF("k")
    assert(Prune.bloomSemiFilter(big, col("k"), small, col("k")).count() == 0L)
  }

  // ------------------------------------------------- Histogram quantiles

  test("histogram shards merge to the one-shot state; quantiles within one bin width of exact") {
    import spark.implicits._
    // skewed deterministic values in [0, 1000)
    val vals = (1 to 3000).map(i => ("g", (i * i % 997).toDouble))
    val df = vals.toDF("g", "v")
    val (lo, hi, nBins) = (0.0, 1000.0, 50)
    val oneShot = Sketch.histogram(df, "v", Seq("g"), lo, hi, nBins)
    val shards = Seq(0, 1, 2).map(p =>
      Sketch.histogram(df.filter(pmod(hash(col("v")), lit(3)) === p),
        "v", Seq("g"), lo, hi, nBins))
    val merged = Sketch.histMerge(shards, Seq("g"))
    assert(merged.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet)

    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val est = Sketch.histQuantiles(merged, Seq("g"), lo, hi, nBins, qs)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sorted = vals.map(_._2).sorted
    val width = (hi - lo) / nBins
    qs.foreach { q =>
      val exact = sorted(math.ceil(q * sorted.size).toInt - 1)
      assert(math.abs(est(q) - exact) <= width,
        s"q=$q est=${est(q)} exact=$exact width=$width")
    }
    // monotone in q
    val ordered = qs.map(est)
    assert(ordered === ordered.sorted, ordered.toString)
  }

  test("quantile sample: shard merge ≡ one-shot, idempotent under re-merge") {
    import spark.implicits._
    // unique ids, skewed values, two groups of very different sizes
    val rows = (1 to 2400).map(i =>
      (i.toLong, if (i % 4 == 0) "big" else "small", (i * i % 997).toDouble))
    val df = rows.toDF("id", "g", "v")
    val k = 32
    val oneShot = Sketch.quantileSample(df, "id", "v", Seq("g"), k)
    val shards = Seq(0, 1, 2).map(p =>
      Sketch.quantileSample(df.filter(pmod(col("id"), lit(3)) === p),
        "id", "v", Seq("g"), k))
    val merged = Sketch.quantileSampleMerge(shards, Seq("g"), k)
    assert(merged.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet,
      "bottom-k of shard bottom-ks must equal the one-shot bottom-k")
    // idempotence (the hllMerge property): re-merging a shard — and the
    // merged state itself — changes nothing
    val remerged = Sketch.quantileSampleMerge(
      Seq(merged, shards.head, merged), Seq("g"), k)
    assert(remerged.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet, "overlap-safe merge broken")
    // the salted build is bit-identical to the unsalted one (pure scale
    // shape): the merge's one-window bottom-k over every row's state
    val unsalted = Sketch.quantileSampleMerge(Seq(df.select(col("g"),
      Sketch.hash60(col("id")).as("h"), col("v").cast("double").as("v"))), Seq("g"), k)
    assert(unsalted.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet)
  }

  test("quantile sample: empirical rank error within the O(1/√k) band; exact when k ≥ group") {
    import spark.implicits._
    val n = 4000
    val rows = (1 to n).map(i => (i.toLong, "g", (i * 37 % 4001).toDouble))
    val df = rows.toDF("id", "g", "v")
    val k = 256
    val qs = Seq(0.25d, 0.5d, 0.75d, 0.95d)
    val est = Sketch.quantileSampleEstimate(
      Sketch.quantileSample(df, "id", "v", Seq("g"), k), Seq("g"), qs)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sorted = rows.map(_._3).sorted
    qs.foreach { q =>
      // realized rank of the estimate in the FULL data
      val rank = sorted.count(_ <= est(q)).toDouble / n
      // 3/√k ≈ 0.19 would be the 3-sigma band; the deterministic
      // md5-hash sample lands well inside it — pin 0.15
      assert(math.abs(rank - q) <= 0.15,
        s"q=$q est=${est(q)} realized rank=$rank (k=$k)")
    }
    // monotone in q
    val ordered = qs.map(est)
    assert(ordered === ordered.sorted, ordered.toString)
    // k ≥ group size degenerates to EXACT quantiles of the data
    val small = (1 to 50).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "g", "v")
    val exact = Sketch.quantileSampleEstimate(
      Sketch.quantileSample(small, "id", "v", Seq("g"), 64), Seq("g"),
      Seq(0.5d, 1.0d))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(exact === Map(0.5d -> 25.0d, 1.0d -> 50.0d), exact.toString)
  }

  test("histogram clamps out-of-range values into edge bins (no dropped mass)") {
    import spark.implicits._
    val df = Seq(("g", -50.0), ("g", 0.0), ("g", 999.0), ("g", 5000.0))
      .toDF("g", "v")
    val st = Sketch.histogram(df, "v", Seq("g"), 0.0, 1000.0, 10)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(st.values.sum === 4L, "all four rows binned")
    assert(st(0L) === 2L, "below-lo clamps to bin 0")
    assert(st(9L) === 2L, "at/above-hi clamps to the top bin")
  }

  // ------------------------------------------------------ z-score outliers

  test("zscoreOutliers flags exactly the values beyond the threshold, per group") {
    import spark.implicits._
    // group a: 9 values at 10.0 + one at 110.0 — the spike is the lone
    // outlier (z ≈ 3·σ); group b: constant → zero variance, no flags
    val rows = (1 to 9).map(i => (i.toLong, "a", 10.0)) :+ (10L, "a", 110.0)
    val df = (rows ++ (11 to 15).map(i => (i.toLong, "b", 7.0)))
      .toDF("id", "g", "v")
    val got = graft.ops.Profile.zscoreOutliers(df, "v", Seq("g"), threshold = 2.0)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("z")).toMap
    assert(got.keySet === Set(10L), got.toString)
    assert(got(10L) === 3.0d, "spike in a 9+1 split sits exactly 3 population sigmas out")
  }

  test("zscoreOutliers: null values ignored; tiny groups flag nothing") {
    import spark.implicits._
    val df = Seq((1L, "a", Some(5.0)), (2L, "a", None), (3L, "b", Some(1.0)))
      .toDF("id", "g", "v")
    assert(graft.ops.Profile.zscoreOutliers(df, "v", Seq("g"), 2.0).count() === 0L)
  }

  test("HLL intersect estimate: known overlap within tolerance; self = identity; disjoint clamps to ~0") {
    import spark.implicits._
    // A = 1..4000, B = 3001..7000 → |A∩B| = 1000, |A∪B| = 7000. The
    // estimator's error is the union's (~6.5% s.e. at m=256) scaled by
    // |A∪B|/|A∩B| = 7 — allow 3 scaled standard errors
    val a = (1L to 4000L).map(Tuple1(_)).toDF("k")
    val b = (3001L to 7000L).map(Tuple1(_)).toDF("k")
    val ra = Sketch.hllRegisters(a.withColumn("g", lit("x")), "k", Seq("g"))
    val rb = Sketch.hllRegisters(b.withColumn("g", lit("x")), "k", Seq("g"))
    val row = Sketch.hllIntersectEstimate(ra, rb, Seq("g")).collect().head
    val est = row.getAs[Double]("est_intersect")
    val tol = 3.0 * 0.065 * 7000.0
    assert(math.abs(est - 1000.0) <= tol, s"est_intersect $est vs true 1000 (tol $tol)")
    // self-intersection: union = A, so est(A∩A) = est(A) exactly
    // (register-max idempotence makes the arithmetic collapse)
    val self = Sketch.hllIntersectEstimate(ra, ra, Seq("g")).collect().head
    assert(self.getAs[Double]("est_intersect") === self.getAs[Double]("est_a"))
    // disjoint sets: inclusion–exclusion noise clamps at 0, never
    // reports a materially negative or large phantom overlap
    val c = (100001L to 104000L).map(Tuple1(_)).toDF("k")
    val rc = Sketch.hllRegisters(c.withColumn("g", lit("x")), "k", Seq("g"))
    val dj = Sketch.hllIntersectEstimate(ra, rc, Seq("g")).collect().head
    val djEst = dj.getAs[Double]("est_intersect")
    assert(djEst >= 0.0 && djEst <= 3.0 * 0.065 * 8000.0,
      s"disjoint overlap estimate $djEst out of noise band")
  }

  test("linearFit: perfect line recovered exactly; noise lowers r2; degenerate groups dropped") {
    import spark.implicits._
    // group a: y = 2.5x + 7 exactly (cents-exact inputs) → slope/
    // intercept recovered on the r6 grid, r2 = 1
    val lineRows = (1 to 20).map(i => ("a", i.toDouble, 2.5 * i + 7.0))
    // group b: same line with a planted off-line point → r2 < 1
    val noisy = (1 to 19).map(i => ("b", i.toDouble, 2.5 * i + 7.0)) :+ (("b", 20.0, 500.0))
    // group c: zero x-variance (vertical) → no OLS fit, dropped
    // group d: n = 1 → dropped
    val degen = Seq(("c", 4.0, 1.0), ("c", 4.0, 9.0), ("d", 1.0, 2.0))
    val df = (lineRows ++ noisy ++ degen).toDF("g", "x", "y")
    val got = graft.ops.Profile.linearFit(df, "x", "y", Seq("g"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet === Set("a", "b"), s"degenerate groups must drop: $got")
    val (na, sa, ia, ra) = got("a")
    assert(na === 20L && sa === 2.5d && ia === 7.0d && ra === 1.0d, got("a").toString)
    val (_, _, _, rb) = got("b")
    assert(rb < 0.9d, s"planted outlier must depress r2, got $rb")
    // flat-y group: slope 0, r2 reported 0 by the 0/0 guard
    val flat = (1 to 5).map(i => ("f", i.toDouble, 3.0)).toDF("g", "x", "y")
    val f = graft.ops.Profile.linearFit(flat, "x", "y", Seq("g")).collect().head
    assert(f.getDouble(2) === 0.0d && f.getDouble(4) === 0.0d)
  }

  test("momentState: cents² beyond Long range stays exact (decimal square, no wrap)") {
    import spark.implicits._
    // |v| ≥ ~3.04e7 ⇒ cents² > Long.MaxValue: a long square would wrap
    // silently (non-ANSI) and a negative __varnum would drop the group.
    // 9 values at 1e8 + one spike at 2e8 mirrors the small-value test
    // shape, so the z of the spike is exactly 3.0 if the moments are
    // exact
    val rows = (1 to 9).map(i => (i.toLong, "a", 1.0e8)) :+ (10L, "a", 2.0e8)
    val df = rows.toDF("id", "g", "v")
    val st = graft.ops.Profile.momentState(df, "v", Seq("g")).collect()
    assert(st.length === 1)
    val r = st.head
    val ss = r.getAs[java.math.BigDecimal]("__ss")
    // cents = v·100: 1e10 and 2e10; Σc² = 9·(1e10)² + (2e10)² = 1.3e21
    assert(BigInt(ss.toBigInteger) === BigInt(13) * BigInt(10).pow(20), ss.toString)
    val varnum = r.getAs[java.math.BigDecimal]("__varnum")
    assert(BigInt(varnum.toBigInteger) > 0, s"varnum must stay positive, got $varnum")
    val got = graft.ops.Profile.zscoreOutliers(df, "v", Seq("g"), threshold = 2.0)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Double]("z")).toMap
    assert(got.keySet === Set(10L), got.toString)
    assert(got(10L) === 3.0d)
  }
}
