package graft

import org.scalatest.funsuite.AnyFunSuite

/** PageRank semantics + plan shape. The dangling-mass path is exercised
  * here (the registered gate's bidirectional graph has no dangling
  * nodes, so its oracle omits the term) against a driver-side reference
  * that mirrors the operator's arithmetic exactly — same IEEE double
  * ops, same per-iteration [[Num.r6]] rounding — so expected values
  * carry no decimal-vs-binary hand-calculation risk.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(edges: Seq[(Long, Long)], iters: Int,
                  damping: Double = 0.85d): Map[Long, Double] = {
    val sqlc = spark
    import sqlc.implicits._
    graft.ops.Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters, damping)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** Reference: same formula, same rounding, plain Scala maps. With
    * `seeds` it is personalized PageRank: the seeds join the node set,
    * and the initial rank, the teleport and the dangling mass go to the
    * seeds only, split over their count. */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
                  d: Double = 0.85d, seeds: Seq[Long] = Nil): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct.sorted
    val seed: Long => Boolean = if (seeds.isEmpty) _ => true else seeds.toSet
    def masked(nd: Long, x: Double) = if (seed(nd)) x else 0.0d
    val n = nodes.count(seed).toDouble
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var rank = nodes.map(nd => nd -> masked(nd, 1.0d / n)).toMap
    val teleport = (1.0d - d) / n
    for (_ <- 1 to iters) {
      val insum = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => rank(e._1) / deg(e._1)).sum
      }
      val dm = nodes.filterNot(deg.contains).map(rank).sum
      rank = nodes.map(nd => nd -> Num.r6(masked(nd, teleport) +
        d * (insum.getOrElse(nd, 0.0d) + masked(nd, dm / n)))).toMap
    }
    rank
  }

  /** Jobs started while `f` runs; a marker job drains the listener bus
    * (its start is delivered after every event `f` caused). */
  private def jobs(f: => Unit): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "drain"))
          drained.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      f
      sc.setJobDescription("drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
    started.get
  }

  test("3-cycle is uniform at every iteration") {
    val got = run(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L), iters = 4)
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got.values.toSet.size === 1, s"cycle ranks must be equal: $got")
    assert(math.abs(got.values.sum - 1.0d) < 1e-4)
  }

  test("dangling node redistributes mass — matches the mirrored reference") {
    // 1 -> 2, 2 dangling; 3 -> 1 keeps node 1 non-trivial
    val edges = Seq(1L -> 2L, 3L -> 1L)
    for (iters <- Seq(1, 2, 5)) {
      assert(run(edges, iters) === ref(edges, iters), s"iters=$iters")
    }
  }

  test("power-law hub: keyed-checkpoint iteration stays exact under heavy key skew") {
    // the guide-§2.5 exposure the keyed checkpoint trades away: the
    // explicit-N repartition claims a layout AQE will not skew-split,
    // so a hub key pins one fat partition per iteration. This pins the
    // CORRECTNESS half of that trade on a power-law fixture — one hub
    // holding ~98% of the edges (every spoke points at it, it points
    // back at a chain) must produce exactly the reference ranks; the
    // perf half (a salted iteration join) is documented future work on
    // Partitioning.checkpointKeyed.
    val spokes = (1L to 64L).map(i => i -> 0L)
    val chain = (1L until 16L).map(i => i -> (i + 1L))
    val edges = spokes ++ chain :+ (0L -> 1L)
    for (iters <- Seq(1, 3)) {
      assert(run(edges, iters) === ref(edges, iters), s"iters=$iters")
    }
  }

  test("star graph matches reference and conserves mass") {
    val edges = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 10L -> 1L)
    val got = run(edges, iters = 3)
    assert(got === ref(edges, 3))
    assert(math.abs(got.values.sum - 1.0d) < 5 * 5e-6 * got.size)
  }

  test("multi-edges act as weights") {
    // 1 sends two shares to 2 and one to 3: rank(2) > rank(3)
    val got = run(Seq(1L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L), iters = 4)
    assert(got(2L) > got(3L), got.toString)
    assert(got === ref(Seq(1L -> 2L, 1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L), 4))
  }

  test("empty edge list yields an empty ranking, not a failure") {
    val sqlc = spark
    import sqlc.implicits._
    val out = graft.ops.Graph.pageRank(
      Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d", iters = 3)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("node", "rank"))
  }

  test("bucketed-edge twin: identical ranks, one fewer exchange per iteration") {
    val dir = "/root/testdata/sf0.001"
    val plain = SparkEntry.queries("graph_pagerank")(spark, dir)
    val bucketed = SparkEntry.queries("graph_pagerank_bucketed")(spark, dir)
    // bit-identical output: same arithmetic, same per-iteration rounding
    val pm = plain.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bm = bucketed.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pm === bm)
    // the visible (final-iteration) plan: NEITHER twin shuffles the
    // edge relation on the iteration join — the bucketed scan is
    // co-located by layout, and since round 20 the plain loop's
    // partitioning-preserving checkpoint (Partitioning.checkpointKeyed)
    // reaches the same per-iteration shape; the bucketed twin's
    // remaining advantage is paying ZERO raw-edge scan/shuffle/
    // materialization per run (build-time work the final-iteration
    // plan cannot show). Shuffles keyed on src (the join key) must be
    // absent from both; only the contribution aggregation may shuffle.
    def srcShuffles(p: String) =
      "Exchange hashpartitioning\\(src".r.findAllIn(p).size
    val pPlain = plain.queryExecution.executedPlan.toString
    val pBucketed = bucketed.queryExecution.executedPlan.toString
    assert(srcShuffles(pBucketed) === 0, s"bucketed iteration shuffles src:\n$pBucketed")
    assert(srcShuffles(pPlain) === 0, s"plain iteration shuffles src:\n$pPlain")
  }

  test("personalized PageRank with seeds = all nodes is bit-identical to standard (dangling included)") {
    val sqlc = spark
    import sqlc.implicits._
    // node 4 is dangling (no out-edges) — exercises PPR's dangling-mass
    // re-teleport against standard PageRank's, whose association the
    // PPR update deliberately mirrors
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L, 5L -> 1L)
    val df = edges.toDF("s", "d")
    val allNodes = (1L to 5L).map(Tuple1(_)).toDF("n")
    val std = graft.ops.Graph.pageRank(df, "s", "d", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ppr = graft.ops.Graph.pageRankPersonalized(df, "s", "d", allNodes, "n", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr === std, "uniform-seed PPR must collapse to standard PageRank exactly")
  }

  test("personalized PageRank matches the seeded reference: dangling non-seeds, a seed outside the edges") {
    val sqlc = spark
    import sqlc.implicits._
    // 4 and 6 are dangling non-seeds; seed 99 has no edge at all, so it
    // is a dangling seed whose mass re-teleports to the seed set
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L, 2L -> 5L, 5L -> 6L, 7L -> 1L)
    val seeds = Seq(1L, 5L, 99L)
    for (iters <- Seq(1, 2, 5, 10)) {
      val got = graft.ops.Graph.pageRankPersonalized(edges.toDF("s", "d"), "s", "d",
          seeds.toDF("n"), "n", iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === ref(edges, iters, seeds = seeds), s"iters=$iters")
    }
  }

  test("PageRank and personalized PageRank fold their setup into one count job") {
    val sqlc = spark
    import sqlc.implicits._
    // the dangling fixture at iters = 1: before the dangling flag rode
    // the keyed nodes, these ran 15 (pageRank) and 19 (PPR) jobs —
    // nodes.count, the dangling checkpoint and its limit-1 probe, and
    // for PPR the seed checkpoint and its count
    val edges = Seq(1L -> 2L, 3L -> 1L).toDF("s", "d")
    val pr = jobs(graft.ops.Graph.pageRank(edges, "s", "d", iters = 1).collect())
    val ppr = jobs(graft.ops.Graph.pageRankPersonalized(edges, "s", "d",
      Seq(1L).toDF("n"), "n", iters = 1).collect())
    assert(pr <= 13, s"pageRank ran $pr jobs")
    assert(ppr <= 13, s"pageRankPersonalized ran $ppr jobs")
  }

  test("personalized PageRank: rank stays with the seed component; mass conserved") {
    val sqlc = spark
    import sqlc.implicits._
    // two disconnected 3-cycles; the seed sits in the first — the
    // second component must rank exactly 0 (PPR locality, the property
    // global PageRank cannot express) and total mass stays ~1
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 10L -> 11L, 11L -> 12L, 12L -> 10L)
    val df = edges.toDF("s", "d")
    val got = graft.ops.Graph.pageRankPersonalized(
      df, "s", "d", Seq(1L).toDF("n"), "n", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Seq(10L, 11L, 12L).forall(got(_) === 0.0d),
      s"unreachable component must rank 0: $got")
    assert(Seq(1L, 2L, 3L).forall(got(_) > 0.0d), got.toString)
    val mass = got.values.sum
    assert(math.abs(mass - 1.0d) < 1e-4, s"mass $mass drifted off 1 beyond grid noise")
    // isolated seed (not in the edge list): dangling by construction,
    // still ranks — its mass re-teleports to the seed set, never leaks
    val got2 = graft.ops.Graph.pageRankPersonalized(
      df, "s", "d", Seq(99L).toDF("n"), "n", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got2(99L) > 0.9d, s"isolated seed must retain its mass: $got2")
    assert(got2.values.count(_ > 0.0d) === 1, s"nothing else is reachable: $got2")
  }

  test("bucketed BFS twin: identical distances, strictly fewer exchanges") {
    val dir = "/root/testdata/sf0.001"
    val plain = SparkEntry.queries("graph_bfs")(spark, dir)
    val bucketed = SparkEntry.queries("graph_bfs_bucketed")(spark, dir)
    // bit-identical output: same hop arithmetic over the same edges
    val pm = plain.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bm = bucketed.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pm === bm)
    assert(pm.nonEmpty && pm.values.exists(_ > 0), "fixture must actually expand")
    // the visible (final-hop) plan joins the bucketed scan exchange-free
    // on the edge side — strictly fewer exchanges than the plain twin
    def exchanges(p: String) = "(?<!Reused)Exchange".r.findAllIn(p).size
    val pPlain = plain.queryExecution.executedPlan.toString
    val pBucketed = bucketed.queryExecution.executedPlan.toString
    assert(exchanges(pBucketed) < exchanges(pPlain),
      s"bucketed=${exchanges(pBucketed)} plain=${exchanges(pPlain)}")
  }

  test("tolerance termination: grid fixed point stops with delta 0, stable under +1 iteration") {
    val sqlc = spark
    import sqlc.implicits._
    // the 3-cycle's uniform ranking IS a 1e-6-grid fixed point
    // (r6(0.05 + 0.85*0.333333) = 0.333333): any positive tol stops
    // as soon as a round reproduces its input bit-for-bit
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val df = edges.toDF("s", "d")
    val (ranks, used) = graft.ops.Graph.pageRankCounted(
      df, "s", "d", iters = 100, tol = 1e-9)
    assert(used < 100, s"expected early convergence, ran all $used iterations")
    val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the tol path's arithmetic is bit-identical to the fixed-count
    // path: running exactly `used` iterations reproduces it...
    assert(got === run(edges, used), s"tol path diverged from fixed path at $used iters")
    // ...and the stop really is a fixed point: one more iteration is a
    // no-op
    assert(got === run(edges, used + 1), "converged result changed under +1 iteration")
  }

  test("tolerance termination: grid-level oscillation is caught by a tol above the grid floor") {
    val sqlc = spark
    import sqlc.implicits._
    // star+tail: the ROUNDED map has NO fixed point — nodes 1 and 10
    // trade one 1e-6 grid step forever (measured delta floor 4e-6), so
    // tol=1e-9 would honestly run to the iters cap. tol=1e-5 sits above
    // the floor and stops as soon as the ranks are grid-stable — the
    // production operating regime the scaladoc prescribes
    val edges = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 10L -> 1L, 4L -> 2L)
    val df = edges.toDF("s", "d")
    val (ranks, used) = graft.ops.Graph.pageRankCounted(
      df, "s", "d", iters = 100, tol = 1e-5)
    assert(used < 100, s"expected early stop, ran all $used iterations")
    val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === run(edges, used), s"tol path diverged from fixed path at $used iters")
    // +1 iteration moves ranks by at most the oscillation amplitude
    val next = run(edges, used + 1)
    val drift = got.map { case (k, v) => math.abs(next(k) - v) }.sum
    assert(drift <= 1e-5, s"post-stop drift $drift exceeds tol")
    // tol so large the first delta already satisfies it: exactly 1 round
    val (_, one) = graft.ops.Graph.pageRankCounted(df, "s", "d", iters = 100, tol = 1e9)
    assert(one === 1)
  }

  private def runLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sqlc = spark
    import sqlc.implicits._
    graft.ops.Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("LPA: two undirected triangles joined by a bridge split into two communities") {
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10; undirected =
    // both directions. Majority voting keeps each triangle on its own
    // min label; the bridge endpoints see 2 triangle votes vs 1 across.
    val und = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L,
      10L -> 11L, 11L -> 12L, 10L -> 12L, 3L -> 10L)
      .flatMap(e => Seq(e, e._2 -> e._1))
    val got = runLpa(und, iters = 4)
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(10L) === got(11L) && got(11L) === got(12L))
    assert(got(1L) !== got(10L), got.toString)
  }

  test("LPA: isolated-source node keeps its own label; ties go to the smallest") {
    // 5 -> 1 gives 1 a single vote (label 5); node 5 has no in-edges
    val got = runLpa(Seq(5L -> 1L), iters = 1)
    assert(got(5L) === 5L)
    assert(got(1L) === 5L)
    // tie: 1 gets one vote each from 7 and 9 — smallest label wins
    val tie = runLpa(Seq(7L -> 1L, 9L -> 1L), iters = 1)
    assert(tie(1L) === 7L, tie.toString)
  }

  // ------------------------------------------------------ triangles / cc

  private def runTriangles(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val sqlc = spark
    import sqlc.implicits._
    graft.ops.Graph.triangles(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  /** Brute-force reference: normalize, then test all id-ordered triples. */
  private def refTriangles(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val und = pairs.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val nodes = und.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    (for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if und((a, b)) && und((b, c)) && und((a, c))
    } yield (a, b, c)).toSet
  }

  test("triangles: K4 has 4; removing one edge leaves 2") {
    val k4 = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    assert(runTriangles(k4) === refTriangles(k4))
    assert(runTriangles(k4).size === 4)
    val m = k4.filterNot(_ == (3L -> 4L))
    assert(runTriangles(m) === Set((1L, 2L, 3L), (1L, 2L, 4L)))
  }

  test("triangles: duplicates, self-loops, and reversed edges are normalized away") {
    val noisy = Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 1L,
      2L -> 2L, 3L -> 3L)
    assert(runTriangles(noisy) === Set((1L, 2L, 3L)))
  }

  test("triangles: matches brute force on seeded random graphs") {
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(60)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      assert(runTriangles(pairs) === refTriangles(pairs), s"seed=$seed")
    }
  }

  test("clustering coefficient: triangle with a pendant edge") {
    // triangle {1,2,3} + pendant 3-4: nodes 1,2 deg 2 tri 1 cc 1.0;
    // node 3 deg 3 tri 1 cc 2/(3*2)=0.333333; node 4 deg 1 cc 0
    val sqlc = spark
    import sqlc.implicits._
    val got = graft.ops.Graph.clusteringCoefficient(
      Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 1L, 1.0d)))
    assert(got(2L) === ((2L, 1L, 1.0d)))
    assert(got(3L) === ((3L, 1L, Num.r6(1.0d / 3.0d))))
    assert(got(4L) === ((1L, 0L, 0.0d)))
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
                       rounds: Int): Map[Long, Long] = {
    val sqlc = spark
    import sqlc.implicits._
    graft.ops.Graph.kCore(edges.toDF("a", "b"), "a", "b", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference: peel to the true fixpoint in memory. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    var changed = true
    while (changed) {
      val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter(p => keep(p._1) && keep(p._2))
      changed = next.size != und.size
      und = next
    }
    (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  test("k-core: triangle+pendant peels to the triangle; K4 minus an edge has no 3-core") {
    // 2-core of triangle {1,2,3} + pendant 3-4: pendant peels off
    val tri = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L)
    assert(runKCore(tri, k = 2, rounds = 4) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // K4 minus one edge: two deg-2 nodes peel, then everything cascades
    val k4m = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L)
    assert(runKCore(k4m, k = 3, rounds = 5) === Map.empty)
  }

  test("k-core: matches the fixpoint reference on seeded random graphs (with enough rounds)") {
    for (seed <- Seq(7, 19, 53); k <- Seq(2, 3)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(70)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      assert(runKCore(edges, k, rounds = 20) === refKCore(edges, k),
        s"seed=$seed k=$k")
    }
  }

  test("k-core gate config has converged: stable under +1 round at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val at12 = SparkEntry.queries("graph_kcore")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(org.apache.spark.sql.functions.col("l_orderkey").as("ok"),
          org.apache.spark.sql.functions.col("l_partkey").cast("long").as("pk"))
        .distinct()
      val pairs = li.toDF("ok", "u").join(li.toDF("ok", "v"), Seq("ok"))
        .where(org.apache.spark.sql.functions.col("u") <
          org.apache.spark.sql.functions.col("v"))
        .groupBy("u", "v").count().where(org.apache.spark.sql.functions.col("count") >= 2)
        .select("u", "v")
      val at13 = graft.ops.Graph.kCore(pairs, "u", "v", k = 3, rounds = 13)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(at12 === at13, s"$dir: 12-round peel not converged")
    }
  }

  test("link prediction: 4-cycle diagonals score 2 common neighbors; hub cap silences the star") {
    val sqlc = spark
    import sqlc.implicits._
    def run(edges: Seq[(Long, Long)], maxDeg: Int) =
      graft.ops.Graph.linkPrediction(edges.toDF("a", "b"), "a", "b", maxDeg)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // cycle 1-2-3-4-1: non-edges (1,3), (2,4) each share two deg-2 neighbors
    val cyc = run(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L), maxDeg = 10)
    val aa2 = Num.r6(1.0d / math.log(2.0d) + 1.0d / math.log(2.0d))
    assert(cyc === Map((1L, 3L) -> ((2L, aa2)), (2L, 4L) -> ((2L, aa2))))
    // star 100-{1..5}: all candidate pairs flow through the hub — a
    // maxDeg below 5 generates nothing; above it, C(5,2) pairs
    val star = (1L to 5L).map(i => 100L -> i)
    assert(run(star, maxDeg = 4).isEmpty)
    assert(run(star, maxDeg = 10).size === 10)
    // existing edges are never scored
    val tri = run(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L), maxDeg = 10)
    assert(tri.isEmpty, s"triangle has no non-edges to score: $tri")
  }

  // ----------------------------------------------------------------- bfs

  private def runBfs(edges: Seq[(Long, Long)], sources: Seq[Long],
                     maxHops: Int): Map[Long, Int] = {
    val sqlc = spark
    import sqlc.implicits._
    graft.ops.Graph.bfs(edges.toDF("s", "d"), "s", "d",
      sources.toDF("n"), "n", maxHops)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** Reference: level-synchronous BFS over adjacency maps. */
  private def refBfs(edges: Seq[(Long, Long)], sources: Seq[Long],
                     maxHops: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var dist = sources.distinct.map(_ -> 0).toMap
    var frontier = sources.distinct.toSet
    for (hop <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- dist.keySet
      dist = dist ++ next.map(_ -> hop)
      frontier = next
    }
    dist
  }

  test("bfs: path graph distances, hop cap, unreachable nodes absent") {
    val path = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 9L -> 10L)
    assert(runBfs(path, Seq(1L), 10) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // hop cap truncates; 9/10 stay unreachable from 1
    assert(runBfs(path, Seq(1L), 2) === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("bfs: min distance over multiple paths; isolated source reports 0") {
    // two routes 1→4: direct and via 2,3 — dist(4) = 1; source 99 isolated
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    assert(runBfs(e, Seq(1L, 99L), 5) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 99L -> 0))
  }

  test("bfs: matches reference on seeded random digraphs, multi-source") {
    for (seed <- Seq(5, 13, 31)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(80)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val sources = Seq(rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)
      for (hops <- Seq(0, 1, 3, 6)) {
        assert(runBfs(edges, sources, hops) === refBfs(edges, sources, hops),
          s"seed=$seed hops=$hops")
      }
    }
  }

  test("weighted PageRank: unit weights reproduce standard PageRank on the r6 grid") {
    val sqlc = spark
    import sqlc.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (3L, 2L), (4L, 3L), (2L, 4L))
    val unit = edges.map { case (s, d) => (s, d, 1.0d) }
    val got = graft.ops.Graph.pageRankWeighted(
      unit.toDF("s", "d", "w"), "s", "d", "w", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === run(edges, iters = 5),
      "unit-weight proportional split must equal the uniform split")
  }

  test("weighted PageRank: rank follows weight; zero-weight edges drop (source may go dangling)") {
    val sqlc = spark
    import sqlc.implicits._
    // 1 splits 9:1 between 2 and 3; both return all mass to 1
    val skew = Seq((1L, 2L, 9.0d), (1L, 3L, 1.0d), (2L, 1L, 1.0d), (3L, 1L, 1.0d))
    val got = graft.ops.Graph.pageRankWeighted(
      skew.toDF("s", "d", "w"), "s", "d", "w", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(2L) > got(3L), s"9:1 split must rank 2 above 3: $got")
    assert(math.abs(got.values.sum - 1.0d) < 6 * 5e-6 * got.size, s"mass conserved: $got")
    // a multi-edge carrying weight k equals one edge of weight k
    val multi = Seq((1L, 2L, 3.0d), (1L, 2L, 3.0d), (1L, 3L, 2.0d), (2L, 1L, 1.0d), (3L, 1L, 1.0d))
    val merged = Seq((1L, 2L, 6.0d), (1L, 3L, 2.0d), (2L, 1L, 1.0d), (3L, 1L, 1.0d))
    val gm = graft.ops.Graph.pageRankWeighted(multi.toDF("s", "d", "w"), "s", "d", "w", 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gs = graft.ops.Graph.pageRankWeighted(merged.toDF("s", "d", "w"), "s", "d", "w", 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gm === gs, "weight-k multi-edge must equal a single weight-k edge")
    // node 4's only out-edge has weight 0 → dropped → 4 is dangling;
    // its mass redistributes and ranks still sum to ~1
    val z = Seq((1L, 4L, 1.0d), (4L, 1L, 0.0d), (1L, 2L, 1.0d), (2L, 1L, 1.0d))
    val gz = graft.ops.Graph.pageRankWeighted(z.toDF("s", "d", "w"), "s", "d", "w", 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gz.keySet === Set(1L, 2L, 4L))
    assert(math.abs(gz.values.sum - 1.0d) < 1e-3, s"dangling mass lost: $gz")
  }

  /** Brute Bellman–Ford over micro-long weights — the sssp reference. */
  private def refSssp(edges: Seq[(Long, Long, Double)], sources: Seq[Long],
                      iters: Int): Map[Long, Double] = {
    val e = edges.map { case (s, d, w) =>
      (s, d, math.floor(w * 1e6 + 0.5).toLong) }
    var dist = sources.distinct.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val expand = e.flatMap { case (s, d, w) => dist.get(s).map(ds => d -> (ds + w)) }
      dist = (dist.toSeq ++ expand).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist.map { case (n, mu) => n -> Num.r6(mu.toDouble / 1e6) }
  }

  private def runSssp(edges: Seq[(Long, Long, Double)], sources: Seq[Long],
                      iters: Int): Map[Long, Double] = {
    val sqlc = spark
    import sqlc.implicits._
    graft.ops.Graph.sssp(edges.toDF("s", "d", "w"), "s", "d", "w",
      sources.toDF("n"), "n", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("sssp: cheaper multi-hop path beats the direct edge (what BFS cannot express)") {
    // 1→4 direct costs 10; 1→2→3→4 costs 2+1.5+1.5 = 5
    val e = Seq((1L, 4L, 10.0d), (1L, 2L, 2.0d), (2L, 3L, 1.5d), (3L, 4L, 1.5d))
    val got = runSssp(e, Seq(1L), 4)
    assert(got === Map(1L -> 0.0d, 2L -> 2.0d, 3L -> 3.5d, 4L -> 5.0d), got.toString)
    // with only 1 relaxation round the direct edge wins — the cap is
    // real (and the oracle unrolls the identical count)
    assert(runSssp(e, Seq(1L), 1)(4L) === 10.0d)
  }

  test("sssp: unit weights reproduce BFS hop distances; isolated source reports 0") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    val unit = edges.map { case (s, d) => (s, d, 1.0d) }
    val got = runSssp(unit, Seq(1L, 99L), 5)
    val hops = runBfs(edges, Seq(1L, 99L), 5)
    assert(got === hops.map { case (n, h) => n -> h.toDouble }, s"got=$got hops=$hops")
  }

  test("sssp: matches brute Bellman–Ford on seeded random weighted digraphs") {
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(70)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong,
        (rnd.nextInt(40) + 1) * 0.25d))
      val sources = Seq(rnd.nextInt(20).toLong)
      for (iters <- Seq(0, 1, 3, 6)) {
        assert(runSssp(edges, sources, iters) === refSssp(edges, sources, iters),
          s"seed=$seed iters=$iters")
      }
    }
  }

  test("weighted bucketed twins: identical results, strictly fewer exchanges") {
    val dir = "/root/testdata/sf0.001"
    // SSSP: bit-identical distances, exchange-free edge side per round
    val sp = SparkEntry.queries("graph_sssp")(spark, dir)
    val sb = SparkEntry.queries("graph_sssp_bucketed")(spark, dir)
    assert(sp.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      sb.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    // since round 20 BOTH twins relax exchange-free on the edge side
    // (bucketed by layout; plain via the partitioning-preserving keyed
    // checkpoint) — the invariant is zero src-keyed shuffles, the
    // bucketed twin's remaining edge being zero raw-edge build work
    def srcShuffles(p: String) =
      "Exchange hashpartitioning\\(src".r.findAllIn(p).size
    assert(srcShuffles(sb.queryExecution.executedPlan.toString) === 0)
    // weighted PageRank: same parity + plan property
    val wp = SparkEntry.queries("graph_pagerank_weighted")(spark, dir)
    val wb = SparkEntry.queries("graph_pagerank_weighted_bucketed")(spark, dir)
    assert(wp.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ===
      wb.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    assert(srcShuffles(wb.queryExecution.executedPlan.toString) === 0)
    assert(srcShuffles(wp.queryExecution.executedPlan.toString) === 0)
  }

  test("ingestWeightedEdges rejects negative weights at ingest") {
    val sqlc = spark
    import sqlc.implicits._
    val bad = Seq((1L, 2L, -0.5d)).toDF("s", "d", "w")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Graph.ingestWeightedEdges(bad, "s", "d", "w",
        "graft_wedges_graphspec_bad", "graft_wedges_graphspec_bad_deg", 2)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("weighted probes reject tables not written by ingestWeightedEdges") {
    val sqlc = spark
    import sqlc.implicits._
    // a foreign table with the right COLUMNS but no provenance sidecar:
    // its weights were never validated (negatives would silently break
    // sssp's w >= 0 precondition) and its scale is unknown — the probe
    // must refuse rather than compute wrong distances/ranks
    val t = "graft_wedges_foreign_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    spark.sql(s"DROP TABLE IF EXISTS `${t}_meta`")
    try {
      graft.ops.Bucketing.writeBucketed(
        Seq((1L, 2L, 500000L, 500000L)).toDF("src", "dst", "wmu", "degmu"),
        t, "src", 2)
      val ex = intercept[IllegalArgumentException] {
        graft.ops.Graph.ssspIngested(spark, t, Seq(1L).toDF("n"), "n", 3)
      }
      assert(ex.getMessage.contains("ingestWeightedEdges"))
      val ex2 = intercept[IllegalArgumentException] {
        graft.ops.Graph.pageRankWeightedIngested(spark, t, t, iters = 2)
      }
      assert(ex2.getMessage.contains("ingestWeightedEdges"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      spark.sql(s"DROP TABLE IF EXISTS `${t}_meta`")
    }
  }

  test("ingestWeightedEdges: two-batch log matches one-shot weighted ranks and distances") {
    val sqlc = spark
    import sqlc.implicits._
    val log = "graft_wlog_graphspec"; val degT = "graft_wdeg_graphspec"
    Seq(log, s"${log}_meta", degT)
      .foreach(graft.ops.Bucketing.dropManaged(spark, _))
    val edges = Seq((1L, 2L, 1.5d), (2L, 3L, 2.0d), (3L, 1L, 0.5d),
      (1L, 3L, 1.0d), (2L, 1L, 1.0d), (3L, 2L, 3.0d)).toDF("s", "d", "w")
    try {
      // the split puts src 1 in BOTH batches — its weight total must
      // merge across ingests (stale baked degmu is exactly the failure
      // the log/degree-table split exists to prevent)
      graft.ops.Graph.ingestWeightedEdges(
        edges.filter(($"s" + $"d") % 2 === 0), "s", "d", "w", log, degT, 2)
      graft.ops.Graph.ingestWeightedEdges(
        edges.filter(($"s" + $"d") % 2 === 1), "s", "d", "w", log, degT, 2)
      val got = graft.ops.Graph.pageRankWeightedIngested(spark, log, degT, 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ref = graft.ops.Graph.pageRankWeighted(edges, "s", "d", "w", 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === ref, "two-batch ingest diverged from the batch operator")
      val gotD = graft.ops.Graph.ssspIngested(spark, log,
          Seq(1L).toDF("n"), "n", 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val refD = graft.ops.Graph.sssp(edges, "s", "d", "w",
          Seq(1L).toDF("n"), "n", 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(gotD === refD)
      // negative weights rejected per batch, before anything lands
      intercept[IllegalArgumentException] {
        graft.ops.Graph.ingestWeightedEdges(
          Seq((9L, 8L, -1.0d)).toDF("s", "d", "w"), "s", "d", "w", log, degT, 2)
      }
    } finally Seq(log, s"${log}_meta", degT)
      .foreach(graft.ops.Bucketing.dropManaged(spark, _))
  }

  test("the one-batch *_bucketed gates drop their pair first: a second run returns the same rows and stores the same edges") {
    // ingest APPENDS to an existing log, so a gate that reused the
    // previous run's pair would double every edge; doubled edges leave
    // ranks and distances unchanged, so the stored edge count shows it
    val dir = "/root/testdata/sf0.001"
    val sfx = GateSupport.dirSuffix(dir)
    for ((q, name) <- Seq("graph_pagerank_bucketed" -> "pr_edges",
      "graph_pagerank_weighted_bucketed" -> "wedges_pr",
      "graph_sssp_bucketed" -> "wedges", "graph_bfs_bucketed" -> "bfs_edges")) {
      def run() = {
        val rows = SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSet
        (rows, spark.table(s"graft_${name}_log_$sfx").count())
      }
      val (first, edges1) = run()
      val (second, edges2) = run()
      assert(first.nonEmpty, q)
      assert(second === first, s"$q: a second run changed the result")
      assert(edges2 === edges1, s"$q: a second run changed the stored edge count")
    }
  }

  test("sssp: negative weights rejected loudly") {
    val sqlc = spark
    import sqlc.implicits._
    val bad = Seq((1L, 2L, -1.0d)).toDF("s", "d", "w")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Graph.sssp(bad, "s", "d", "w",
        Seq(1L).toDF("n"), "n", 3)
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("gate plans: checkpointed iterations stay cartesian-free") {
    for (q <- Seq("graph_pagerank", "graph_communities",
      "graph_pagerank_weighted", "graph_sssp")) {
      val p = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: no dangling/scalar broadcast expected in the bidirectional gate graph")
    }
  }
}
