package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EtlLeaf, EtlObj, EtlSchema}
import graft.ops._
import graft.llm._
import GateSupport._

/** TPC-H query shapes, windows, incremental dedup composites, profiling gates.
  *
  * One registry entry per operator: (name, spark fn, oracle SQL) —
  * composed into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object OlapGates {

  /** Fixed-iteration unrolled PageRank CTE chain; every rank is rounded
    * to the 1e-6 grid per iteration exactly like the Spark side, and
    * 0.85 is CAST to DOUBLE (a bare DuckDB decimal literal would make
    * (1 - 0.85) decimal-exact 0.15, not the IEEE 0.15000000000000002
    * the Spark side computes). Shared by `graph_pagerank` and its
    * bucketed-layout twin — identical results by construction.
    */
  private lazy val pageRankOracleSql: String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val step = (i: Int) =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    ${Num.r6Sql(s"(1 - $d) / (SELECT n FROM nn) + $d * COALESCE(s.insum, CAST(0 AS DOUBLE))")} AS rank
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / dg.deg) AS insum
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |           JOIN dg ON e.src = dg.src
         |    GROUP BY e.dst) s ON nd.node = s.node)""".stripMargin
    s"""WITH eb AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src,
       |         CAST(l_partkey + 10000000 AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM eb
       |      UNION ALL SELECT dst AS src, src AS dst FROM eb),
       |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
       |dg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nd),
       |${(1 to 5).map(step).mkString(",\n")}
       |SELECT node, rank FROM r5""".stripMargin
  }

  /** Personalized-PageRank oracle: the [[pageRankOracleSql]] chain with
    * the teleport restricted to the seed set (customers ≤ 3) — seeded
    * init 1/|S|, per-round teleport (1−d)/|S| on seeds and 0 elsewhere,
    * association `seedTp + d·(insum + 0)` mirroring the Spark side
    * bit-for-bit.
    *
    * PRECONDITION (gate-side, asserted in the gate fn): the dangling
    * term is hardcoded to 0 here, valid only because every node of the
    * bidirectional co-purchase graph — seeds included — appears as an
    * edge source. `Graph.pageRankPersonalized` computes real dangling
    * redistribution, so a future gate edit that introduces a dangling
    * or isolated seed would make this oracle diverge from the
    * implementation (which would be CORRECT) rather than from the
    * truth; the gate's require() turns that silent divergence into a
    * loud failure.
    */
  private lazy val pprOracleSql: String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val seedTp = s"CASE WHEN nd.seed THEN (1 - $d) / (SELECT n FROM ns) ELSE CAST(0 AS DOUBLE) END"
    val step = (i: Int) =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    ${Num.r6Sql(s"$seedTp + $d * (COALESCE(s.insum, CAST(0 AS DOUBLE)) + CAST(0 AS DOUBLE))")} AS rank
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / dg.deg) AS insum
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |           JOIN dg ON e.src = dg.src
         |    GROUP BY e.dst) s ON nd.node = s.node)""".stripMargin
    s"""WITH eb AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src,
       |         CAST(l_partkey + 10000000 AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM eb
       |      UNION ALL SELECT dst AS src, src AS dst FROM eb),
       |sd AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS node
       |       FROM customer WHERE c_custkey <= 3),
       |nd AS (SELECT n.node, (n.node IN (SELECT node FROM sd)) AS seed FROM (
       |         SELECT src AS node FROM e UNION SELECT dst FROM e
       |         UNION SELECT node FROM sd) n),
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sd),
       |dg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT node, CASE WHEN seed THEN CAST(1 AS DOUBLE) / (SELECT n FROM ns)
       |                         ELSE CAST(0 AS DOUBLE) END AS rank FROM nd),
       |${(1 to 5).map(step).mkString(",\n")}
       |SELECT node, rank FROM r5""".stripMargin
  }

  /** Weighted-PageRank oracle: the [[pageRankOracleSql]] chain with
    * per-edge contribution rank·wµ/Wµ — weights (l_quantity) in exact
    * integer micro-units so the per-source total is order-independent,
    * the one double division associated exactly like the Spark column
    * ((rank · wd) / degd). sum(BIGINT) → HUGEINT in DuckDB, so degmu
    * is CAST back to BIGINT before the double cast (type-parity
    * discipline). Bidirectional graph with all quantities ≥ 1 ⇒ no
    * dropped edges, no dangling nodes.
    */
  private lazy val weightedPrOracleSql: String = {
    val d = "CAST(0.85 AS DOUBLE)"
    val step = (i: Int) =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    ${Num.r6Sql(s"(1 - $d) / (SELECT n FROM nn) + $d * COALESCE(s.insum, CAST(0 AS DOUBLE))")} AS rank
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node,
         |           sum(r.rank * CAST(e.wmu AS DOUBLE) / CAST(dg.degmu AS DOUBLE)) AS insum
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |           JOIN dg ON e.src = dg.src
         |    GROUP BY e.dst) s ON nd.node = s.node)""".stripMargin
    s"""WITH eb AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src,
       |         CAST(l_partkey + 10000000 AS BIGINT) AS dst,
       |         CAST(floor(CAST(l_quantity AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS wmu
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst, wmu FROM (
       |        SELECT src, dst, wmu FROM eb
       |        UNION ALL SELECT dst AS src, src AS dst, wmu FROM eb)
       |      WHERE wmu > 0),
       |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
       |dg AS (SELECT src, CAST(sum(wmu) AS BIGINT) AS degmu FROM e GROUP BY src),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nd),
       |${(1 to 5).map(step).mkString(",\n")}
       |SELECT node, rank FROM r5""".stripMargin
  }

  /** Unrolled frontier-free Bellman–Ford SSSP oracle: each round folds
    * the FULL reached set expanded one hop with a min aggregate — the
    * same micro-exact fixpoint as the Spark side's improved-only
    * frontier, just more oracle work. Rounds are MATERIALIZED (each
    * b$i is referenced twice — plain CTEs would inline 2^iters times,
    * the kCore lesson).
    */
  private lazy val ssspOracleSql: String = {
    val step = (i: Int) =>
      s"""b$i AS MATERIALIZED (SELECT node, min(distmu) AS distmu FROM (
         |  SELECT node, distmu FROM b${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, f.distmu + e.wmu AS distmu
         |  FROM e JOIN b${i - 1} f ON e.src = f.node)
         |GROUP BY node)""".stripMargin
    s"""WITH eb AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src,
       |         CAST(l_partkey + 10000000 AS BIGINT) AS dst,
       |         CAST(floor(CAST(l_quantity AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS wmu
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst, wmu FROM (
       |        SELECT src, dst, wmu FROM eb
       |        UNION ALL SELECT dst AS src, src AS dst, wmu FROM eb)
       |      WHERE wmu IS NOT NULL),
       |b0 AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS distmu
       |       FROM customer WHERE c_custkey <= 3),
       |${(1 to 4).map(step).mkString(",\n")}
       |SELECT node, ${Num.r6Sql("CAST(distmu AS DOUBLE) / 1000000.0")} AS dist FROM b4""".stripMargin
  }

  /** Unrolled level-sync BFS oracle: each round expands the full
    * reached set (same min-dist fixpoint as the Spark side's
    * frontier-only expansion, just more oracle work). Shared by
    * `graph_bfs` and its bucketed-layout twin — identical distances by
    * construction.
    */
  private lazy val bfsOracleSql: String = {
    val step = (i: Int) =>
      s"""b$i AS (SELECT node, CAST(min(dist) AS INT) AS dist FROM (
         |  SELECT node, dist FROM b${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, $i AS dist
         |  FROM e JOIN b${i - 1} f ON e.src = f.node)
         |GROUP BY node)""".stripMargin
    s"""WITH eb AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src,
       |         CAST(l_partkey + 10000000 AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM eb
       |      UNION ALL SELECT dst AS src, src AS dst FROM eb),
       |b0 AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS node, CAST(0 AS INT) AS dist
       |       FROM customer WHERE c_custkey <= 3),
       |${(1 to 4).map(step).mkString(",\n")}
       |SELECT node, dist FROM b4""".stripMargin
  }

  /** Bidirectional customer↔part co-purchase edge list (orders ⋈
    * lineitem): the crawl-prioritization shape a training-data pipeline
    * runs on its host link graph. Part node ids are offset by 10M to
    * disjoint the two key spaces; both edge directions come out of ONE
    * join pass via explode, not a second scan.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val ol = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("dst"))
    ol.select(explode(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** The (log, degree) table pair `graft_<name>_{log,deg}_<dir digest>`
    * of one graph gate, dropped first with the weighted log's `_meta`
    * sidecar: ingest APPENDS to an existing log, so a rerun over the old
    * pair would double every edge. The digest keeps concurrent suites on
    * different fixture dirs off each other's tables.
    */
  private def freshPair(s: SparkSession, dir: String, name: String): (String, String) = {
    val (log, degT) = (s"graft_${name}_log_${dirSuffix(dir)}", s"graft_${name}_deg_${dirSuffix(dir)}")
    Seq(log, s"${log}_meta", degT).foreach(Bucketing.dropManaged(s, _))
    (log, degT)
  }

  /** [[coPurchaseEdges]] carrying the line quantity as the edge weight
    * — co-purchase VOLUME, the natural link-prominence signal for the
    * weighted graph gates; both directions carry the same weight.
    */
  private def coPurchaseEdgesWeighted(s: SparkSession, dir: String): DataFrame = {
    val ol = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("dst"),
        col("l_quantity").as("w"))
    ol.select(explode(array(
      struct(col("src"), col("dst"), col("w")),
      struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
  }

  /** Undirected part–part co-occurrence graph with support ≥ 2: parts
    * ordered together in at least two distinct orders (lineitem
    * self-joined per order on the DISTINCT (order, part) set, so
    * duplicate lines never inflate support). The support threshold is
    * the frequent-itemset discipline that keeps the projected graph
    * sparse — projecting a bipartite graph without one densifies
    * quadratically in basket size. Edges come out (u, v) with u < v.
    */
  private def coOccurrenceEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("pk"))
      .distinct()
    li.select(col("ok"), col("pk").as("u"))
      .join(li.select(col("ok"), col("pk").as("v")), Seq("ok"))
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
      .where(col("sup") >= 2)
      .select(col("u"), col("v"))
  }

  /** DuckDB CTE chain ending in `p(u, v)` — mirror of
    * [[coOccurrenceEdges]].
    */
  private lazy val coOccurrenceCte: String =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, CAST(l_partkey AS BIGINT) AS pk FROM lineitem),
       |p0 AS (SELECT a.pk AS u, b.pk AS v, count(*) AS sup
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |       GROUP BY a.pk, b.pk),
       |p AS (SELECT u, v FROM p0 WHERE sup >= 2)""".stripMargin

  /** Persisted-MinHash-index admission oracle, shared by the ingested
    * gate (`floodUpper` = the whole existing corpus, 250) and the
    * ingest-then-append gate (`floodUpper` = the INGESTED half, 125 —
    * appended docs filter against the flood set frozen there). The
    * flood set is computed over docs ≤ floodUpper ONLY; both sides'
    * shingles then filter against it — the persisted index's exact
    * semantics. Admission batch = docs > 250 vs index = docs ≤ 250 in
    * both gates.
    */
  private def mhIngestedOracleSql(floodUpper: Int): String =
    mhIngestedOracleWhere(s"doc <= $floodUpper")

  /** [[mhIngestedOracleSql]] with an arbitrary flood-set predicate —
    * the streamed gate freezes the flood over its FIRST DELIVERED
    * batch (`doc <= 250 AND doc % 3 = 0`), not an id prefix.
    */
  private def mhIngestedOracleWhere(floodWhere: String,
                                    oldWhere: String = "TRUE"): String = {
    val perms = (0 until 16).map(i =>
      s"($i, ${Dedup.mixConstant(2L * i)}, ${Dedup.mixConstant(2L * i + 1)})").mkString(", ")
    val jac = Num.r6Sql("CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE)")
    // oldWhere (predicate over alias ol) restricts the INDEX side of
    // the candidate join — the deleted-index twin: tombstoned docs
    // leave the persisted band/shingle relations, the admission batch
    // is unaffected (the verify intersection follows cand, so the
    // restriction flows through it)
    s"""WITH ${GateSupport.tokenShingleCte(3)},
       |h0 AS (SELECT DISTINCT doc, ${rhSql("sh")} AS h FROM sh0),
       |fe AS (SELECT h FROM (SELECT h, count(*) AS c FROM h0
       |                      WHERE $floodWhere GROUP BY h) WHERE c > 20),
       |h1 AS (SELECT doc, h FROM h0 WHERE h NOT IN (SELECT h FROM fe)),
       |sizes AS (SELECT doc, count(*) AS sz FROM h1 GROUP BY doc),
       |perms(i, a, b) AS (VALUES $perms),
       |mh AS (SELECT doc, i, min((a * h + b) % 2147483647) AS mh FROM h1 CROSS JOIN perms GROUP BY doc, i),
       |bands AS (SELECT doc, i // 4 AS band, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
       |          FROM mh GROUP BY doc, i // 4),
       |cand AS (SELECT DISTINCT nw.doc AS d_new, ol.doc AS d_old
       |         FROM bands nw JOIN bands ol ON nw.band = ol.band AND nw.bkey = ol.bkey
       |         WHERE nw.doc > 250 AND ol.doc <= 250 AND ($oldWhere)),
       |inter AS (SELECT a.doc AS d_new, b.doc AS d_old, count(*) AS i
       |          FROM h1 a JOIN h1 b USING (h)
       |          JOIN cand c ON a.doc = c.d_new AND b.doc = c.d_old
       |          GROUP BY a.doc, b.doc)
       |SELECT d_new, d_old, $jac AS jaccard
       |FROM inter JOIN sizes s1 ON inter.d_new = s1.doc
       |           JOIN sizes s2 ON inter.d_old = s2.doc
       |WHERE $jac >= 0.3""".stripMargin
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    // ---- OLAP composites over the TPC-H-shaped tables --------------------
    // float-sum discipline: l_quantity is integral (exact in float, any
    // order); prices are NOT — they aggregate as deterministic integer
    // cents via floor(x*100 + 0.5), the Num.r6 trick at cent scale
    ("tpch_q1",
      (s: SparkSession, dir: String) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")).as("sum_price_cents"),
            count(lit(1)).as("n"))
          .withColumn("avg_qty",
            Num.r6(col("sum_qty") / col("n").cast("double"))),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((sum(l_quantity) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    ("tpch_q3",
      (s: SparkSession, dir: String) =>
        // shipping-priority shape: revenue cents per BUILDING order,
        // top 10 (TakeOrderedAndProject, ties by orderkey)
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long")).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
          .limit(10),
      """SELECT o_orderkey,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin),

    ("tpch_q5",
      (s: SparkSession, dir: String) =>
        // local-supplier-volume shape: a 6-way join through region
        t(s, dir, "region").filter(col("r_name") === "ASIA")
          .join(broadcast(t(s, dir, "nation")), col("r_regionkey") === col("n_regionkey"))
          .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey")
              && col("s_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long")).as("revenue_cents")),
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |            JOIN customer ON n_nationkey = c_nationkey
        |            JOIN orders ON c_custkey = o_custkey
        |            JOIN lineitem ON o_orderkey = l_orderkey
        |            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    ("tpch_q6",
      (s: SparkSession, dir: String) =>
        // q6 forecasting-revenue shape: pure scan + filter + one global
        // agg — zero joins, the pushdown showcase. revenue is summed in
        // integer basis points (floor(p*d*1e4+0.5)): the per-row product
        // is deterministic, the integer sum is order-independent
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp")
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
          .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 10000.0 + 0.5)
            .cast("long")).as("revenue_bp")),
      """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_bp
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    ("tpch_q10",
      (s: SparkSession, dir: String) => {
        // q10 returned-item reporting: per-customer revenue from 'R'
        // lineitems, top 20 — broadcast dim join + cents aggregation +
        // TakeOrderedAndProject, ties to the lowest custkey
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
              .cast("long").as("cents"))
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(sum(col("cents")).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
          .limit(20)
      },
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |     JOIN lineitem ON l_orderkey = o_orderkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin),

    ("tpch_q18",
      (s: SparkSession, dir: String) => {
        // large-quantity-order report (q18 shape): the HAVING aggregation
        // over lineitem produces a SMALL key set (top ~1% of orders) that
        // broadcast-SEMI-joins orders, and the filtered orders side (now
        // tiny) broadcasts into customer and back into lineitem — the
        // fact table is scanned, never shuffled beyond the first
        // partial-agg; the global top-100 is TakeOrderedAndProject with a
        // deterministic orderkey tiebreak
        val li = t(s, dir, "lineitem")
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("big_qty"))
          .filter(col("big_qty") > 250.0)
          .select(col("l_orderkey").as("big_orderkey"))
        val bigOrders = t(s, dir, "orders")
          .join(broadcast(big), col("o_orderkey") === col("big_orderkey"), "left_semi")
        val withCust = broadcast(bigOrders)
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        broadcast(withCust)
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"))
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      },
      // integral-valued quantity sums are order-independent-exact, so
      // both the HAVING cut and sum_qty hash-match across engines
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum(l_quantity) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |     JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // The remaining TPC-H shapes, adapted to this star schema's reduced
    // columns (no commitdate/receiptdate/shipmode/partsupp/phone): each
    // keeps the ORIGINAL query's plan shape — the thing that matters at
    // 100 TB — with "late shipment" = shipped > N days after the order
    // date standing in for the commit/receipt lateness predicates.

    ("tpch_q4",
      (s: SparkSession, dir: String) =>
        // order-priority checking: EXISTS(late lineitem) == left-semi
        // with the lateness predicate INSIDE the join condition, then a
        // tiny groupBy — orders is never joined 1:N (no fanout+distinct)
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey")
              && datediff(col("l_shipdate"), col("o_orderdate")) > 60,
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count")),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |  AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60)
        |GROUP BY o_orderpriority""".stripMargin),

    ("tpch_q12",
      (s: SparkSession, dir: String) =>
        // shipping-priority split (q12 shape): join + per-group
        // CASE-conditional counts in ONE aggregation pass
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey")
              && datediff(col("l_shipdate"), col("o_orderdate")) > 30)
          .groupBy(col("l_returnflag"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count")),
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 30
        |GROUP BY l_returnflag""".stripMargin),

    ("tpch_q14",
      (s: SparkSession, dir: String) =>
        // promo-revenue share: date window pushed to the fact scan,
        // broadcast part dimension, conditional/total sums in one agg;
        // revenue as integer cents so the division is the ONLY float op
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-03-01").cast("timestamp"))
          .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO",
              floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
                .cast("long")).otherwise(0L)).as("promo_cents"),
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
              .cast("long")).as("total_cents"))
          .withColumn("promo_share",
            Num.r6(lit(100.0) * col("promo_cents").cast("double")
              / col("total_cents").cast("double"))),
      s"""WITH r AS (SELECT p_type,
         |             CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS cents
         |           FROM lineitem JOIN part ON l_partkey = p_partkey
         |           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |             AND l_shipdate < TIMESTAMP '1997-03-01')
         |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
         |       CAST(sum(cents) AS BIGINT) AS total_cents,
         |       ${Num.r6Sql("100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS DOUBLE) / CAST(sum(cents) AS DOUBLE)")} AS promo_share
         |FROM r""".stripMargin),

    ("tpch_q16",
      (s: SparkSession, dir: String) => {
        // supplier-count-by-part-attrs (q16 shape): the part/supplier
        // relation derives from lineitem (this schema has no partsupp),
        // excluded suppliers are a broadcast ANTI join (q16's NOT IN),
        // then count(DISTINCT suppkey) per part attribute triple
        val ps = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val excl = t(s, dir, "supplier")
          .filter(col("s_name").like("%00003%"))
          .select(col("s_suppkey"))
        ps.join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(t(s, dir, "part")
            .filter(col("p_brand") =!= "Brand#2" && col("p_type") =!= "PROMO"
              && col("p_size").isin(1, 4, 9, 16, 25, 36, 49))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%00003%')
        |GROUP BY p_brand, p_type, p_size""".stripMargin),

    ("tpch_q17",
      (s: SparkSession, dir: String) => {
        // small-quantity-order revenue (q17 shape): the correlated
        // scalar aggregate — 0.2 * avg(l_quantity) per part — joined
        // back to the fact. The brand filter restricts parts FIRST
        // (broadcast semi-join), so the per-part aggregate runs over
        // the filtered slice only; the tiny (partkey, threshold)
        // result broadcasts back into the same slice. The fact table
        // never shuffles: both joins broadcast the dimension-sized
        // side, and the quantity sums are integral so the avg is
        // partition-order exact
        val pk = t(s, dir, "part").filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey"))
        val li = t(s, dir, "lineitem")
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
          .select(col("l_partkey"), col("l_quantity"),
            floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
        val thr = li.groupBy(col("l_partkey"))
          .agg(((sum(col("l_quantity")) / count(lit(1)).cast("double")) * 0.2).as("thr"))
          .select(col("l_partkey").as("t_partkey"), col("thr"))
        li.join(broadcast(thr), col("l_partkey") === col("t_partkey"))
          .filter(col("l_quantity") < col("thr"))
          .agg(sum(col("cents")).as("revenue_cents"),
            Num.r6(sum(col("cents")).cast("double") / 7.0 / 100.0).as("avg_yearly"))
      },
      s"""WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
         |li AS (SELECT l_partkey, l_quantity,
         |         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
         |       FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM pk)),
         |thr AS (SELECT l_partkey, (sum(l_quantity) / count(*)) * 0.2 AS thr
         |        FROM li GROUP BY l_partkey)
         |SELECT CAST(sum(cents) AS BIGINT) AS revenue_cents,
         |  ${Num.r6Sql("CAST(sum(cents) AS DOUBLE) / 7.0 / 100.0")} AS avg_yearly
         |FROM li JOIN thr ON li.l_partkey = thr.l_partkey
         |WHERE l_quantity < thr""".stripMargin),

    ("tpch_q20",
      (s: SparkSession, dir: String) => {
        // excess-stock suppliers (q20 shape): per-(supplier, part)
        // scalar aggregates compared against each other, then joined
        // back to the supplier dimension. This schema has no partsupp,
        // so the stock relation derives from lineitem: a supplier
        // qualifies when, for some name-filtered part it ships in
        // volume (total >= 80), over half that lifetime volume shipped
        // recently. Parts filter first (broadcast semi), ONE
        // partial-aggregated shuffle on the compound key builds both
        // sums, and the qualifying suppkey set — supplier-dimension-
        // sized by construction — broadcasts into the semi-join
        val pk = t(s, dir, "part").filter(col("p_name").like("b%"))
          .select(col("p_partkey"))
        val ps = t(s, dir, "lineitem")
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("total_qty"),
            sum(when(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"),
              col("l_quantity")).otherwise(0.0)).as("recent_qty"))
        val excess = ps
          .filter(col("total_qty") >= 80.0 && col("recent_qty") > col("total_qty") * 0.5)
          .select(col("l_suppkey")).distinct()
        t(s, dir, "supplier")
          .join(broadcast(excess), col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
          .orderBy(col("s_name").asc)
      },
      """WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE 'b%'),
        |ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS total_qty,
        |         sum(CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01'
        |             THEN l_quantity ELSE 0.0 END) AS recent_qty
        |       FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM pk)
        |       GROUP BY l_partkey, l_suppkey)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM ps
        |                    WHERE total_qty >= 80.0 AND recent_qty > total_qty * 0.5)
        |ORDER BY s_name""".stripMargin),

    ("tpch_q19",
      (s: SparkSession, dir: String) => {
        // disjunctive-predicate revenue (q19 shape): three brand/size/
        // quantity conjunctions OR'd INSIDE the join — Catalyst extracts
        // the common l_partkey = p_partkey equi-key so this plans as a
        // hash join with the disjunction as a residual filter, never a
        // nested loop over the fact table
        val p = broadcast(t(s, dir, "part"))
        t(s, dir, "lineitem")
          .join(p, col("l_partkey") === col("p_partkey")
            && ((col("p_brand") === "Brand#11" && col("p_size").between(1, 15)
                  && col("l_quantity").between(1, 11))
              || (col("p_brand") === "Brand#22" && col("p_size").between(1, 25)
                  && col("l_quantity").between(10, 20))
              || (col("p_brand") === "Brand#15" && col("p_size").between(1, 35)
                  && col("l_quantity").between(20, 30))))
          .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long")).as("revenue_cents"))
      },
      """SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    ("tpch_q21",
      (s: SparkSession, dir: String) => {
        // suppliers-who-kept-orders-waiting (q21 shape): per lineitem of
        // a finished order, EXISTS(another supplier in the order) AND
        // NOT EXISTS(another supplier shipping LATER) — the last
        // supplier to ship a multi-supplier order. Both correlated
        // subqueries become one semi + one anti join on the order key
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
        val l3 = li.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"),
          col("l_shipdate").as("d3"))
        // NO broadcast hint on fOrders: status 'F' keeps ~half the orders
        // table — fact-sized, not a dimension. AQE picks the join strategy
        val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"))
        li.join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
            "left_semi")
          .join(l3, col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3")
            && col("d3") > col("l_shipdate"), "left_anti")
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name").asc)
          .limit(100)
      },
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        |              AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
        |                  AND l3.l_suppkey <> l1.l_suppkey AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    ("tpch_q22",
      (s: SparkSession, dir: String) => {
        // global-sales-opportunity (q22 shape): rich-but-idle customers —
        // acctbal above the global positive mean (scalar subquery ->
        // broadcast 1-row agg; the mean is computed from INTEGER cents
        // so it is partition-order exact) and no RECENT orders (anti
        // join; this synthetic schema gives every customer at least one
        // lifetime order, so "idle" = nothing since 2000-06-01 — the
        // date filter pushes to the orders scan before the anti join)
        val cust = t(s, dir, "customer")
          .withColumn("bal_cents", floor(col("c_acctbal") * 100.0 + 0.5).cast("long"))
        val avgPos = cust.filter(col("c_acctbal") > 0.0)
          .agg((sum(col("bal_cents")).cast("double") / count(lit(1)).cast("double"))
            .as("avg_cents"))
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
        cust.crossJoin(broadcast(avgPos))
          .filter(col("bal_cents").cast("double") > col("avg_cents"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"), sum(col("bal_cents")).as("totacctbal_cents"))
      },
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents,
        |             c_acctbal
        |           FROM customer),
        |a AS (SELECT CAST(sum(bal_cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents
        |      FROM c WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM c, a
        |WHERE CAST(bal_cents AS DOUBLE) > avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY c_nationkey""".stripMargin),

    ("tpch_q7",
      (s: SparkSession, dir: String) => {
        // volume-shipping (q7 shape): revenue between two nations in
        // both directions — lineitem->supplier->n1 and ->orders->
        // customer->n2, the pair disjunction rides IN the join-filter so
        // non-qualifying rows die before the aggregation. Nation is the
        // only broadcast; fact-fact joins stay honest shuffles.
        val (na, nb) = ("NATION_3", "NATION_7")
        val n1 = t(s, dir, "nation").select(col("n_nationkey").as("n1_key"),
          col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation").select(col("n_nationkey").as("n2_key"),
          col("n_name").as("cust_nation"))
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
          .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
          .filter((col("supp_nation") === na && col("cust_nation") === nb)
            || (col("supp_nation") === nb && col("cust_nation") === na))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long")).as("revenue_cents"))
      },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN supplier ON l_suppkey = s_suppkey
        |     JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |     JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin),

    ("tpch_q8",
      (s: SparkSession, dir: String) => {
        // market-share (q8 shape): NATION_2's share of ECONOMY-part
        // revenue sold into ASIA, by year. Numerator and denominator
        // are integer-cents sums of the SAME aggregation (conditional
        // sum, one pass); the share division happens once per year row,
        // r6-rounded for the cross-engine hash.
        val asiaCust = t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA").select(col("c_custkey"))
        val suppNation = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation").select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val econParts = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .join(broadcast(econParts), col("l_partkey") === col("p_partkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
          .withColumn("cents",
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
              .cast("long"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(Num.r6(
            sum(when(col("supp_nation") === "NATION_2", col("cents")).otherwise(0L))
              .cast("double")
              / sum(col("cents")).cast("double")).as("mkt_share"))
      },
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  ${graft.Num.r6Sql(
        "CAST(sum(CASE WHEN n1.n_name = 'NATION_2' THEN cents ELSE 0 END) AS DOUBLE)" +
          " / CAST(sum(cents) AS DOUBLE)")} AS mkt_share
         |FROM (SELECT l_orderkey, l_partkey, l_suppkey,
         |        CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS cents
         |      FROM lineitem) l
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND p_type = 'ECONOMY'
         |  AND EXISTS (SELECT 1 FROM customer JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |              JOIN region ON n2.n_regionkey = r_regionkey
         |              WHERE c_custkey = o_custkey AND r_name = 'ASIA')
         |GROUP BY year(o_orderdate)""".stripMargin),

    ("tpch_q13",
      (s: SparkSession, dir: String) => {
        // customer-distribution (q13 shape): LEFT join so zero-order
        // customers survive into the c_count=0 bucket, then a second
        // (tiny) aggregation over the distribution itself.
        val o = t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        t(s, dir, "customer").select(col("c_custkey"))
          .join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |           AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin),

    ("tpch_q15",
      (s: SparkSession, dir: String) => {
        // top-supplier (q15 shape): quarterly revenue per supplier,
        // keep the max. The max is a broadcast one-row aggregate over
        // the (supplier-sized, already aggregated) revenue relation —
        // the scalar-subquery idiom, no second scan of lineitem.
        val rev = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long")).as("total_cents"))
        val top = rev.agg(max(col("total_cents")).as("max_cents"))
        rev.crossJoin(broadcast(top))
          .filter(col("total_cents") === col("max_cents"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_cents"))
      },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM rev)""".stripMargin),

    ("tpch_q2",
      (s: SparkSession, dir: String) => {
        // minimum-cost-supplier (q2 shape) over the synthesized
        // partsupp: EUROPE suppliers only, ECONOMY parts only; the
        // per-part minimum cost is computed once on the (already
        // region-filtered) partsupp relation and joined back — the
        // correlated-subquery shape as a self-aggregate + equijoin.
        // All tie rows survive, like the reference query.
        val euroSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val econ = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey"))
        val regional = partsupp(s, dir)
          .join(broadcast(econ), col("ps_partkey") === col("p_partkey"))
          .join(broadcast(euroSupp), col("ps_suppkey") === col("s_suppkey"))
        val minCost = regional.groupBy(col("ps_partkey").as("mk"))
          .agg(min(col("ps_supplycost_cents")).as("min_cents"))
        regional.join(broadcast(minCost),
            col("ps_partkey") === col("mk")
              && col("ps_supplycost_cents") === col("min_cents"))
          .select(col("ps_partkey"), col("s_name"), col("n_name"),
            col("ps_supplycost_cents"))
      },
      s"""WITH $partsuppCte
         |SELECT ps_partkey, s_name, n_name, ps_supplycost_cents
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |     JOIN supplier ON ps_suppkey = s_suppkey
         |     JOIN nation ON s_nationkey = n_nationkey
         |     JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
         |  AND ps_supplycost_cents = (
         |    SELECT min(ps2.ps_supplycost_cents) FROM ps ps2
         |    JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
         |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
         |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         |    WHERE ps2.ps_partkey = ps.ps_partkey AND r2.r_name = 'EUROPE')""".stripMargin),

    ("tpch_q9",
      (s: SparkSession, dir: String) => {
        // product-type profit (q9 shape): revenue minus supply cost per
        // nation and order year. The (partkey, suppkey) equijoin onto
        // the synthesized partsupp keeps the q9 plan shape (fact ⋈
        // partsupp ⋈ dims); profit stays in integer cents
        val ps = partsupp(s, dir)
          .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
            .select(col("p_partkey"))), col("ps_partkey") === col("p_partkey"))
        t(s, dir, "lineitem")
          .join(ps, col("l_partkey") === col("ps_partkey")
            && col("l_suppkey") === col("ps_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum(
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
              .cast("long")
              - col("ps_supplycost_cents") * col("l_quantity").cast("long"))
            .as("profit_cents"))
      },
      s"""WITH $partsuppCte
         |SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)
         |           - ps_supplycost_cents * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_cents
         |FROM lineitem
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN part ON ps_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_type = 'PROMO'
         |GROUP BY n_name, year(o_orderdate)""".stripMargin),

    ("tpch_q11",
      (s: SparkSession, dir: String) => {
        // important-stock (q11 shape): per-part inventory value for one
        // nation's suppliers, HAVING value above a fraction of that
        // nation's total — the threshold is a broadcast one-row
        // aggregate over the SAME already-filtered relation, computed
        // without a second partsupp pass
        val natSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .filter(col("n_name") === "NATION_3").select(col("s_suppkey"))
        val held = partsupp(s, dir)
          .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
          .withColumn("value_cents", col("ps_supplycost_cents") * col("ps_availqty"))
        val perPart = held.groupBy(col("ps_partkey"))
          .agg(sum(col("value_cents")).as("part_value_cents"))
        val total = perPart.agg(sum(col("part_value_cents")).as("total_cents"))
        perPart.crossJoin(broadcast(total))
          .filter(col("part_value_cents").cast("double")
            > col("total_cents").cast("double") * 0.001)
          .select(col("ps_partkey"), col("part_value_cents"))
      },
      s"""WITH $partsuppCte,
         |held AS (SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS value_cents
         |         FROM ps JOIN supplier ON ps_suppkey = s_suppkey
         |              JOIN nation ON s_nationkey = n_nationkey
         |         WHERE n_name = 'NATION_3'),
         |pp AS (SELECT ps_partkey, CAST(sum(value_cents) AS BIGINT) AS part_value_cents
         |       FROM held GROUP BY ps_partkey)
         |SELECT ps_partkey, part_value_cents FROM pp
         |WHERE CAST(part_value_cents AS DOUBLE) >
         |      (SELECT CAST(sum(part_value_cents) AS DOUBLE) FROM pp) * 0.001""".stripMargin),

    ("orders_window",
      (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderkey"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            row_number().over(w).as("rk"),
            sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).over(run)
              .as("run_cents"),
            lag(col("o_orderkey"), 1).over(w).as("prev_order"))
      },
      """SELECT o_orderkey, o_custkey,
        |  CAST(row_number() OVER w AS INT) AS rk,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents,
        |  lag(o_orderkey, 1) OVER w AS prev_order
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin),

    ("orders_top_per_cust",
      (s: SparkSession, dir: String) =>
        Reshape.topNPerGroup(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          Seq("o_custkey"), "o_totalprice", "o_orderkey", n = 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk")),
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3""".stripMargin),

    ("dedup_incremental",
      (s: SparkSession, dir: String) => {
        // incremental ingest: the "new batch" (doc_id > 250) is admitted
        // only if its content fingerprint is unseen in the existing
        // corpus — fingerprint anti-join, the streaming-adjacent batch
        // formulation of dedupStream
        import s.implicits._
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          // a NULL-text row in the NEW batch: its NULL fingerprint must
          // be ADMITTED (never equi-joins the existing side)
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
        val existing = TextAnalysis.fingerprint(
          d.filter(col("doc_id") <= 250), "text").select(col("fingerprint"))
        TextAnalysis.fingerprint(d.filter(col("doc_id") > 250), "text")
          .join(existing, Seq("fingerprint"), "left_anti")
          .select(col("doc_id"), col("fingerprint"))
      },
      // NOT EXISTS with `=`, not NOT IN: a NULL fingerprint (null text)
      // never equi-joins, so Spark's left_anti ADMITS it — NOT IN would
      // return NULL and silently drop the row instead
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              UNION ALL SELECT 99991, NULL),
         |fp AS (SELECT doc_id, ${rhSql("text")} AS fingerprint FROM docs)
         |SELECT doc_id, fingerprint FROM fp
         |WHERE doc_id > 250 AND NOT EXISTS
         |  (SELECT 1 FROM fp f2 WHERE f2.doc_id <= 250 AND f2.fingerprint = fp.fingerprint)""".stripMargin),

    ("dedup_incremental_neardup",
      (s: SparkSession, dir: String) => {
        // crawl-ingest near-dup gate: which NEW docs (id > 250) are
        // near-dups of the EXISTING corpus (id <= 250)? The band join
        // never self-joins the existing side. Oracle: the batch pipeline
        // over the union yields the identical cross-side pairs — the
        // equivalence the operator's scaladoc claims
        val d = t(s, dir, "documents")
        Dedup.minhashLshIncremental(
          d.filter(col("doc_id") <= 250), d.filter(col("doc_id") > 250),
          "doc_id", "text",
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20))
      },
      s"""WITH $minhashCtes
         |SELECT CASE WHEN d1 > 250 THEN d1 ELSE d2 END AS d_new,
         |       CASE WHEN d1 > 250 THEN d2 ELSE d1 END AS d_old, jaccard
         |FROM mh_pairs WHERE (d1 <= 250) <> (d2 <= 250)""".stripMargin),

    ("join_fuzzy_edit",
      (s: SparkSession, dir: String) => {
        // entity resolution: a "dirty" batch (every name with one
        // deterministic character substitution) matched against the
        // clean reference within 1 edit — the PassJoin segment filter
        // generates candidates (constant ≤(k+1)²(2k+1) keys per
        // string, plain equi-join), banded levenshtein verifies. The
        // oracle is the BRUTE-FORCE exact join (length prefilter +
        // plain levenshtein, deliberately filter-independent), so the
        // hash match proves completeness, not just determinism.
        // Bounded key subset keeps the oracle's quadratic verify
        // tractable at every SF.
        val base = t(s, dir, "part").filter(col("p_partkey") < 2000)
          .select(col("p_partkey").as("k"),
            concat(col("p_name"), lit("#"), col("p_partkey")).as("nm"))
        val clean = base.select(col("k").as("id"), col("nm"))
        val dirty = base
          .withColumn("pos", pmod(col("k"), length(col("nm"))).cast("int") + 1)
          .select((col("k") + 100000L).as("id"),
            concat(expr("substring(nm, 1, pos - 1)"), lit("q"),
              expr("substring(nm, pos + 1, length(nm) - pos)")).as("nm"))
        FuzzyJoin.editDistanceJoin(dirty, "id", "nm", clean, "id", "nm",
          maxDist = 1)
          .select(col("l_id").as("dirty_id"), col("r_id").as("clean_id"),
            col("dist"))
      },
      """WITH base AS (SELECT p_partkey AS k,
        |                     p_name || '#' || CAST(p_partkey AS VARCHAR) AS nm
        |              FROM part WHERE p_partkey < 2000),
        |clean AS (SELECT k AS id, nm FROM base),
        |dirty AS (SELECT k + 100000 AS id,
        |                 substr(nm, 1, CAST(k % length(nm) AS INT)) || 'q' ||
        |                 substr(nm, CAST(k % length(nm) AS INT) + 2) AS nm
        |          FROM base)
        |SELECT d.id AS dirty_id, c.id AS clean_id,
        |       CAST(levenshtein(d.nm, c.nm) AS INT) AS dist
        |FROM dirty d JOIN clean c ON abs(length(d.nm) - length(c.nm)) <= 1
        |WHERE levenshtein(d.nm, c.nm) <= 1""".stripMargin),

    ("dedup_incremental_neardup_ingested",
      (s: SparkSession, dir: String) => {
        // the PERSISTED-INDEX twin of dedup_incremental_neardup: the
        // existing corpus (id ≤ 250) is shingle-hashed, flood-capped,
        // and banded ONCE at ingest (three bucketed tables + parameter
        // sidecar); the new batch (id > 250) probes with batch-sized
        // work only — no corpus re-tokenize, none of the k MinHash
        // permutations re-run. Flood semantics differ deliberately
        // from the incremental twin (cap fixed at ingest over the
        // index corpus, not recomputed over the union — what a
        // persisted crawl index can actually promise); the oracle
        // mirrors exactly that.
        val d = t(s, dir, "documents")
        val table = s"graft_mh_idx_${dirSuffix(dir)}"
        Dedup.ingestMinhashIndex(d.filter(col("doc_id") <= 250),
          "doc_id", "text", n = 3, k = 16, rowsPerBand = 4,
          maxDocFreq = Some(20), table, nBuckets = 8)
        Dedup.minhashLshIngested(s, table, d.filter(col("doc_id") > 250),
          "doc_id", "text", threshold = 0.3)
      },
      mhIngestedOracleSql(floodUpper = 250)),

    ("dedup_neardup_appended",
      (s: SparkSession, dir: String) => {
        // the APPEND maintenance half of the persisted near-dup index:
        // ingest docs ≤ 125 (flood set computed — and FROZEN — there),
        // append docs 126..250 with batch-sized work (shingle-hash the
        // batch, filter against the frozen flood set, append bucketed
        // files — no corpus re-tokenize, none of the k permutations
        // re-run), then admit the > 250 batch against the combined
        // index. The oracle bakes in exactly the frozen-flood
        // semantics: its doc-freq cap is computed over the ingested
        // half ONLY, every side then filters against it — what a
        // continuously-appended crawl index actually promises (the
        // periodic ingestMinhashIndex rebuild is the flood-refresh
        // trigger, the centroid-drift trade made explicit).
        val d = t(s, dir, "documents")
        val table = s"graft_mh_app_${dirSuffix(dir)}"
        builtBatches(s, table, Minhash)(d.filter(col("doc_id") <= 125),
          d.filter(col("doc_id") > 125 && col("doc_id") <= 250))
        Dedup.minhashLshIngested(s, table, d.filter(col("doc_id") > 250),
          "doc_id", "text", threshold = 0.3)
      },
      mhIngestedOracleSql(floodUpper = 125)),

    ("dedup_neardup_streamed",
      (s: SparkSession, dir: String) => {
        // the index corpus (docs ≤ 250) arrives as three foreachBatch
        // deliveries with batch 1 RE-delivered; the first batch builds
        // the index and freezes the flood set THERE (doc % 3 = 0 — the
        // oracle's cap predicate mirrors it exactly), later batches
        // fold in batch-sized, the replay is a commit-log no-op. The
        // replay guard is load-bearing: a doubled batch duplicates
        // (doc, h) shingle rows and every Jaccard intersection
        // double-counts — this gate's oracle would catch it.
        val d = t(s, dir, "documents")
        val table = s"graft_mh_str_${dirSuffix(dir)}"
        builtStreamed(s, table, Minhash, d.filter(col("doc_id") <= 250))
        Dedup.minhashLshIngested(s, table, d.filter(col("doc_id") > 250),
          "doc_id", "text", threshold = 0.3)
      },
      mhIngestedOracleWhere("doc <= 250 AND doc % 3 = 0")),

    ("dedup_neardup_deleted",
      (s: SparkSession, dir: String) => {
        // the DELETE lifecycle verb for the near-dup index: ingest docs
        // ≤ 250, tombstone every 5th doc (a takedown list — the index
        // is never rewritten), admit the > 250 batch. Deleted docs must
        // neither generate candidates nor contribute Jaccard shingles;
        // the FLOOD SET stays frozen at its full-ingest value (deleting
        // documents does not un-flood boilerplate — the same honest
        // exception as append, mirrored exactly by the oracle: cap over
        // docs ≤ 250, index side restricted to the survivors).
        val d = t(s, dir, "documents")
        val table = s"graft_mh_del_${dirSuffix(dir)}"
        builtDeleted(s, table, Minhash, d.filter(col("doc_id") <= 250))(
          d.filter(col("doc_id") <= 250 && col("doc_id") % 5 === 0))
        Dedup.minhashLshIngested(s, table, d.filter(col("doc_id") > 250),
          "doc_id", "text", threshold = 0.3)
      },
      mhIngestedOracleWhere("doc <= 250", oldWhere = "ol.doc % 5 <> 0")),

    ("dedup_neardup_asof",
      (s: SparkSession, dir: String) => {
        // SNAPSHOT (as-of) admission for the near-dup index — "admit
        // this batch against the index as it stood at batch 1" (the
        // repro verb a re-run takedown review needs): ingest docs ≤ 125
        // (batch 0 — the flood set freezes THERE), append (125, 187]
        // (batch 1), append (187, 250] (batch 2), then admit the > 250
        // batch AS OF batch 1. The oracle caps over the ingest slice
        // and restricts the index side to docs ≤ 187 — the frozen-flood
        // append semantics, time-sliced; batch-2 docs are invisible to
        // the snapshot probe even though they sit in the same files.
        val d = t(s, dir, "documents")
        val table = s"graft_mh_asof_${dirSuffix(dir)}"
        builtBatches(s, table, Minhash)(d.filter(col("doc_id") <= 125),
          d.filter(col("doc_id") > 125 && col("doc_id") <= 187),
          d.filter(col("doc_id") > 187 && col("doc_id") <= 250))
        Dedup.minhashLshIngested(s, table, d.filter(col("doc_id") > 250),
          "doc_id", "text", threshold = 0.3, asOf = Some(1L))
      },
      mhIngestedOracleWhere("doc <= 125", oldWhere = "ol.doc <= 187")),

    ("profile_skew",
      (s: SparkSession, dir: String) =>
        Profile.keySkew(t(s, dir, "orders"), "o_custkey", topN = 10),
      {
        val share = Num.r6Sql(
          "CAST(cnt AS DOUBLE) / CAST((SELECT count(*) FROM orders) AS DOUBLE)")
        s"""WITH c AS (SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
           |           FROM orders GROUP BY o_custkey)
           |SELECT key, cnt, $share AS share FROM c
           |ORDER BY cnt DESC, key LIMIT 10""".stripMargin
      }),

    ("profile_orders",
      (s: SparkSession, dir: String) =>
        Profile.summarize(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      {
        def one(c: String) =
          s"""SELECT '$c' AS "column", CAST(count($c) AS BIGINT) AS n_nonnull,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_value, CAST(max($c) AS VARCHAR) AS max_value,
             |  CAST(count(*) AS BIGINT) AS n_rows FROM orders""".stripMargin
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
          .map(one).mkString("\nUNION ALL\n")
      }),

    ("graph_pagerank",
      (s: SparkSession, dir: String) => {
        // Bidirectional edges mean no dangling nodes, so the oracle
        // needs no dangling-mass term (the operator's static-set check
        // skips it too); the dangling path is covered by GraphSpec
        // against a mirrored reference implementation.
        Graph.pageRank(coPurchaseEdges(s, dir), "src", "dst",
          iters = 5, damping = 0.85d)
      },
      pageRankOracleSql),

    ("graph_pagerank_bucketed",
      (s: SparkSession, dir: String) => {
        // same ranks, stored layout: the edges land in ONE batch in
        // the src-bucketed (log, degree) pair, and every iteration's
        // log⋈degrees⋈ranks join then reads the bucketed scans
        // exchange-free on the edge side — at 100 TB the per-round
        // shuffle drops from |E| to |V|
        val (log, degT) = freshPair(s, dir, "pr_edges")
        Graph.ingestEdges(coPurchaseEdges(s, dir), "src", "dst", log, degT, nBuckets = 8)
        Graph.pageRankIngested(s, log, degT, iters = 5, damping = 0.85d)
      },
      pageRankOracleSql),

    ("graph_pagerank_ingested",
      (s: SparkSession, dir: String) => {
        // same ranks, INGEST layout: the edges arrive as two
        // deterministic batches (endpoint-sum parity — a partition of
        // the edge multiset) through Graph.ingestEdges, which appends
        // each into the src-bucketed log and rebuilds the derived
        // degree table exchange-free; pageRankIngested then runs the
        // shared loop over the co-located log⋈degrees join
        val (log, degT) = freshPair(s, dir, "pr")
        val e = coPurchaseEdges(s, dir)
        Seq(0, 1).foreach { p =>
          Graph.ingestEdges(e.filter(pmod(col("src") + col("dst"), lit(2)) === p),
            "src", "dst", log, degT, nBuckets = 8)
        }
        Graph.pageRankIngested(s, log, degT, iters = 5, damping = 0.85d)
      },
      pageRankOracleSql),

    ("graph_pagerank_personalized",
      (s: SparkSession, dir: String) => {
        // seed-relative authority: teleport restricted to customers
        // 1-3 — "rank everything relative to these trusted nodes", the
        // query global PageRank cannot express. Same join+agg iteration
        // shape; nodes outside the seeds' reach legitimately rank 0
        val edges = coPurchaseEdges(s, dir)
        val seeds = t(s, dir, "customer").filter(col("c_custkey") <= 3)
          .select(col("c_custkey"))
        // pprOracleSql hardcodes dangling mass to 0 — valid only while
        // every seed appears as an edge source (bidirectional graph ⇒
        // no dangling nodes). Guard the assumption loudly (one tiny
        // anti-join count over the seed set, not the corpus).
        val orphan = seeds.select(col("c_custkey").cast("long").as("src"))
          .join(edges.select(col("src")), Seq("src"), "left_anti").limit(1).count()
        require(orphan == 0L,
          "graph_pagerank_personalized oracle assumes every seed has out-edges; " +
            "a dangling/isolated seed would diverge from the zero-dangling oracle")
        Graph.pageRankPersonalized(edges, "src", "dst", seeds,
          "c_custkey", iters = 5, damping = 0.85d)
      },
      pprOracleSql),

    ("graph_pagerank_weighted",
      (s: SparkSession, dir: String) =>
        // co-purchase VOLUME as link prominence: src's rank splits
        // proportionally to l_quantity instead of uniformly — weights
        // in exact integer micro-units so the per-source total is
        // aggregation-order independent; same loop, teleport, and r6
        // discipline as graph_pagerank (unit weights reproduce it,
        // GraphSpec asserts)
        Graph.pageRankWeighted(coPurchaseEdgesWeighted(s, dir),
          "src", "dst", "w", iters = 5, damping = 0.85d),
      weightedPrOracleSql),

    ("graph_sssp",
      (s: SparkSession, dir: String) =>
        // quantity-weighted shortest distance from customer seeds 1-3:
        // bfs's weighted twin — frontier Bellman–Ford over micro-exact
        // integer path lengths, min-fold state, 4 relaxation rounds
        // (a cheaper multi-hop path legitimately beats a direct edge,
        // which hop-count BFS cannot express; GraphSpec pins that case)
        Graph.sssp(coPurchaseEdgesWeighted(s, dir), "src", "dst", "w",
          t(s, dir, "customer").filter(col("c_custkey") <= 3)
            .select(col("c_custkey")),
          "c_custkey", maxIters = 4),
      ssspOracleSql),

    ("graph_sssp_bucketed",
      (s: SparkSession, dir: String) => {
        // same distances, stored layout: the validated weighted edges
        // land in ONE batch in the src-bucketed log and every
        // relaxation round's edges⋈frontier join reads the bucketed
        // scan exchange-free — the graph_bfs_bucketed pattern for the
        // weighted family (SCALING.md measures why the layout matters)
        val (log, degT) = freshPair(s, dir, "wedges")
        Graph.ingestWeightedEdges(coPurchaseEdgesWeighted(s, dir),
          "src", "dst", "w", log, degT, nBuckets = 8)
        Graph.ssspIngested(s, log,
          t(s, dir, "customer").filter(col("c_custkey") <= 3)
            .select(col("c_custkey")),
          "c_custkey", maxIters = 4)
      },
      ssspOracleSql),

    ("graph_pagerank_weighted_bucketed",
      (s: SparkSession, dir: String) => {
        // weighted ranks over the same one-batch pair: weight totals
        // live in the degree table, rebuilt from the log at ingest
        // (recomputing them per run would re-shuffle the edges the
        // bucketing exists to avoid), each iteration's join
        // exchange-free on the edge side
        val (log, degT) = freshPair(s, dir, "wedges_pr")
        Graph.ingestWeightedEdges(coPurchaseEdgesWeighted(s, dir),
          "src", "dst", "w", log, degT, nBuckets = 8)
        Graph.pageRankWeightedIngested(s, log, degT, iters = 5, damping = 0.85d)
      },
      weightedPrOracleSql),

    ("graph_pagerank_weighted_ingested",
      (s: SparkSession, dir: String) => {
        // the APPEND path: the weighted co-purchase edges arrive as TWO
        // batches into the (log, degree) pair — weight totals live in
        // their own src-bucketed table, rebuilt exchange-free from the
        // log per ingest, so no stored total goes stale. Ranks are
        // bit-identical to the batch operator on the union (weight
        // merging is a sum — batch boundaries cannot move it), so the
        // gate shares the weighted-PageRank oracle.
        val (log, degT) = freshPair(s, dir, "wpr")
        val e = coPurchaseEdgesWeighted(s, dir)
        Seq(0, 1).foreach { p =>
          Graph.ingestWeightedEdges(e.filter(pmod(col("src") + col("dst"), lit(2)) === p),
            "src", "dst", "w", log, degT, nBuckets = 8)
        }
        Graph.pageRankWeightedIngested(s, log, degT, iters = 5, damping = 0.85d)
      },
      weightedPrOracleSql),

    ("graph_sssp_ingested",
      (s: SparkSession, dir: String) => {
        // shortest paths over the same two-batch weighted log — sssp
        // needs no degree totals, so the probe reads the src-bucketed
        // log alone; shares the sssp oracle (edge-set union is
        // batch-order independent)
        val log = s"graft_wlog_sp_${dirSuffix(dir)}"
        val degT = s"graft_wdeg_sp_${dirSuffix(dir)}"
        builtOnce(s, log) {
          Seq(log, s"${log}_meta", degT).foreach(Bucketing.dropManaged(s, _))
          val e = coPurchaseEdgesWeighted(s, dir)
          Graph.ingestWeightedEdges(e.filter(pmod(col("src") + col("dst"), lit(2)) === 0),
            "src", "dst", "w", log, degT, nBuckets = 8)
          Graph.ingestWeightedEdges(e.filter(pmod(col("src") + col("dst"), lit(2)) === 1),
            "src", "dst", "w", log, degT, nBuckets = 8)
        }
        Graph.ssspIngested(s, log,
          t(s, dir, "customer").filter(col("c_custkey") <= 3)
            .select(col("c_custkey")),
          "c_custkey", maxIters = 4)
      },
      ssspOracleSql),

    ("graph_pagerank_directed",
      (s: SparkSession, dir: String) => {
        // DIRECTED customer→part edges only: every part node is a sink,
        // so this gate drives the dangling-mass redistribution path —
        // the one pageRank branch the bidirectional gates never enter —
        // under the DuckDB oracle (the scalar mass re-enters as a
        // 1-row broadcast each iteration, the tpch_q15 idiom)
        val ol = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").cast("long").as("src"),
            (col("l_partkey") + lit(10000000L)).cast("long").as("dst"))
        Graph.pageRank(ol, "src", "dst", iters = 3, damping = 0.85d)
      },
      {
        val d = "CAST(0.85 AS DOUBLE)"
        val step = (i: Int) =>
          s"""dm$i AS (SELECT CAST(COALESCE(sum(r.rank), 0) AS DOUBLE) AS dm
             |         FROM r${i - 1} r JOIN dgl USING (node)),
             |r$i AS (
             |  SELECT nd.node,
             |    ${Num.r6Sql(s"(1 - $d) / (SELECT n FROM nn) + $d * (COALESCE(s.insum, CAST(0 AS DOUBLE)) + (SELECT dm FROM dm$i) / (SELECT n FROM nn))")} AS rank
             |  FROM nd LEFT JOIN (
             |    SELECT e.dst AS node, sum(r.rank / dg.deg) AS insum
             |    FROM e JOIN r${i - 1} r ON e.src = r.node
             |           JOIN dg ON e.src = dg.src
             |    GROUP BY e.dst) s ON nd.node = s.node)""".stripMargin
        s"""WITH e AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS src,
           |         CAST(l_partkey + 10000000 AS BIGINT) AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
           |dg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
           |dgl AS (SELECT node FROM nd WHERE node NOT IN (SELECT src FROM e)),
           |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nd),
           |${(1 to 3).map(step).mkString(",\n")}
           |SELECT node, rank FROM r3""".stripMargin
      }),

    ("graph_communities",
      (s: SparkSession, dir: String) =>
        // sync LPA over the same bidirectional graph — all-integer
        // arithmetic, so the oracle needs no rounding discipline at
        // all; ties resolve to the smallest label on both sides
        Graph.labelPropagation(coPurchaseEdges(s, dir), "src", "dst", iters = 3),
      {
        val step = (i: Int) =>
          s"""c$i AS (SELECT e.dst, p.label, count(*) AS cnt
             |        FROM e JOIN l${i - 1} p ON e.src = p.node
             |        GROUP BY e.dst, p.label),
             |v$i AS (SELECT dst, label FROM (
             |          SELECT dst, label,
             |            row_number() OVER (PARTITION BY dst
             |                               ORDER BY cnt DESC, label ASC) AS rn
             |          FROM c$i) WHERE rn = 1),
             |l$i AS (SELECT p.node, CAST(COALESCE(v.label, p.label) AS BIGINT) AS label
             |        FROM l${i - 1} p LEFT JOIN v$i v ON p.node = v.dst)""".stripMargin
        s"""WITH eb AS (
           |  SELECT CAST(o_custkey AS BIGINT) AS src,
           |         CAST(l_partkey + 10000000 AS BIGINT) AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (SELECT src, dst FROM eb
           |      UNION ALL SELECT dst AS src, src AS dst FROM eb),
           |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |l0 AS (SELECT node, node AS label FROM nd),
           |${(1 to 3).map(step).mkString(",\n")}
           |SELECT node, label FROM l3""".stripMargin
      }),

    ("graph_triangles",
      (s: SparkSession, dir: String) =>
        // degree-oriented (compact-forward) enumeration over the
        // support-≥2 co-occurrence graph: the orientation bounds every
        // node's wedge fan-out by O(√|E|) regardless of hub skew — the
        // property the naive three-way self-join (which the ORACLE runs,
        // feasible only at oracle scale) lacks at 100 TB
        Graph.triangles(coOccurrenceEdges(s, dir), "u", "v"),
      s"""WITH $coOccurrenceCte
         |SELECT p1.u AS d1, p1.v AS d2, p2.v AS d3
         |FROM p p1 JOIN p p2 ON p1.v = p2.u
         |          JOIN p p3 ON p3.u = p1.u AND p3.v = p2.v""".stripMargin),

    ("graph_clustering",
      (s: SparkSession, dir: String) =>
        // per-node triangle count + local clustering coefficient over
        // the same graph — cohesion features for community/spam scoring
        Graph.clusteringCoefficient(coOccurrenceEdges(s, dir), "u", "v"),
      {
        val cc = Num.r6Sql(
          "2.0 * CAST(COALESCE(pt.tri, 0) AS DOUBLE) / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))")
        s"""WITH $coOccurrenceCte,
           |tri AS (SELECT p1.u AS d1, p1.v AS d2, p2.v AS d3
           |        FROM p p1 JOIN p p2 ON p1.v = p2.u
           |                  JOIN p p3 ON p3.u = p1.u AND p3.v = p2.v),
           |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |        SELECT u AS node FROM p UNION ALL SELECT v FROM p)
           |      GROUP BY node),
           |pt AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
           |         SELECT d1 AS node FROM tri UNION ALL SELECT d2 FROM tri
           |         UNION ALL SELECT d3 FROM tri)
           |       GROUP BY node)
           |SELECT d.node, d.deg, COALESCE(pt.tri, CAST(0 AS BIGINT)) AS tri,
           |       CASE WHEN d.deg >= 2 THEN $cc ELSE CAST(0 AS DOUBLE) END AS cc
           |FROM d LEFT JOIN pt ON d.node = pt.node""".stripMargin
      }),

    ("graph_bfs",
      (s: SparkSession, dir: String) =>
        // level-synchronous BFS over the bidirectional co-purchase
        // graph from customer seeds 1-3, 4 hops — reachability features
        // ("within k links of a seed"); state is |V|-bounded min-dist,
        // never path enumeration
        Graph.bfs(coPurchaseEdges(s, dir), "src", "dst",
          t(s, dir, "customer").filter(col("c_custkey") <= 3)
            .select(col("c_custkey")),
          "c_custkey", maxHops = 4),
      bfsOracleSql),

    ("graph_bfs_bucketed",
      (s: SparkSession, dir: String) => {
        // same distances, stored layout: the edges land in ONE batch in
        // the src-bucketed log and every hop's edges⋈frontier join then
        // reads the bucketed scan exchange-free — at 100 TB the per-hop
        // shuffle drops from |E| (frontier out-edges) to the frontier
        // itself (≤|V| rows). GraphSpec asserts strictly fewer
        // exchanges.
        val (log, degT) = freshPair(s, dir, "bfs_edges")
        Graph.ingestEdges(coPurchaseEdges(s, dir), "src", "dst", log, degT, nBuckets = 8)
        Graph.bfsBucketed(s, log,
          t(s, dir, "customer").filter(col("c_custkey") <= 3)
            .select(col("c_custkey")),
          "c_custkey", maxHops = 4)
      },
      bfsOracleSql),

    ("graph_kcore",
      (s: SparkSession, dir: String) =>
        // 3-core of the co-occurrence graph, 12 peeling rounds (GraphSpec
        // asserts the result is stable under +1 round at every SF —
        // i.e. the peel HAS converged; the fixed count is what lets the
        // oracle unroll identically)
        Graph.kCore(coOccurrenceEdges(s, dir), "u", "v", k = 3, rounds = 12),
      {
        // MATERIALIZED is load-bearing: e$i references e$i-1 three times
        // (directly + via both IN subqueries) — inlined CTEs would
        // expand the chain 3^12 times (the BPE-oracle failure mode)
        val step = (i: Int) =>
          s"""k$i AS MATERIALIZED (SELECT n FROM (
             |    SELECT n, count(*) AS d FROM (
             |      SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
             |    GROUP BY n) WHERE d >= 3),
             |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
             |  WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))""".stripMargin
        s"""WITH $coOccurrenceCte,
           |e0 AS MATERIALIZED (SELECT u, v FROM p),
           |${(1 to 12).map(step).mkString(",\n")}
           |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |  SELECT u AS node FROM e12 UNION ALL SELECT v FROM e12)
           |GROUP BY node""".stripMargin
      }),

    ("graph_link_predict",
      (s: SparkSession, dir: String) =>
        // top unlinked part pairs by Adamic–Adar over the co-occurrence
        // graph — candidates only through shared neighbors with the
        // wedge middle capped at deg ≤ 30 (the flood-cap discipline:
        // work is Σ deg(w)², hubs above the cap generate no candidates)
        Graph.linkPrediction(coOccurrenceEdges(s, dir), "u", "v", maxDeg = 30)
          .orderBy(col("aa").desc, col("cn").desc, col("u"), col("v"))
          .limit(20),
      {
        val aa = Num.r6Sql("sum(1.0 / ln(CAST(d AS DOUBLE)))")
        s"""WITH $coOccurrenceCte,
           |dg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
           |         SELECT u AS n FROM p UNION ALL SELECT v FROM p)
           |       GROUP BY n),
           |adj AS (SELECT u AS w, v AS x FROM p UNION ALL SELECT v, u FROM p),
           |mid AS (SELECT adj.w, adj.x, dg.d FROM adj
           |        JOIN dg ON adj.w = dg.n WHERE dg.d <= 30),
           |wg AS (SELECT l.x AS x, r.x AS y, l.d
           |       FROM mid l JOIN mid r ON l.w = r.w WHERE l.x < r.x),
           |sc AS (SELECT x AS u, y AS v, CAST(count(*) AS BIGINT) AS cn, $aa AS aa
           |       FROM wg GROUP BY x, y)
           |SELECT u, v, cn, aa FROM sc
           |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.u = sc.u AND p.v = sc.v)
           |ORDER BY aa DESC, cn DESC, u, v LIMIT 20""".stripMargin
      }),
  )
}
