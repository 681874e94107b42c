package graft.ops

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Num

/** Iterative graph ranking over an edge list — the crawl-prioritization
  * primitive of a large-scale training-data pipeline (domain/host
  * authority from the web link graph, the role harmonic centrality and
  * PageRank play in Common-Crawl-derived corpora).
  *
  * Spark-first shape: the graph is two DataFrames derived from the edge
  * list (out-degrees, node set), and each iteration is one equi-join
  * (edges ⋈ ranks on src) plus one aggregation (sum of contributions by
  * dst) — both plain shuffles Catalyst plans as hash exchanges; the
  * teleport term is pure arithmetic. Ranks are `localCheckpoint`ed per
  * iteration: without truncation the plan doubles in depth every round
  * (the classic iterative-lineage explosion). At 100 TB the lever is
  * storage layout, not the loop: the one stored edge layout is the
  * src-bucketed (log, degree) pair ([[ingestEdges]],
  * [[ingestWeightedEdges]]), whose probes join the log to its degrees
  * exchange-free, leaving one rank-sized shuffle per round.
  *
  * Cross-engine determinism: every new rank is rounded to the 1e-6 grid
  * with [[Num.r6]] (the bit-identical floor-based formula the DuckDB
  * oracle uses), so float summation-order noise (~1e-17 relative) cannot
  * accumulate across iterations.
  *
  * Two loops serve the iterative operators: the PageRank loop
  * ([[iterate]]) runs every PageRank form, personalized PageRank
  * included, and the shortest-path loop ([[shortestPaths]]) runs BFS
  * (unit steps) and SSSP (micro-unit weights). Label propagation and
  * k-core keep their own rounds.
  */
object Graph {

  /** PageRank with fixed iteration count, optionally stopping early on
    * convergence.
    *
    * Multi-edges are weights: a (src, dst) pair appearing k times
    * contributes k shares of src's rank, and k counts toward src's
    * out-degree. Dangling nodes (no out-edges) redistribute their rank
    * mass uniformly; the dangling flag is computed ONCE (it is static)
    * on the keyed node relation and the per-iteration mass aggregation
    * is skipped entirely when no node carries it. The node count enters
    * as one O(1) driver scalar (the teleport constant needs it inside
    * literals), matching the k-means centroid idiom rather than a
    * per-row driver loop.
    *
    * `tol > 0` switches on tolerance-based termination — the standard
    * production control: stop as soon as the L1 rank delta
    * (Σ|rank_i − rank_{i−1}|) drops below `tol`, `iters` becoming the
    * cap. Cost per round: the previous rank rides the iteration's
    * existing relation as one extra column (see [[iterate]]) and the
    * delta is ONE 1-row aggregate over the round's materialized ranks —
    * no extra join, no extra shuffle.
    * Choosing tol: the per-iteration 1e-6 grid rounding (the
    * cross-engine determinism contract) floors the reachable delta —
    * the rounded map sometimes has an exact fixed point (delta 0,
    * further iterations bit-identical) but can also settle into a
    * bounded grid-level cycle where delta never drops below a few
    * ×1e-6 (measured: a 5-node star+tail oscillates one grid step on
    * two nodes forever, delta 4e-6). A production tol should therefore
    * sit at or above ~1e-6 × expected-moving-nodes; a smaller tol is
    * safe but may run to the `iters` cap — which is exactly the cap's
    * job. With `tol = 0` (default) the loop and plan are exactly the
    * fixed-count path.
    *
    * @return (node: long, rank: double) — ranks on the 1e-6 grid, sum ≈ 1.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85d, tol: Double = 0.0d): DataFrame =
    pageRankCounted(edges, srcCol, dstCol, iters, damping, tol)._1

  /** [[pageRank]] plus the number of iterations actually run — the
    * observable GraphSpec's convergence pins assert against.
    */
  private[graft] def pageRankCounted(edges: DataFrame, srcCol: String, dstCol: String,
                                     iters: Int, damping: Double = 0.85d,
                                     tol: Double = 0.0d): (DataFrame, Int) = {
    val e = longEdges(edges, srcCol, dstCol)
    // deg-attach stays the join form DELIBERATELY (measured this
    // round): a single-pass window rewrite (repartition(P, src) +
    // count over partitionBy(src)) halves the edge-DAG evaluations on
    // paper, but the degree aggregate is |V|-sized and BROADCASTS, so
    // the join form never shuffles e before the keyed checkpoint —
    // where the window pays a full |E| sort+buffer per call. Bench:
    // graph_pagerank 3.25 s → 5.80 s with the window form; reverted.
    iterate(withDeg(e, outDeg), iters, damping, tol)
  }

  /** Persist an edge list as the stored edge layout, one batch per call
    * — a one-batch build for a write-once graph, or per micro-batch from
    * a Structured Streaming `foreachBatch` sink (StreamingSpec proves
    * stream-vs-batch rank equality).
    *
    * Layout: an APPEND-ONLY edge log `logTable` (src, dst) bucketed by
    * src, plus a DERIVED degree table `degTable` (src, deg) bucketed
    * the same way. Each batch appends its edges (history is never
    * rewritten — the property that makes the sink streamable and the
    * log safe to re-read mid-ingest) and rebuilds the degree relation:
    * a groupBy(src) over the src-bucketed log, which Catalyst plans
    * WITHOUT an exchange, writing |V| rows. A degree baked into the
    * edge rows would instead rewrite every stored row of every src the
    * batch touches — O(affected-src edges) per batch versus this
    * layout's O(|V|) derived-table refresh.
    */
  def ingestEdges(edges: DataFrame, srcCol: String, dstCol: String,
                  logTable: String, degTable: String, nBuckets: Int): Unit =
    ingestLog(longEdges(edges, srcCol, dstCol), logTable, degTable, nBuckets, outDeg)

  /** The edge-log ingest of [[ingestEdges]] and [[ingestWeightedEdges]]:
    * append `e` to the src-bucketed `logTable` (created at `nBuckets`),
    * then rebuild `degTable` as `deg` per src over the whole log.
    */
  private def ingestLog(e: DataFrame, logTable: String, degTable: String,
                        nBuckets: Int, deg: Column): Unit = {
    val spark = e.sparkSession
    // append with the CATALOG's bucket count, not the caller's — a
    // config drift between the bootstrap and incremental jobs must be
    // impossible by construction (the appendBm25/appendIvf discipline)
    if (spark.catalog.tableExists(logTable))
      Bucketing.appendBucketed(e, logTable, "src")
    else Bucketing.writeBucketed(e, logTable, "src", nBuckets)
    // degTable MUST share the log's bucket count or the co-located
    // log⋈degrees join stops being exchange-free; the aggregation over
    // the src-bucketed log scan is already one-partition-per-bucket,
    // so the writer's clustering is elided
    Bucketing.writeBucketed(spark.table(logTable).groupBy("src").agg(deg),
      degTable, "src", Bucketing.bucketCountOf(spark, logTable))
  }

  /** PageRank over an [[ingestEdges]] log: the log⋈degrees join is
    * co-located (both tables bucketed by src, same count — zero
    * exchanges, StreamingSpec asserts it), so only the rank relation
    * shuffles per iteration — at 100 TB |V| rows per round instead of
    * |E|. Bit-identical to [[pageRank]] over the concatenation of every
    * ingested batch.
    */
  def pageRankIngested(spark: SparkSession, logTable: String, degTable: String,
                       iters: Int, damping: Double = 0.85d,
                       tol: Double = 0.0d): DataFrame =
    iterate(spark.table(logTable).join(spark.table(degTable), "src"),
      iters, damping, tol,
      keyParts = Some(Bucketing.bucketCountOf(spark, logTable)))._1

  /** Weighted PageRank: each out-edge carries a weight and src's rank
    * splits PROPORTIONALLY to weight instead of uniformly — the
    * link-graph curation semantics where link prominence matters
    * (anchor count, click share, co-purchase volume). Contribution of
    * edge (s→t, w) is rank(s)·w/W(s) with W(s) = Σ out-weights of s.
    *
    * Exactness discipline: weights are converted ONCE to integer
    * micro-units (floor(w·1e6+0.5), the repo-wide grid) so the
    * per-source weight total is an EXACT integer sum — aggregation
    * order can never move it — and the per-edge share wµ/Wµ is then
    * one double division both engines reproduce bit-identically.
    * Edges with null or non-positive weight are DROPPED: a zero-weight
    * edge carries no rank mass, and a source left without positive
    * out-edges becomes dangling (its mass redistributes) — the
    * documented semantics, mirrored by the oracle's WHERE wµ > 0.
    * Everything else — teleport, dangling handling, per-iteration r6
    * rounding, tol-based termination, lineage truncation — is the
    * shared [[pageRank]] loop ([[iterate]] with a weighted
    * contribution); with every weight equal the share wµ/Wµ equals
    * 1/deg up to one rounding (GraphSpec asserts rank equality with
    * [[pageRank]] on the r6 grid). The same storage lever applies at
    * 100 TB: ingest the edges into the weighted (log, degree) pair
    * ([[ingestWeightedEdges]]) and the per-iteration edge-side exchange
    * disappears.
    *
    * @return (node: long, rank: double) — ranks on the 1e-6 grid
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iters: Int, damping: Double = 0.85d,
                       tol: Double = 0.0d): DataFrame = {
    val e = microEdges(edges, srcCol, dstCol, wCol).where(col("wmu") > 0L)
    iterate(withDeg(e, outWeight), iters, damping, tol, contrib = weightedShare)._1
  }

  /** [[ingestEdges]] for the WEIGHTED family: the `(src, dst, wmu)`
    * edge log APPENDS batch-sized and the `(src, degmu)` weight-total
    * table REBUILDS from the log via an exchange-free bucketed groupBy
    * (both tables bucketed by src, same count — the probes'
    * log⋈degrees join co-locates; totals baked into the edge rows would
    * go stale the moment an existing source gains an edge). Weights are
    * validated per batch — negatives rejected loudly, nulls and
    * non-positives dropped (the [[pageRankWeighted]] semantics) — so
    * the probes ([[pageRankWeightedIngested]], [[ssspIngested]]) read a
    * trusted-by-construction log and never re-scan to validate.
    * Provenance is recorded in a 1-row `(wmu_scale, validated)` sidecar
    * on the LOG table (the ingestLsh parameter-sidecar pattern): the
    * probes verify it ([[requireWeightedTable]]) before trusting the
    * pair, so pointing them at a table NOT written here — different
    * micro-unit scale, unvalidated negative weights that would break
    * sssp's w ≥ 0 precondition — fails loudly instead of silently
    * yielding wrong distances/ranks.
    */
  def ingestWeightedEdges(edges: DataFrame, srcCol: String, dstCol: String,
                          wCol: String, logTable: String, degTable: String,
                          nBuckets: Int): Unit = {
    val spark = edges.sparkSession
    ingestLog(nonNegative(microEdges(edges, srcCol, dstCol, wCol), "ingestWeightedEdges")
      .where(col("wmu") > 0L), logTable, degTable, nBuckets, outWeight)
    import spark.implicits._
    Bucketing.writeSmall(
      Seq((1000000L, true)).toDF("wmu_scale", "validated"),
      s"${logTable}_meta")
  }

  /** [[pageRankWeighted]] over an [[ingestWeightedEdges]] log:
    * bit-identical ranks to the batch operator on the concatenation of
    * every ingested batch (weight merging is a SUM — batch boundaries
    * cannot move it); the log⋈degrees join co-locates bucket-wise, so
    * per round only the rank relation shuffles.
    */
  def pageRankWeightedIngested(spark: SparkSession, logTable: String,
                               degTable: String, iters: Int,
                               damping: Double = 0.85d,
                               tol: Double = 0.0d): DataFrame = {
    requireWeightedTable(spark, logTable)
    iterate(spark.table(logTable).join(spark.table(degTable), "src"),
      iters, damping, tol, contrib = weightedShare,
      keyParts = Some(Bucketing.bucketCountOf(spark, logTable)))._1
  }

  /** [[sssp]] over an [[ingestWeightedEdges]] log — shortest paths need
    * no degree totals, so the probe reads the src-bucketed log alone:
    * identical distances, but each relaxation round's edges⋈frontier
    * join reads the bucketed scan exchange-free — only the frontier
    * (≤|V| rows) shuffles, the [[bfsBucketed]] shape. The log is NOT
    * checkpointed (truncation would discard the bucketing) and not
    * re-validated: the ingest rejected negative weights once per batch.
    */
  def ssspIngested(spark: SparkSession, logTable: String,
                   sources: DataFrame, sourceCol: String,
                   maxIters: Int): DataFrame = {
    requireWeightedTable(spark, logTable)
    shortestPaths(spark.table(logTable).select(col("src"), col("dst"), col("wmu")),
      col("wmu"), microDist, sources, sourceCol, maxIters)
  }

  /** Verify a log was written by [[ingestWeightedEdges]] (sidecar
    * present, expected scale, validated flag) before a weighted probe
    * trusts its unchecked preconditions. 1-row read, bounded.
    */
  private def requireWeightedTable(spark: SparkSession, table: String): Unit = {
    val ok =
      try {
        val m = spark.table(s"${table}_meta").first()
        m.getLong(m.fieldIndex("wmu_scale")) == 1000000L &&
          m.getBoolean(m.fieldIndex("validated"))
      } catch { case _: Exception => false }
    require(ok, s"table '$table' was not written by ingestWeightedEdges " +
      s"(missing or mismatched ${table}_meta sidecar); the weighted probes " +
      "rely on its at-ingest weight validation and micro-unit scale")
  }

  /** Personalized PageRank (PPR): rank mass teleports to a SEED SET
    * instead of uniformly — "authority relative to these trusted
    * hosts", the crawl-prioritization and related-entity primitive
    * standard PageRank cannot express (its ranking is global). Seeds
    * need not appear in the edge list (isolated seeds are dangling
    * nodes and their mass re-teleports to the seed set, the standard
    * PPR convention); nodes outside every seed's reach legitimately
    * rank 0.
    *
    * Runs the [[pageRank]] loop ([[iterate]]) with the seed relation:
    * the keyed nodes carry a `seed` flag, the teleport and the dangling
    * mass are masked to it, and the update keeps the standard formula's
    * association `seedTp + d·(insum + seedDm)` — so PPR with seeds =
    * all nodes is bit-identical to [[pageRank]] (GraphSpec asserts it,
    * dangling case included).
    *
    * @return (node: long, rank: double) — every node of edges ∪ seeds;
    *         empty when there are no seeds
    */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, damping: Double = 0.85d): DataFrame = {
    iterate(withDeg(longEdges(edges, srcCol, dstCol), outDeg), iters, damping,
      seeds = Some(seeds.select(col(seedCol).cast("long").as("node"))))._1
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each iteration a node adopts the
    * most frequent label among its in-neighbors, ties broken to the
    * SMALLEST label, nodes with no in-edges keeping their label —
    * fully deterministic (the classic async LPA is order-dependent;
    * the sync+min-tie variant is reproducible run to run and across
    * engines, all-integer arithmetic). Pass both edge directions for
    * undirected semantics. Per iteration: one join on src + two
    * aggregations (label counts, then per-node argmax as
    * `max(struct(cnt, -label))` — max count, tie min label), the same
    * shuffle shape as [[pageRank]]; lineage is truncated between
    * iterations the same way. Communities of the dedup graph
    * ([[graft.llm.Dedup.connectedComponents]] finds the exact
    * components) differ in that LPA splits weakly-connected hubs —
    * the crawl-corpus use is grouping hosts into topical clusters.
    *
    * @return (node: long, label: long)
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    val e = graft.Partitioning.checkpointKeyed(longEdges(edges, srcCol, dstCol), "src")
    var labels = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .select(col("node"), col("node").as("label"))
    var i = 0
    while (i < iters) {
      val vote = e.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("new_label"))
      labels = labels.join(vote, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_label"), col("label")).as("label"))
      i += 1
      if (i < iters) labels = labels.pipe(graft.Partitioning.checkpointKeep)
    }
    labels
  }

  /** `(src, dst)` cast to long: the edge shape every operator runs on. */
  private def longEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))

  /** [[longEdges]] plus the weight in exact integer micro-units,
    * `wmu = floor(w·1e6 + 0.5)` — the weighted family's grid. */
  private def microEdges(edges: DataFrame, srcCol: String, dstCol: String,
                         wCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
      floor(col(wCol).cast("double") * lit(1000000.0d) + lit(0.5d)).cast("long").as("wmu"))

  /** `e` with negative `wmu` rejected loudly by one limit-1 probe. */
  private def nonNegative(e: DataFrame, op: String): DataFrame = {
    require(e.where(col("wmu") < 0L).limit(1).count() == 0L,
      s"$op requires non-negative edge weights")
    e
  }

  /** The edges joined to their per-src aggregate `deg`: [[outDeg]] or
    * [[outWeight]]. */
  private def withDeg(e: DataFrame, deg: Column): DataFrame =
    e.join(e.groupBy("src").agg(deg), "src")

  private def outDeg: Column = count(lit(1)).cast("double").as("deg")
  private def outWeight: Column = sum(col("wmu")).as("degmu")

  /** The weighted family's contribution: rank(s)·wµ/Wµ(s). */
  private def weightedShare: Column =
    col("rank") * col("wmu").cast("double") / col("degmu").cast("double")

  /** SSSP's output distance: micro-units back to the 1e-6 grid. */
  private def microDist: Column = Num.r6(col("d").cast("double") / lit(1000000.0d))

  /** Distinct undirected pairs `(u, v)` with u < v: ids cast to long,
    * self-loops dropped, both directions and duplicates collapsed. */
  private def undirected(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** `(node, deg)` over undirected pairs `(u, v)`. */
  private def degrees(p: DataFrame): DataFrame =
    p.select(col("u").as("node")).union(p.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** The PageRank loop, shared by every rank operator, over a
    * degree-annotated edge relation `(src, dst, deg)`. Returns (ranks,
    * iterations actually run).
    *
    * The keyed node relation is ONE groupBy(node) over the src side,
    * the dst side and the optional `seeds` (PPR), carrying the static
    * flags `dangling` (no src row) and `seed`; both ride the rank
    * relation, so each round's dangling mass is a filter + sum over the
    * ranks and the contribution join bases on the ranks themselves.
    * The seed count and "any dangling" come from one aggregate job.
    * Without `seeds` every node is a seed — the seed count is the node
    * count, the masks fold away and the update is the global
    * `teleport + d·(insum + dm/n)`.
    *
    * With `tol > 0` the previous rank rides along as `prev`, and the
    * round's L1 delta is one 1-row aggregate over the checkpointed
    * result. The loop stops when delta < tol.
    */
  private def iterate(edges: DataFrame, iters: Int, damping: Double,
                      tol: Double = 0.0d,
                      contrib: Column = col("rank") / col("deg"),
                      keyParts: Option[Int] = None,
                      seeds: Option[DataFrame] = None): (DataFrame, Int) = {
    require(iters >= 1, "iters must be at least 1")
    require(damping > 0.0d && damping < 1.0d, "damping must be in (0, 1)")
    require(tol >= 0.0d, "tol must be non-negative")
    // `keyParts` is a BUCKETED edge relation's bucket count (already
    // keyed on src by its layout); an unbucketed one is keyed on src
    // here at Partitioning.partsFor. The nodes are keyed at the SAME
    // count: every iteration LEFT-joins the ranks on `node` against the
    // contribution aggregate — a keyed claim pins the join (and
    // therefore each round's OUTPUT) at plain hash(node, P), which the
    // next round's rank-side join reuses through the node->src alias
    // (zero rank-side exchange; a mismatched count would re-exchange
    // the rank side every round)
    val parts = keyParts.getOrElse(graft.Partitioning.partsFor(edges))
    val eDeg = if (keyParts.isDefined) edges
      else graft.Partitioning.checkpointKeyed(edges, "src", Some(parts))
    // one row per endpoint or seed, tagged 0 = src, 1 = dst, 2 = seed
    val tagged = Seq(eDeg.select(col("src").as("node"), lit(0).as("tag")),
      eDeg.select(col("dst").as("node"), lit(1).as("tag"))) ++
      seeds.map(_.select(col("node"), lit(2).as("tag")))
    val flags = (min(col("tag")) > 0).as("dangling") +:
      seeds.map(_ => (max(col("tag")) === 2).as("seed")).toSeq
    val nodes = graft.Partitioning.checkpointKeyed(
      tagged.reduce(_ union _).groupBy("node").agg(flags.head, flags.tail: _*),
      "node", Some(parts))
    val seed = if (seeds.isDefined) col("seed") else lit(true)
    val stats = nodes.agg(count(when(seed, 1)),
      coalesce(max(col("dangling")), lit(false))).first()
    val nS = stats.getLong(0)
    if (nS == 0L) return (nodes.where(lit(false)).select(col("node"), lit(0.0d).as("rank")), 0)
    val hasDangling = stats.getBoolean(1)

    val nSD = nS.toDouble
    val teleport = (1.0d - damping) / nSD
    def masked(c: Column) = when(seed, c).otherwise(lit(0.0d))
    var ranks = nodes.withColumn("rank", masked(lit(1.0d / nSD)))
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      val contribs = eDeg
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .groupBy(col("dst"))
        .agg(sum(contrib).as("insum"))
        .select(col("dst").as("node"), col("insum"))
      val base = ranks.withColumnRenamed("rank", "prev")
        .join(contribs, Seq("node"), "left")
      val withDm =
        if (hasDangling) {
          // 1-row scalar broadcast, the tpch_q15 idiom — never a shuffle
          val dm = ranks.where(col("dangling"))
            .agg(coalesce(sum("rank"), lit(0.0d)).as("dm"))
          base.crossJoin(broadcast(dm))
        } else base.withColumn("dm", lit(0.0d))
      val newRank = Num.r6(masked(lit(teleport)) + lit(damping) *
        (coalesce(col("insum"), lit(0.0d)) + masked(col("dm") / lit(nSD))))
      val next = withDm.withColumn("rank", newRank).drop("insum", "dm")
      i += 1
      if (tol > 0.0d) {
        val ck = next.pipe(graft.Partitioning.checkpointKeep)
        val delta = ck.agg(coalesce(sum(abs(col("rank") - col("prev"))),
          lit(0.0d))).first().getDouble(0)
        converged = delta < tol
        ranks = ck.drop("prev")
      } else {
        ranks = next.drop("prev")
        // truncate lineage between iterations; the LAST iteration stays
        // lazy so the caller's sink job is the one that materializes it
        // (and its plan stays inspectable)
        if (i < iters) ranks = ranks.pipe(graft.Partitioning.checkpointKeep)
      }
    }
    (ranks.select(col("node"), col("rank")), i)
  }

  /** Bounded-hop breadth-first distances from a set of source nodes —
    * the reachability primitive (crawl-frontier expansion, link-distance
    * features, "within k clicks of a seed domain" corpus selection).
    *
    * Spark-first shape: level-synchronous BFS. The state is one
    * DataFrame (node, dist) holding every node reached so far; each hop
    * expands the CURRENT FRONTIER (nodes first reached last round) along
    * the edge list — one equi-join on src — then folds the expansion in
    * with a min-distance aggregate. Joining only the frontier, not the
    * full reached set, keeps hop cost proportional to the frontier's
    * out-edges; state is |V|-bounded by construction (min per node), so
    * unlike path-enumeration formulations nothing explodes on cyclic
    * graphs. Lineage is truncated per hop like [[pageRank]]. Runs the
    * shortest-path loop ([[shortestPaths]]) with a unit step; the
    * frontier is exactly the nodes first reached last hop.
    *
    * At 100 TB the same layout lever applies: over a src-bucketed edge
    * table the per-hop edge-side exchange disappears and only the
    * frontier (≤|V| rows) shuffles — that twin is [[bfsBucketed]]
    * (GraphSpec asserts its strictly-fewer-exchanges plan).
    *
    * Directed semantics; pass both directions for undirected. Source
    * nodes need not appear in the edge list (isolated sources report
    * dist 0). The hop loop stops early when a round reaches no new node.
    *
    * @return (node: long, dist: int) — only reached nodes, dist ≤ maxHops
    */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
          sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame = {
    val e = graft.Partitioning.checkpointKeyed(longEdges(edges, srcCol, dstCol), "src")
    shortestPaths(e, lit(1L), col("d").cast("int"), sources, sourceCol, maxHops)
  }

  /** [[bfs]] over an [[ingestEdges]] log (the select reads `(src, dst)`
    * of any src-bucketed table): bit-identical distances, but each
    * hop's edges⋈frontier join reads the src-bucketed scan directly —
    * no per-hop edge-side exchange, only the frontier (≤|V| rows)
    * shuffles. The edge relation is NOT checkpointed here: truncating
    * it would discard
    * exactly the bucketed output partitioning this twin exists to
    * exploit (the per-hop state still checkpoints, as in [[bfs]]).
    */
  def bfsBucketed(spark: SparkSession, edgeTable: String,
                  sources: DataFrame, sourceCol: String, maxHops: Int): DataFrame =
    shortestPaths(spark.table(edgeTable).select(col("src"), col("dst")),
      lit(1L), col("d").cast("int"), sources, sourceCol, maxHops)

  /** Single-source shortest path over NON-NEGATIVE edge weights —
    * [[bfs]]'s weighted twin (link-distance features where hop count is
    * too coarse: latency-weighted crawl distance, cost-weighted
    * reachability). Frontier-based Bellman–Ford relaxation: the state
    * is (node, distµ) min-distance in EXACT integer micro-units (the
    * [[pageRankWeighted]] grid — weights floor(w·1e6+0.5), so every
    * path length is an exact long and min() is order-independent);
    * each round expands only the nodes whose distance IMPROVED last
    * round along the edge list (one equi-join on src) and folds with a
    * min aggregate that also yields the next frontier — the
    * shortest-path loop ([[shortestPaths]]) [[bfs]] runs with unit
    * steps. State is |V|-bounded by construction; rounds
    * stop early at the fixpoint (no improvement), `maxIters` capping
    * — the oracle's full unroll is identical because converged rounds
    * are no-ops under min (the [[kCore]] argument). Negative weights
    * are REJECTED loudly (one cheap limit-1 probe): with the early
    * exit this frontier loop is Dijkstra-correct only for w ≥ 0, and
    * a negative cycle would never converge. Null-weight edges drop
    * (no defined length). The bucketed-edge layout lever applies
    * unchanged: over an [[ingestWeightedEdges]] log the per-round
    * edge-side exchange disappears ([[ssspIngested]]).
    *
    * Directed semantics; pass both directions for undirected. Isolated
    * sources report dist 0; unreached nodes are absent. The last
    * round stays lazy (the [[bfs]] discipline).
    *
    * @return (node: long, dist: double) — micro-exact lengths on the
    *         1e-6 grid, dist ≤ shortest reachable within maxIters hops
    */
  def sssp(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
           sources: DataFrame, sourceCol: String, maxIters: Int): DataFrame = {
    val e = microEdges(edges, srcCol, dstCol, wCol)
      .where(col("wmu").isNotNull)
      .pipe(graft.Partitioning.checkpointKeyed(_, "src"))
      .pipe(nonNegative(_, "sssp"))
    shortestPaths(e, col("wmu"), microDist, sources, sourceCol, maxIters)
  }

  /** The shortest-path loop shared by [[bfs]] (unit `step`) and
    * [[sssp]] (`step` = the edge's micro-unit weight `wmu`): the state
    * is `(node, d)`, `d` the best distance in step units as an exact
    * long. Each round joins the FRONTIER (nodes new or improved last
    * round) to the edges on src and folds the expansion in with a min
    * aggregate that also carries `prev`, the min over the reached side
    * only; the next frontier is `prev IS NULL OR d < prev` over the
    * round's one checkpoint — under unit steps exactly the nodes first
    * reached this round. Stops early on an empty frontier; the last
    * round stays lazy so the caller's sink materializes it and its
    * plan (a bucketed twin's exchange-free edge side included) stays
    * inspectable.
    *
    * @return (node, dist) with `dist` the output expression over `d`
    */
  private def shortestPaths(e: DataFrame, step: Column, dist: Column,
                            sources: DataFrame, sourceCol: String,
                            maxIters: Int): DataFrame = {
    require(maxIters >= 0, "the hop/round cap must be non-negative")
    var reached = sources.select(col(sourceCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("d")).pipe(graft.Partitioning.checkpointKeep)
    var frontier = reached
    var it = 0
    while (it < maxIters && frontier.limit(1).count() > 0L) {
      it += 1
      val expand = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("d") + step).as("d"),
          lit(null).cast("long").as("prev"))
      val next = reached.select(col("node"), col("d"), col("d").as("prev")).union(expand)
        .groupBy("node").agg(min(col("d")).as("d"), min(col("prev")).as("prev"))
      if (it < maxIters) {
        val ck = next.pipe(graft.Partitioning.checkpointKeep)
        frontier = ck.where(col("prev").isNull || col("d") < col("prev"))
          .select(col("node"), col("d"))
        reached = ck.select(col("node"), col("d"))
      } else reached = next
    }
    reached.select(col("node"), dist.as("dist"))
  }

  /** Triangle enumeration over an undirected edge list — the cohesion
    * primitive (dup-cluster density, community quality, spam-farm
    * detection on a link graph).
    *
    * Algorithm: degree orientation ("compact-forward"). Each undirected
    * edge is oriented from its (degree, id)-smaller endpoint to the
    * larger, which bounds every node's OUT-degree by O(√|E|) no matter
    * how skewed the in-degrees are — the hub that touches a million
    * edges contributes wedges only through its ≤√E higher-ranked
    * neighbors, so the wedge join cannot explode on power-law graphs
    * (the failure mode of the naive a⋈b⋈c self-join at 100 TB). Both
    * wedge sides and the closing probe are plain equi-joins Catalyst
    * shuffles on node keys.
    *
    * Input may contain duplicates, self-loops, or both directions; it is
    * normalized to distinct undirected pairs first. Output is one row
    * per triangle with ids sorted ascending — a deterministic set (the
    * orientation affects only the work distribution, never the result).
    *
    * @return (d1, d2, d3) with d1 < d2 < d3
    */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    trianglesOf(undirected(pairs, aCol, bCol))

  /** [[triangles]] over already [[undirected]] pairs `(u, v)`. */
  private def trianglesOf(p: DataFrame): DataFrame = {
    val deg = degrees(p)
    // orient by (deg, id); carry the HEAD's rank so the wedge join can
    // order the two out-neighbors without re-joining degrees
    val or = p
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"), col("du").as("dt"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    // wedges s→x, s→y with rank(x) < rank(y); the closing edge, if it
    // exists, is oriented exactly x→y (orientation is the same total
    // order), so ONE equi-join probe closes the triangle
    val e1 = or.select(col("s"), col("t").as("x"), col("dt").as("dx"))
    val e2 = or.select(col("s"), col("t").as("y"), col("dt").as("dy"))
    val wedges = e1.join(e2, "s")
      .where(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
    val closed = wedges.join(or.select(col("s").as("x"), col("t").as("y")),
      Seq("x", "y"))
    closed.select(array_sort(array(col("s"), col("x"), col("y"))).as("tri"))
      .select(col("tri")(0).as("d1"), col("tri")(1).as("d2"), col("tri")(2).as("d3"))
  }

  /** k-core peeling over an undirected graph: repeatedly remove nodes
    * of degree < k (and their incident edges) — the cohesive-subgraph
    * primitive (spam-farm cores, dense community seeds, the "remove
    * the stragglers" cleanup before expensive per-edge analytics).
    *
    * Spark-first shape: each round is one degree aggregation plus two
    * LEFT SEMI joins (edges whose BOTH endpoints survive) — plain
    * key shuffles, no windows; the edge relation only ever SHRINKS, so
    * round cost is monotonically decreasing; lineage truncates per
    * round like every iterative operator here. `rounds` is a FIXED
    * count, not a fixpoint test: cross-engine determinism requires the
    * oracle to unroll the identical number of rounds, and a converged
    * peel is simply one whose result is stable under +1 round
    * (GraphSpec asserts that for the gate's configuration — peeling
    * converges in O(diameter-ish) rounds on real graphs, and each
    * no-op round costs one shrunken-relation pass).
    *
    * @return (node, deg) — surviving nodes with their in-core degree
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(rounds >= 1, "rounds must be at least 1")
    var p = undirected(pairs, aCol, bCol).pipe(graft.Partitioning.checkpointKeep)
    var r = 0
    while (r < rounds) {
      val keep = degrees(p).where(col("deg") >= k).select(col("node"))
      p = p.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
      r += 1
      if (r < rounds) {
        p = p.pipe(graft.Partitioning.checkpointKeep)
        // an empty relation is a fixpoint — the remaining rounds are
        // no-ops by construction, so skipping them cannot diverge from
        // the oracle's full unroll
        if (p.limit(1).count() == 0L) r = rounds
      }
    }
    // degrees of the final edge relation, NO extra >= k filter: that
    // would be half of round rounds+1 — convergence (stability under
    // +1 round) is asserted in GraphSpec, not silently patched here
    degrees(p)
  }

  /** Link prediction over an undirected graph: score every NON-edge
    * (x, y) that shares at least one neighbor by common-neighbor count
    * and Adamic–Adar (Σ 1/ln(deg w) over the shared neighbors w — rare
    * shared neighbors weigh more), the classic "related hosts/users you
    * haven't linked yet" primitive.
    *
    * Scale shape: candidate pairs are generated ONLY through shared
    * neighbors — one self-join of the adjacency list on the middle node
    * — so the work is Σ deg(w)², never |V|². That sum is exactly where
    * power-law graphs explode, so `maxDeg` caps the wedge middle: a hub
    * above the cap generates no candidates through itself (the standard
    * flood-cap discipline this engine applies to every pair generator —
    * shingle docFreq, LSH buckets; hubs carry little signal in AA
    * anyway, 1/ln(deg) → 0). NOTE the cap is therefore part of the
    * METRIC, not just candidate generation: both `cn` and `aa` count
    * only shared neighbors with deg ≤ maxDeg — a pair whose common
    * neighbors include a hub reports the capped count, not the true
    * common-neighbor count (the DuckDB oracle computes the identical
    * filtered metric). Callers needing the exact CN of surviving
    * candidate pairs can re-score them against the full adjacency list.
    * Existing edges are anti-joined out at the end. The AA sum is
    * float; scores are r6-rounded on the 1e-6 grid (the [[pageRank]]
    * discipline — summation-order noise is ~1e-16 relative, ten orders
    * below the grid).
    *
    * @return (u, v, cn: long, aa: double) with u < v, non-edges only;
    *         cn/aa computed over the deg ≤ maxDeg middle set
    */
  def linkPrediction(pairs: DataFrame, aCol: String, bCol: String,
                     maxDeg: Int): DataFrame = {
    require(maxDeg >= 2, "maxDeg must be at least 2 (a wedge middle has degree >= 2)")
    val p = undirected(pairs, aCol, bCol).pipe(graft.Partitioning.checkpointKeep)
    val adj = p.select(col("u").as("w"), col("v").as("x"))
      .union(p.select(col("v").as("w"), col("u").as("x")))
    // wedge middles capped at maxDeg; 1/ln(d) rides along from one join
    val mid = adj.join(degrees(p).where(col("deg") <= maxDeg)
      .select(col("node").as("w"), col("deg").as("d")), "w")
    val wedges = mid.select(col("w"), col("x"), col("d"))
      .join(mid.select(col("w"), col("x").as("y")), "w")
      .where(col("x") < col("y"))
    wedges.groupBy(col("x").as("u"), col("y").as("v"))
      .agg(count(lit(1)).as("cn"),
        graft.Num.r6(sum(lit(1.0d) / log(col("d").cast("double")))).as("aa"))
      .join(p, Seq("u", "v"), "left_anti")
  }

  /** Per-node triangle count and local clustering coefficient
    * cc = 2·tri / (deg·(deg−1)) over the same normalized undirected
    * graph ([[triangles]] provides the enumeration; nodes of degree < 2
    * or with no triangles report 0). r6-rounded, the cross-engine grid.
    *
    * @return (node, deg, tri, cc)
    */
  def clusteringCoefficient(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val p = undirected(pairs, aCol, bCol)
    val perNode = trianglesOf(p).select(explode(array(col("d1"), col("d2"), col("d3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    degrees(p).join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2, Num.r6(lit(2.0d) * coalesce(col("tri"), lit(0L)).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"))).otherwise(lit(0.0d)).as("cc"))
  }
}
