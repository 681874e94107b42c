package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape checks at sf0.001 — the 100 TB hygiene the bench
  * can't see at small SF: dimension joins must broadcast, equality
  * filters must reach the parquet scan, and the scale-path operators must
  * never contain a cartesian product.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The gate's executed plan, built over an empty cache: a relation an
    * earlier test cached would otherwise stand in for part of the plan. */
  private def plan(name: String): String = {
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  /** Fails on the first gate whose executed plan has more
    * (?<!Reused)Exchange nodes than its ceiling. */
  private def exchangeCeilings(ceiling: Seq[(String, Int)]): Unit = {
    for ((q, most) <- ceiling) {
      val n = "(?<!Reused)Exchange".r.findAllIn(plan(q)).size
      assert(n <= most, s"$q: $n exchanges in the executed plan, ceiling $most")
    }
    graft.Partitioning.unpersistPins()
  }

  test("view_flagship: broadcast joins + filter pushed to parquet scan") {
    val p = plan("view_flagship")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "where-filter must reach the scan as a pushed filter")
  }

  test("extract lookups broadcast") {
    assert(plan("extract_enrich").contains("BroadcastHashJoin"))
  }

  test("scale-path similarity/dedup plans contain no cartesian product") {
    for (q <- Seq("dedup_embedding_lsh", "similarity_topk_lsh",
      "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
      "dedup_incremental_neardup", "events_asof_bucketed",
      "corpus_domain_cap", "text_repetition", "corpus_stratified_sample",
      "multimodal_decode_png", "dedup_winnow", "dedup_winnow_pairs",
      "dedup_duplicate_spans", "dedup_duplicate_spans_edges",
      "text_strip_html", "text_script_profile",
      "events_funnel", "similarity_topk_mlsh", "multimodal_decode_gif",
      "corpus_pack_edges", "corpus_pack_segments",
      "corpus_pack_bestfit_segments",
      "corpus_decontaminate_report", "corpus_batch_by_length",
      "corpus_select_budget",
      "similarity_topk_mips_ann", "similarity_topk_mips_ivf",
      "embedding_cluster_assign", "dedup_prefix_filter",
      "multimodal_phash_neardup", "profile_trend",
      "graph_pagerank_personalized", "embedding_random_project",
      "sketch_hll_intersect", "similarity_topk_ivf_ingested",
      "retrieval_bm25_ingested", "sketch_quantile_sample",
      "similarity_topk_lsh_ingested", "dedup_incremental_neardup_ingested",
      "join_fuzzy_edit",
      "retrieval_bm25_appended", "retrieval_bm25_streamed",
      "similarity_ivf_appended", "similarity_lsh_appended",
      "similarity_ivf_stats", "dedup_neardup_appended",
      "load_scd2_asof", "load_stream_exactly_once",
      "load_stream_snapshot", "dedup_neardup_streamed",
      "similarity_ivf_streamed", "similarity_lsh_streamed",
      "corpus_decontaminate_ingested",
      "graph_pagerank_weighted_ingested", "graph_sssp_ingested",
      // (similarity_pq_deleted is NOT here: its coarse pass is the PQ
      // family's documented crossJoin over the compressed codes, like
      // every other PQ gate)
      "similarity_topk_ivfpq", "similarity_topk_ivfpq_ingested",
      "similarity_ivfpq_appended", "similarity_ivfpq_streamed",
      "similarity_ivfpq_deleted",
      "similarity_lsh_deleted", "similarity_ivf_deleted",
      "retrieval_bm25_deleted",
      "dedup_neardup_deleted", "similarity_bitext_mined",
      "corpus_quality_model", "corpus_quality_streamed",
      "corpus_quality_asof")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("IVF/IVF-PQ ingested probes push the probed-cell IN literal to the scan") {
    // a runtime join relation cannot prune a bucketed scan; the
    // collected probe-cell literals can — the filter must reach the
    // index scan as a pushed In, so non-probed cells never leave disk
    for (q <- Seq("similarity_topk_ivf_ingested", "similarity_topk_ivfpq_ingested")) {
      val p = plan(q)
      assert(p.contains("In(cluster") || p.contains("cluster#"),
        s"$q: probed-cell literal filter missing from the plan:\n${p.take(600)}")
      assert(p.contains("PushedFilters: [In(cluster"),
        s"$q: cell filter must reach the parquet scan as a pushed In:\n${p.take(600)}")
    }
  }

  test("retrieval_context_full: ONE documents scan feeds the whole serving DAG") {
    val p = plan("retrieval_context_full")
    assert(!p.contains("CartesianProduct"), "capstone must stay equi-join/broadcast")
    // the corpus is tokenized once into the materialized relation; BM25
    // postings AND the packing token counts read it — the executed plan
    // must contain no documents.parquet scan at all (the
    // corpus_admission_full discipline applied to the serving path).
    // (the ANN leg's brute scorer is the documented BroadcastNestedLoop
    // escape hatch over the broadcast 3-row PRF seed side)
    assert(!p.contains("documents.parquet"),
      s"stages must read the shared tokenized relation, not re-scan the corpus:\n${p.take(800)}")
  }

  test("retrieval_context_full_asof: the snapshot probe DAG scans documents ZERO times") {
    val p = plan("retrieval_context_full_asof")
    assert(!p.contains("CartesianProduct"), "asof capstone must stay equi-join/broadcast")
    // the as-of twin serves the whole RAG DAG from the two-batch
    // persisted indexes cut at batch 0 — like the ingested twin, the
    // document corpus is never scanned in the probe path
    assert(!p.contains("documents.parquet"),
      s"the snapshot probe DAG must never scan the document corpus:\n${p.take(800)}")
  }

  test("residual IVF-PQ booktable path: reconstruction SCANS the _cellbooks table; the literal path never does") {
    val forced = plan("similarity_topk_rivfpq_booktable")
    assert(forced.contains("_cellbooks"),
      s"forced table path must JOIN the cellbooks table, not collect it:\n${forced.take(800)}")
    assert(!forced.contains("CartesianProduct") &&
      !forced.contains("BroadcastNestedLoopJoin"),
      "the (cluster, s, cid) lookup must stay an equi-join")
    // negative control: below the size threshold the books ride as a
    // plan literal and the plan contains no cellbooks scan at all
    val literal = plan("similarity_topk_ivfpq_residual_ingested")
    assert(!literal.contains("_cellbooks"),
      "literal path unexpectedly scans the cellbooks table")
    // the stats monitor is always table-join (it must hold at
    // production cell counts)
    val stats = plan("similarity_rivfpq_stats")
    assert(stats.contains("_cellbooks") && !stats.contains("CartesianProduct"))
  }

  test("probe gates: serving paths read persisted index tables only — no corpus scan, no cartesian") {
    // the probe-only bench twins must actually measure the serving
    // path: lexical probes never scan the document corpus (tokenized
    // once at ingest), and every candidate/rescore join stays equi-key
    for (q <- Seq("probe_bm25_ingested", "probe_bm25_asof")) {
      val p = plan(q)
      assert(!p.contains("documents.parquet"),
        s"$q scans the corpus instead of the posting tables:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct"), q)
    }
    for (q <- Seq("probe_ivf_ingested", "probe_pq_ingested",
        "probe_ivfpq_ingested", "probe_rivfpq_ingested", "probe_ivfpq_asof")) {
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    val bt = plan("probe_rivfpq_booktable")
    assert(bt.contains("_cellbooks") && !bt.contains("CartesianProduct"),
      "the forced-table probe twin must serve codebooks from the table")
  }

  test("lifecycle gates: compacted/asof probes stay broadcast equi-joins") {
    // the purge rewrite must not change the probe's plan shape: the
    // banded query side broadcasts onto the (rewritten) bucketed scan,
    // and the snapshot read's sidecar semi-join broadcasts too
    val p = plan("similarity_lsh_asof_compacted")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("BroadcastHashJoin"))
    val r = plan("similarity_ivfpq_residual_asof")
    assert(!r.contains("CartesianProduct") &&
      !r.contains("BroadcastNestedLoopJoin"), r.take(600))
  }

  test("retrieval_context_full_ingested: ZERO documents scans — the probe serves from persisted tables") {
    val p = plan("retrieval_context_full_ingested")
    assert(!p.contains("CartesianProduct"), "ingested capstone must stay equi-join/broadcast")
    // production RAG serves from the persisted index layer: BM25 reads
    // the posting/length/stats tables, the ANN leg reads the IVF-PQ
    // codes + rescore tables, MMR reads the persisted vectors, and the
    // pack stage takes token counts from the `_dl` length table — the
    // document corpus itself is scanned ZERO times per request (the
    // per-run capstone's one scan, paid once at ingest instead)
    assert(!p.contains("documents.parquet"),
      s"the probe DAG must never scan the document corpus:\n${p.take(800)}")
  }

  test("diversifyMmrIngested: reads the persisted vector table, results identical to the raw-corpus form") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = "graft_plan_mmr_vec"
    Seq(t, s"${t}_vectors", s"${t}_codebooks", s"${t}_tombstones")
      .foreach(graft.ops.Bucketing.dropManaged(spark, _))
    try {
      graft.llm.Similarity.ingestPq(emb, "vec_id", "embedding", t,
        m = 4, nCodes = 4, kmeansIters = 1, nBuckets = 4)
      val cand = graft.llm.Similarity.topK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 10)
      val raw = graft.llm.Similarity.diversifyMmr(cand, emb,
        "vec_id", "embedding", k = 3, lambda = 0.5)
      val ing = graft.llm.Similarity.diversifyMmrIngested(spark,
        s"${t}_vectors", cand, k = 3, lambda = 0.5)
      assert(raw.collect().map(_.toString).sorted.toSeq ==
        ing.collect().map(_.toString).sorted.toSeq,
        "ingested-vector MMR must select identically (the table stores the same normalized vectors)")
      // the one corpus-touching op now reads the id-bucketed table (the
      // CANDIDATE relation's own lineage still reads embeddings.parquet
      // — it came out of a brute top-k — so assert on the vector-fetch
      // side: the persisted table's scan is in the plan)
      val p = ing.queryExecution.executedPlan.toString
      assert(p.contains(s"${t}_vectors"),
        s"ingested MMR must fetch candidate vectors from the persisted table:\n${p.take(600)}")
      graft.Partitioning.unpersistPins()
    } finally Seq(t, s"${t}_vectors", s"${t}_codebooks", s"${t}_tombstones")
      .foreach(graft.ops.Bucketing.dropManaged(spark, _))
  }

  test("similarity_topk_mmr: per-round checkpoints bound the plan — no exponential lineage") {
    // a k-round distributed MMR whose rounds each reference the previous
    // pool twice (pick + update) doubles its logical plan per round:
    // 64,271 formatted lines / 7,306 Exchange nodes at k=5
    // (the round-20 plan dump of the k-round loop, no longer tracked;
    // in git history up to commit 26fde53) — driver-side
    // planning cost that grows 2^k (guide §5, §3.3). The in-task fold
    // has no rounds in the plan at all; assert well under the
    // exponential regime so a reintroduced unbounded union fails loudly.
    val df = SparkEntry.queries("similarity_topk_mmr")(spark, dir)
    val lines = df.queryExecution.executedPlan.toString.linesIterator.size
    assert(lines < 2000, s"MMR plan must stay round-bounded, got $lines lines")
  }

  test("similarity_topk_mmr: one query_id exchange after the candidate fetch, no per-round checkpoint scans") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("similarity_topk_mmr")(spark, dir)
    // the initial adaptive plan (exchanges placed, nothing run yet); the
    // cached candidate fetch is a leaf scan in it (its own plan hangs
    // off the InMemoryRelation), so everything collected below is the
    // rerank over it
    val rerank = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(rerank.collect { case s: InMemoryTableScanExec => s }.size == 1,
      s"the rerank must read the one cached candidate fetch:\n$rerank")
    val exchanges = rerank.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"exactly one exchange after the fetch:\n$rerank")
    assert((exchanges.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
      case other => Seq(other.toString)
    }) == Seq("query_id"), s"the one exchange must hash query_id:\n$rerank")
    assert(rerank.collect { case s: RDDScanExec => s }.isEmpty,
      s"no checkpoint scans in the rerank:\n$rerank")
    graft.Partitioning.unpersistPins()
  }

  test("brute-force paths are the only nested-loop consumers") {
    // the documented small-data escape hatches DO use a nested-loop/cross
    // product — assert they are contained there and nowhere else
    assert(plan("dedup_embedding_exact").contains("BroadcastNestedLoopJoin"))
    assert(plan("similarity_topk").contains("BroadcastNestedLoopJoin"))
  }

  test("MIPS-ANN candidate joins broadcast the query side on equi-keys") {
    // the bucket join must be a broadcast HASH join on (tbl, bucket) —
    // corpus side streams, query side broadcast; the IVF variant
    // likewise broadcasts its probes on the cluster key
    val ann = plan("similarity_topk_mips_ann")
    assert(ann.contains("BroadcastHashJoin"), ann.take(400))
    val ivf = plan("similarity_topk_mips_ivf")
    assert(ivf.contains("BroadcastHashJoin"), ivf.take(400))
  }

  test("per-run ANN gates: no more exchanges than before they shared the ingested probe bodies") {
    // executed-plan (?<!Reused)Exchange counts at sf0.001 on this suite's
    // session with an empty cache, taken at the commit before the per-run
    // top-k forms ran their ingested twins' probe bodies; a change that
    // adds a shuffle, a broadcast or a pinned side relation fails here
    val ceiling = Seq("similarity_topk_ivf" -> 6, "similarity_topk_lsh" -> 4,
      "similarity_topk_mlsh" -> 4, "similarity_topk_mips_ann" -> 4,
      "similarity_topk_mips_ivf" -> 5, "similarity_topk_pq" -> 10,
      "similarity_topk_sq8" -> 8, "similarity_topk_ivfpq" -> 11,
      "similarity_topk_ivfpq_residual" -> 11)
    exchangeCeilings(ceiling)
  }

  test("ranking gates: no more exchanges than before the top-N copies shared one salted helper") {
    // executed-plan (?<!Reused)Exchange counts at sf0.001 on this suite's
    // session, cache cleared per gate, taken at the commit before the
    // per-group top-N and the Lloyd's rounds were each written once
    val ceiling = Seq("retrieval_bm25" -> 4, "retrieval_bm25_ingested" -> 6,
      "orders_top_per_cust" -> 2, "sketch_quantile_sample" -> 10,
      "corpus_domain_cap" -> 4, "similarity_topk" -> 4, "similarity_topk_mips" -> 4,
      "similarity_topk_pq_ingested" -> 6, "similarity_topk_ivfpq_ingested" -> 7)
    exchangeCeilings(ceiling)
  }

  test("graph gates: no more exchanges than before PPR and BFS ran the shared loops") {
    // executed-plan (?<!Reused)Exchange counts at sf0.001 in a fresh
    // session, cache cleared per gate, taken at the commit before
    // personalized PageRank ran the PageRank loop and BFS the
    // shortest-path loop; the SSSP gates now sit below theirs (2), the
    // per-round frontier join gone
    val ceiling = Seq("graph_pagerank" -> 1, "graph_pagerank_bucketed" -> 3,
      "graph_pagerank_ingested" -> 3, "graph_pagerank_personalized" -> 1,
      "graph_pagerank_weighted" -> 1, "graph_sssp" -> 3,
      "graph_sssp_bucketed" -> 4, "graph_pagerank_weighted_bucketed" -> 3,
      "graph_pagerank_weighted_ingested" -> 3, "graph_sssp_ingested" -> 4,
      "graph_pagerank_directed" -> 3, "graph_communities" -> 4,
      "graph_triangles" -> 91, "graph_clustering" -> 103, "graph_bfs" -> 2,
      "graph_bfs_bucketed" -> 2, "graph_kcore" -> 9, "graph_link_predict" -> 6)
    exchangeCeilings(ceiling)
  }

  test("q17/q20 correlated-aggregate shapes: broadcast join-backs, no cartesian") {
    val p17 = plan("tpch_q17")
    // part filter and the per-part threshold both broadcast; the fact
    // table must never sort-merge or cartesian for the join-back
    assert(p17.contains("BroadcastHashJoin"), p17.take(600))
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoopJoin"))
    assert(!p17.contains("SortMergeJoin"), "q17 join-back must broadcast the threshold side")
    val p20 = plan("tpch_q20")
    assert(p20.contains("LeftSemi"), p20.take(600))
    assert(!p20.contains("CartesianProduct") && !p20.contains("BroadcastNestedLoopJoin"))
  }

  test("q7/q8/q13/q15 shapes: nations broadcast, dates pushed, no cartesian") {
    val p7 = plan("tpch_q7")
    assert(p7.contains("BroadcastHashJoin"), p7.take(600))
    assert(!p7.contains("CartesianProduct") && !p7.contains("BroadcastNestedLoopJoin"))
    assert(p7.contains("PushedFilters") && p7.contains("GreaterThanOrEqual(l_shipdate"),
      "q7 ship-date window must reach the lineitem scan")
    val p8 = plan("tpch_q8")
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoopJoin"))
    assert(p8.contains("LeftSemi"), "ASIA customer restriction must be a semi join")
    val p13 = plan("tpch_q13")
    assert(p13.contains("LeftOuter"), "q13 must keep zero-order customers")
    val p15 = plan("tpch_q15")
    assert(!p15.contains("CartesianProduct"),
      "the scalar max must broadcast, not cartesian")
  }

  test("duplicateSpans: all planned joins, checkpoints included, are equi-joins") {
    // the call materializes its window relation and its dup-candidate
    // slice eagerly, each truncating the final plan's lineage to Scan
    // ExistingRDD, and the checkpoints run outside any SQL execution —
    // so record the physical join the planner picks for every logical
    // join it plans while the call runs, checkpoints included
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val sqlc = spark
    import sqlc.implicits._
    val d = Seq((1L, "a b c d e f g h i"), (2L, "a b c d e f g h j"))
      .toDF("doc_id", "text")
    val planner = spark.sessionState.planner
    val joins = new ConcurrentLinkedQueue[SparkPlan]()
    // consulted first for every logical node; plans nothing itself
    object recorder extends SparkStrategy {
      def apply(p: LogicalPlan): Seq[SparkPlan] = {
        p match {
          case j: Join => planner.JoinSelection(j).headOption.foreach(joins.add)
          case _ =>
        }
        Nil
      }
    }
    val prev = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = Seq(recorder)
    try graft.llm.Dedup.duplicateSpans(d, "doc_id", "text", k = 4).collect()
    finally spark.experimental.extraStrategies = prev
    val all = joins.asScala.toSeq
    assert(all.nonEmpty, "no join was planned")
    all.foreach(j => assert(j.nodeName != "CartesianProduct" && j.nodeName != "BroadcastNestedLoopJoin",
      s"duplicateSpans must stay an equi-join pipeline:\n$j"))
    assert(all.exists { case j: BaseJoinExec => j.joinType == LeftSemi; case _ => false },
      s"the duplicated-window restriction must be a semi join: ${all.map(_.nodeName)}")
  }

  test("corpus_admission_full: no cartesian anywhere in the composed DAG") {
    val p = plan("corpus_admission_full")
    assert(!p.contains("CartesianProduct"), "capstone must stay bucketed/broadcast")
    assert(p.contains("LeftSemi"), "decontamination gate must be a semi join")
    // ONE corpus scan: the shared spread+tokenized relation is
    // materialized up front, so the composed DAG's executed plan must
    // contain no documents.parquet file scan at all — every token
    // consumer reads the materialized relation
    assert(!p.contains("documents.parquet"),
      s"stages must read the shared tokenized relation, not re-scan the corpus:\n${p.take(800)}")
  }

  test("q2/q9/q11 partsupp shapes: dims broadcast, no cartesian") {
    val p2 = plan("tpch_q2")
    assert(p2.contains("BroadcastHashJoin"), p2.take(600))
    assert(!p2.contains("CartesianProduct"))
    // (the one BroadcastNestedLoopJoin in these plans is partsupp's
    // one-row supplier-count broadcast — the documented scalar idiom)
    val p9 = plan("tpch_q9")
    assert(!p9.contains("CartesianProduct"))
    assert(p9.contains("BroadcastHashJoin"), "q9 dims must broadcast")
    val p11 = plan("tpch_q11")
    assert(!p11.contains("CartesianProduct"),
      "q11 threshold must ride a broadcast one-row aggregate")
  }

  test("load_filter compiles to a broadcast anti-join, not a per-row probe") {
    val p = plan("load_filter")
    assert(p.contains("LeftAnti"), p.take(400))
  }

  test("exact dedup partially aggregates map-side") {
    val p = plan("dedup_exact")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(400))
  }

  test("as-of join is one window pass, never a range/cartesian join") {
    val p = plan("events_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not expand into a range join:\n${p.take(800)}")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(400))
  }

  test("vocab top-N compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("text_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("salted join spreads the key space — no broadcast of the replicated side needed") {
    val p = plan("join_salted")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("pivot with explicit values is a single aggregation (no distinct-scan job)") {
    val p = plan("events_pivot")
    // one pivot aggregate pair (partial+final); a pivot without values
    // would have planned an extra collect job before this plan existed
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("tpch_q1: scan prunes to the four referenced lineitem columns") {
    val p = plan("tpch_q1")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && read.contains("l_extendedprice")
      && read.contains("l_returnflag") && read.contains("l_linestatus"))
    assert(!read.contains("l_orderkey") && !read.contains("l_discount"),
      s"unpruned columns in scan: $read")
  }

  test("tpch_q3: top-10 is TakeOrderedAndProject, not a global sort") {
    assert(plan("tpch_q3").contains("TakeOrderedAndProject"))
  }

  test("tpch_q6: filters reach the lineitem parquet scan") {
    val p = plan("tpch_q6")
    // the rendered filter list truncates, so assert on the leading
    // pushed predicate rather than the full set
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q6 filters must push to the scan:\n${p.take(800)}")
  }

  test("tpch_q10: top-20 is TakeOrderedAndProject; no cartesian in the 4-way join") {
    val p = plan("tpch_q10")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q18: broadcast semi-join + TakeOrderedAndProject, no cartesian") {
    val p = plan("tpch_q18")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the HAVING key set must broadcast-semi-join the fact side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q5: six-way join plans without cartesian products") {
    val p = plan("tpch_q5")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("tpch_q4/q21: EXISTS shapes plan as semi/anti hash joins, no cartesian") {
    val p4 = plan("tpch_q4")
    assert(p4.contains("LeftSemi"), "q4's EXISTS must be a semi join")
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"))
    val p21 = plan("tpch_q21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      "q21 needs both the EXISTS semi and the NOT-EXISTS anti join")
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"))
    assert(p21.contains("TakeOrderedAndProject"))
  }

  test("tpch_q14: date window pushes to the lineitem scan; part broadcasts") {
    val p = plan("tpch_q14")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate window must reach the scan:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("tpch_q19: OR-of-ANDs still plans as an equi hash join on partkey") {
    val p = plan("tpch_q19")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"),
      "Catalyst must extract the common equi-key from the disjunction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("spread sees through a union of narrow scans and restores parallelism") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val u = d.union(d.select(col("doc_id") + 10000, col("text")))
    // narrowScanSizeBytes must sum the child scans instead of bailing
    assert(org.apache.spark.sql.GraftBridge.narrowScanSizeBytes(u).exists(_ > 0),
      "union of narrow scans should still report a scan size")
    // tiny union of tiny scans -> spread repartitions to defaultParallelism
    val p = Partitioning.spread(u).queryExecution.executedPlan.toString
    assert(p.contains("RoundRobinPartitioning"), p.take(600))
    // a shuffled plan must pass through untouched (upstream exchange
    // already redistributed)
    val agged = d.groupBy(col("doc_id")).count()
    assert(org.apache.spark.sql.GraftBridge.narrowScanSizeBytes(agged).isEmpty)
  }

  test("gopherFilter is one narrow pass: no key shuffle, filter under the spread") {
    val p = plan("corpus_gopher")
    // the only exchange allowed is spread()'s RoundRobin parallelism fix
    // (a no-op on a many-split 100 TB scan) — never a hash/range shuffle
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"the composite gate must not shuffle on any key:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the two scorers must compose as columns, not a self-join")
    // the Generate barrier must pin each scoring HOF to ONE evaluation:
    // without it, filter pushdown inlines the metric expressions into
    // both the predicate and the projection (array_max appears twice)
    assert(p.sliding("array_max".length).count(_ == "array_max") == 1,
      s"repetition HOFs must evaluate exactly once:\n${p.take(1200)}")
    assert(p.contains("Generate"), "the one-row Generate barrier must survive optimization")
  }

  test("mixWeightedSample: weight table broadcasts; admission never shuffles the corpus") {
    val p = plan("corpus_mix_weighted")
    assert(p.contains("BroadcastHashJoin"),
      "the mixture-spec-sized weight table must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("hashpartitioning"),
      s"admission must stay a narrow map over the corpus:\n${p.take(600)}")
  }

  test("curriculumBins: cutpoints broadcast; no global sort or window") {
    val p = plan("corpus_curriculum")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row cutpoint aggregate must broadcast")
    assert(!p.contains("Window"), "bin assignment must not be a global ntile window")
    assert(!p.contains("Sort ") || !p.contains("global=true"), "no global sort")
  }

  test("temperatureSample: 1-row normalizer broadcasts; rank windows are salted, never global") {
    val p = plan("corpus_mix_temperature")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row pow-sum normalizer must broadcast")
    assert(!p.contains("CartesianProduct"))
    // both rank stages partition their windows (domain+salt, then domain)
    // — a global window would serialize the corpus through one task
    // WindowExec renders as `Window [exprs], [partitionSpec], [orderSpec]`
    // — an empty partitionSpec (global window) would show as `, [], [`
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty && windows.forall(!_.contains(", [], [")),
      s"rank windows must be partitioned:\n${windows.mkString("\n")}")
  }

  test("decontaminate: eval-hash probe broadcasts; no cartesian") {
    val p = plan("corpus_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark-sized eval hash set must broadcast to the corpus side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("unpersistPins releases every internally-pinned plan") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    Partitioning.unpersistPins() // drain pins left by earlier suites
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
    val pinned = Partitioning.pinForReuse(d, d)
    assert(pinned.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Partitioning.pinnedCount == 1)
    // the ANN auto-salt path pins its query side through the same registry
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    graft.llm.Similarity.topK(emb, emb.limit(2), "vec_id", "embedding", k = 1)
      .collect()
    assert(Partitioning.pinnedCount >= 2)
    Partitioning.unpersistPins()
    assert(Partitioning.pinnedCount == 0)
    assert(pinned.storageLevel == StorageLevel.NONE,
      "released pins must leave the CacheManager")
  }

  test("tf-idf: corpus size is a broadcast one-row aggregate, not a driver count") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row N must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("join_bloom_pruned: might_contain filters the fact side BEFORE its join") {
    // run at sf0.01 (sf0.001 has no supplier above the acctbal cut, so
    // the blob is NULL and the plan trivially filters everything)
    val p = SparkEntry.queries("join_bloom_pruned")(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), "bloom membership must be in the plan")
    // the filter must sit on the scan side, not after the join: in the
    // plan string the Filter(might_contain…) node appears BELOW the join
    // node, i.e. at a larger character offset in the printed tree
    val joinPos = p.indexOf("Join")
    val bloomPos = p.indexOf("might_contain")
    assert(joinPos >= 0 && bloomPos > joinPos,
      "might_contain filter must be under (after, in print order) the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("sketch pipelines keep map-side partial aggregation (shuffle carries state, not keys)") {
    // HLL: the pre-shuffle partial agg groups by (g, bucket) — at most
    // m rows per group per partition cross the exchange
    val hll = SparkEntry.queries("sketch_hll_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(hll.contains("partial_merge") || hll.contains("HashAggregate"),
      "HLL register build must plan as hash aggregate with partials")
    // count-min: the counter build aggregates (i, bucket) — the counter
    // relation is then small enough that Catalyst BROADCASTS it to the
    // estimate join
    val cm = SparkEntry.queries("sketch_countmin_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(cm.contains("BroadcastHashJoin"),
      "counter table must broadcast onto the key probe")
    assert(cm.contains("TakeOrderedAndProject"),
      "top-20 must plan as TakeOrdered, not a global sort")
  }

  test("round-11 graph/profile/sample gates: cartesian-free, broadcast stats, TakeOrdered top-k") {
    for (q <- Seq("graph_triangles", "graph_clustering", "graph_bfs",
      "graph_link_predict", "load_cdc_apply", "events_retention",
      "sketch_quantile_hist", "corpus_weighted_sample")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(600)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(600)}")
    }
    // anomaly stats are a 3-number-per-group relation: must broadcast
    // back onto the stream, never shuffle it
    val an = plan("profile_anomaly")
    assert(an.contains("BroadcastHashJoin"),
      s"moment state must broadcast: ${an.take(600)}")
    // weighted sample: top-k is TakeOrdered, not a global sort
    assert(plan("corpus_weighted_sample").contains("TakeOrderedAndProject"))
    // CDC apply: no Window node anywhere (max_by partial aggregation)
    assert(!plan("load_cdc_apply").contains("Window"))
  }
}
