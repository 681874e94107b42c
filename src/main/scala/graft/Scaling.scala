package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling-curve harness — converts the per-round "would
  * survive 100×" plan arguments into measured data (SCALING.md records
  * the results). Builds deterministic ×N replicas of the sf0.1 tables
  * the hot query families read, then times the hot queries at each
  * factor with the [[Bench]] discipline (warm-up pass at sf0.001,
  * per-query medians over SPARK_GRAFT_RUNS runs, failures excluded
  * loudly).
  *
  * Replication is id-disjoint and content-perturbed so per-row work is
  * preserved while degenerate cross-replica structure is not:
  *  - `orders`/`lineitem`: keys shifted by replica stride → the
  *    co-purchase graph becomes N disjoint copies (|V| and |E| scale
  *    exactly ×N; iteration cost is key-join cost, which is what the
  *    curve should measure).
  *  - `documents`: every 4th token (replica-rotated alignment) gets a
  *    replica suffix, so replicas of one doc share only ~25% of their
  *    trigram shingles (pairwise Jaccard ≈ 0.06, below every gate
  *    threshold) — near-dup candidate volume stays ~linear instead of
  *    exploding quadratically in the replica count, which would
  *    measure the DATA's duplication, not the operator's scaling.
  *    Surviving original shingles do gain ×N document frequency, so
  *    flood caps (maxDocFreq) bite slightly harder at larger factors —
  *    disclosed in SCALING.md, inherent to any corpus-growth model.
  *  - `embeddings`: vectors rotated by replica index (norms and dot
  *    cost preserved, directions decorrelated); query sets stay the
  *    replica-0 `vec_id < 20` batch, the fixed-queries/growing-corpus
  *    regime an ANN deployment actually runs.
  *  - `customer` is copied unscaled (it only seeds BFS/PPR).
  *
  * Usage: `runMain graft.Scaling [baseSfDir] [workDir]` with
  * SPARK_GRAFT_FACTORS (default "5,10"), SPARK_GRAFT_RUNS (default 3),
  * SPARK_GRAFT_ONLY (default the hot set below). Factor 1 times the
  * base dir itself. Emits one JSON line per factor.
  */
object Scaling {

  /** Id stride between replicas — far above every base key range AND
    * above the co-purchase gates' +1e7 part-node offset (a 1e7 stride
    * would alias replica k's customer node ids onto replica k−1's part
    * node ids, silently chaining the replicas into one component).
    */
  private val Stride = 100000000L

  private[graft] val hotSet = Seq(
    "graph_pagerank", "graph_bfs", "graph_pagerank_bucketed",
    "corpus_admission_full", "corpus_filter_neardup",
    "dedup_clusters", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "retrieval_bm25", "similarity_topk_lsh")

  private def reps(spark: SparkSession, f: Int): DataFrame =
    spark.range(f).select(col("id").as("rep"))

  /** Deterministic ×f table builds into `outDir` (idempotent: skipped
    * when the marker file exists).
    */
  private def build(spark: SparkSession, baseDir: String, outDir: String,
                    f: Int): Unit = {
    val marker = new java.io.File(outDir, "_SCALED_OK")
    if (marker.exists()) return
    new java.io.File(outDir).mkdirs()
    def read(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val r = reps(spark, f)
    // documents: replica-rotated token substitution (see scaladoc)
    val toks = split(col("text"), "\\s+")
    val subbed = array_join(
      transform(toks, (t, i) =>
        when(pmod(i + col("rep"), lit(4)) === 0,
          concat(t, lit("_r"), col("rep").cast("string"))).otherwise(t)),
      " ")
    write(read("documents").crossJoin(r).select(
      (col("doc_id") + col("rep") * Stride).as("doc_id"),
      when(col("rep") === 0L, col("text")).otherwise(subbed).as("text"),
      col("lang"), col("source"),
      length(when(col("rep") === 0L, col("text")).otherwise(subbed))
        .cast("long").as("n_chars")), "documents")

    // embeddings: rotate by rep (positions 1-based in slice)
    val e = col("embedding")
    val k = pmod(col("rep"), size(e)).cast("int")
    val rotated = when(k === 0, e).otherwise(
      concat(slice(e, k + 1, size(e) - k), slice(e, lit(1), k)))
    write(read("embeddings").crossJoin(r).select(
      (col("vec_id") + col("rep") * Stride).as("vec_id"),
      rotated.as("embedding"), col("label")), "embeddings")

    // orders / lineitem: disjoint key-shifted graph copies
    write(read("orders").crossJoin(r).select(
      (col("o_orderkey") + col("rep") * Stride).as("o_orderkey"),
      (col("o_custkey") + col("rep") * Stride).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")
    write(read("lineitem").crossJoin(r).select(
      (col("l_orderkey") + col("rep") * Stride).as("l_orderkey"),
      (col("l_partkey") + col("rep") * Stride).as("l_partkey"),
      col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")), "lineitem")

    write(read("customer"), "customer")
    marker.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/root/repo/target/scaling"
    val factors = sys.env.getOrElse("SPARK_GRAFT_FACTORS", "5,10")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(hotSet)
    val unknown = only.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = GraftSession.builder("graft-scaling", Some(s"local[$cpus]"), Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up (codegen) against sf0.001, the Bench discipline
    val warmDir = new java.io.File(new java.io.File(baseDir).getParent, "sf0.001").getPath
    only.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[scaling] WARN warm-up $name: ${e.getMessage}")
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    val dirs: Seq[(Int, String)] =
      (1, baseDir) +: factors.toSeq.map { f =>
        val d = s"$workDir/x$f"
        System.err.println(s"[scaling] building ×$f tables in $d ...")
        build(spark, baseDir, d, f)
        (f, d)
      }

    def timeSet(names: Seq[String], dir: String, f: Int,
                tag: String): Seq[(String, Double)] =
      names.flatMap { name =>
        val times = (1 to runs).flatMap { _ =>
          val t0 = System.nanoTime()
          try { SparkEntry.queries(name)(spark, dir).count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[scaling] ERROR $name@x$f$tag: ${e.getMessage}")
            None
          }
        }
        if (times.size < runs) None else Some(name -> median(times))
      }
    def emit(metric: String, f: Int, dir: String,
             results: Seq[(String, Double)]): Unit = {
      val qs = results.map { case (n, v) => "\"" + n + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"$metric","factor":$f,"dir":"$dir","runs":$runs,"queries":$qs,"total":${fmt(results.map(_._2).sum)}}""")
    }

    // SPARK_GRAFT_PARTSCALE: comma-separated queries to RE-time with
    // the shuffle-partition count scaled ∝ factor (32·f) — the one
    // knob a real cluster scales with executor count but the local
    // harness otherwise pins, separating "the plan scales" from "the
    // partition count scales" (e.g. how much of plain pageRank's
    // superlinear per-round exchange+sort the partition knob recovers
    // vs the bucketed-layout lever).
    val partScale = sys.env.get("SPARK_GRAFT_PARTSCALE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    require(partScale.toSet.diff(SparkEntry.queries.keySet).isEmpty,
      "unknown SPARK_GRAFT_PARTSCALE queries")
    // SPARK_GRAFT_PROBES=1: additionally time the PROBE phase of the
    // ingested indexes with the index PRE-BUILT per factor (untimed) —
    // the pay-once claim predicts near-flat probe cost for IVF
    // (cluster-bounded candidates) and sublinear-in-corpus for BM25
    // (query-term posting lists only); the gates can't show this
    // because they time ingest+probe together.
    val probes = sys.env.get("SPARK_GRAFT_PROBES").contains("1")

    dirs.foreach { case (f, dir) =>
      emit("scaling", f, dir, timeSet(only, dir, f, ""))

      if (partScale.nonEmpty) {
        val base = Partitioning.shufflePartitions(spark)
        spark.conf.set("spark.sql.shuffle.partitions", (base * f).toString)
        try emit("scaling_partscaled", f, dir, timeSet(partScale, dir, f, " partscaled"))
        finally spark.conf.set("spark.sql.shuffle.partitions", base.toString)
      }

      // SPARK_GRAFT_CLUSTERED=1: time the LSH-candidate operators against
      // their brute twins on CLUSTERED embeddings (tight gaussian
      // clusters of 25, cluster count ∝ factor — the "more topics, same
      // density" crawl regime and the data regime LSH is FOR; the real
      // embeddings table is near-random, the documented adversarial
      // case where band keys cannot prune). Deterministic: per-cluster
      // seeded PRNG streams, prefix-stable across factors.
      if (sys.env.get("SPARK_GRAFT_CLUSTERED").contains("1")) {
        import spark.implicits._
        val dim = 64; val per = 25
        val n = 2000 * f
        val rows: Seq[(Long, Seq[Float])] =
          (0 until n / per).flatMap { c =>
            val rc = new scala.util.Random(1000L + c)
            val center = Array.fill(dim)(rc.nextGaussian())
            (0 until per).map { m =>
              val rm = new scala.util.Random(c.toLong * 100000L + m)
              ((c.toLong * per + m),
                (0 until dim).map(d => (center(d) + 0.05 * rm.nextGaussian()).toFloat): Seq[Float])
            }
          }
        val cdf = rows.toDF("vec_id", "embedding").repartition(32)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cdf.count()
        val qs = cdf.filter(col("vec_id") % 100 === 0).limit(20)
        val src = cdf.filter(col("vec_id") % 2 === 0)
        val tgt = cdf.filter(col("vec_id") % 2 =!= 0)
        val thunks: Seq[(String, () => Long)] = Seq(
          "topk_brute" -> (() => llm.Similarity.topK(
            cdf, qs, "vec_id", "embedding", k = 10).count()),
          "topk_lsh" -> (() => llm.Similarity.topKLsh(
            cdf, qs, "vec_id", "embedding", k = 10,
            nPlanes = 8, nTables = 8).count()),
          "bitext_brute" -> (() => llm.Similarity.bitextMine(
            src, tgt, "vec_id", "embedding", k = 4).count()),
          "bitext_ann" -> (() => llm.Similarity.bitextMineAnn(
            src, tgt, "vec_id", "embedding", k = 4,
            nPlanes = 8, nTables = 8).count()))
        val results = thunks.flatMap { case (name, thunk) =>
          // codegen warm: NonFatal only (an OOM/linkage error must
          // propagate, not silently skew the timed runs), and logged so
          // a dead warm-up is visible next to the timings it protects
          try thunk() catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scaling] WARN warm-up $name@x$f clustered threw: ${e.getMessage}")
          }
          val times = (1 to runs).flatMap { _ =>
            val t0 = System.nanoTime()
            try { thunk(); Some((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable =>
              System.err.println(s"[scaling] ERROR $name@x$f clustered: ${e.getMessage}")
              None
            }
          }
          if (times.size < runs) None else Some(name -> median(times))
        }
        emit("scaling_clustered", f, dir, results)
        // mined-pair YIELD vs margin threshold on the same clustered
        // fixture (where true cross-lingual-style matches exist by
        // construction): the precision/yield dial bitextMinedPairs
        // exposes, measured so the gate's threshold choice has a
        // documented curve behind it. The mined ranking is k-bounded —
        // one checkpoint, three counts.
        if (sys.env.get("SPARK_GRAFT_BITEXT_YIELD").contains("1")) {
          val mined = llm.Similarity.bitextMineAnn(src, tgt,
            "vec_id", "embedding", k = 4, nPlanes = 8, nTables = 8)
            .localCheckpoint()
          val srcN = src.count()
          val ys = Seq(0.9, 0.95, 1.0, 1.05, 1.1).map { t =>
            s""""$t":${llm.Similarity.bitextMinedPairs(mined, t).count()}"""
          }.mkString("{", ",", "}")
          println(s"""{"metric":"bitext_yield","factor":$f,"src_rows":$srcN,"yields":$ys}""")
        }
        cdf.unpersist()
      }

      if (probes) {
        import spark.implicits._
        val sfx = GateSupport.dirSuffix(dir)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val ivfT = s"graft_scaling_ivf_$sfx"
        val bm25T = s"graft_scaling_bm25_$sfx"
        val pqT = s"graft_scaling_pq_$sfx"
        val ivfpqT = s"graft_scaling_ivfpq_$sfx"
        System.err.println(s"[scaling] building probe indexes @x$f (untimed) ...")
        llm.Similarity.ingestIvf(emb, "vec_id", "embedding", ivfT,
          nCentroids = 16, kmeansIters = 2, nBuckets = 8)
        llm.Retrieval.ingestBm25(docs, "doc_id", "text", bm25T, nBuckets = 8)
        llm.Similarity.ingestPq(emb, "vec_id", "embedding", pqT,
          m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 8)
        llm.Similarity.ingestIvfPq(emb, "vec_id", "embedding", ivfpqT,
          nCentroids = 16, m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 8)
        // round-16 probe targets: the residual index, and TWO-BATCH
        // builds of the bm25/ivfpq indexes so an asOf probe actually
        // exercises the snapshot path (batch filter + sidecar semi-join
        // + stats recompute) rather than degenerating to the full view
        val rivfpqT = s"graft_scaling_rivfpq_$sfx"
        val bm25T2 = s"graft_scaling_bm25b_$sfx"
        val ivfpqT2 = s"graft_scaling_ivfpqb_$sfx"
        llm.Similarity.ingestIvfPqResidual(emb, "vec_id", "embedding", rivfpqT,
          nCentroids = 16, m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 8)
        llm.Retrieval.ingestBm25(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", bm25T2, nBuckets = 8)
        llm.Retrieval.appendBm25(docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", bm25T2)
        llm.Similarity.ingestIvfPq(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", ivfpqT2,
          nCentroids = 16, m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 8)
        llm.Similarity.appendIvfPq(spark, ivfpqT2,
          emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
        val qBatch = emb.filter(col("vec_id") < 20)
        val qText = Seq((1L, "the quick brown fox"), (2L, "model training data"),
          (3L, "distributed query engine"), (4L, "language identification"))
          .toDF("qid", "qtext")
        val thunks: Seq[(String, () => Long)] = Seq(
          "probe_ivf_ingested" -> (() => llm.Similarity.topKIvfIngested(
            spark, ivfT, qBatch, "vec_id", "embedding", k = 5, nProbe = 4).count()),
          "probe_bm25_ingested" -> (() => llm.Retrieval.bm25TopKIngested(
            spark, bm25T, qText, "qid", "qtext", topK = 10).count()),
          // PQ probe: one scan of the compressed codes table (the 64x-
          // smaller read at production layout) + candidate-bounded
          // rescore — predicted linear-in-rows but with the smallest
          // constant of the three index families
          "probe_pq_ingested" -> (() => llm.Similarity.topKPqIngested(
            spark, pqT, qBatch, "vec_id", "embedding",
            k = 5, nCandidates = 20).count()),
          // composed IVFADC probe: prunes to nProbe/nCentroids of the
          // corpus AND reads it as m-code rows — should undercut both
          // parents' probe cost as the corpus grows
          "probe_ivfpq_ingested" -> (() => llm.Similarity.topKIvfPqIngested(
            spark, ivfpqT, qBatch, "vec_id", "embedding",
            k = 5, nProbe = 4, nCandidates = 20).count()),
          // residual probe: same cell pruning + m-code read, plus the
          // per-cell codeword lookup — predicted flat like its parent
          "probe_rivfpq_ingested" -> (() => llm.Similarity.topKIvfPqResidualIngested(
            spark, rivfpqT, qBatch, "vec_id", "embedding",
            k = 5, nProbe = 4, nCandidates = 20).count()),
          // the forced codebook-TABLE serving path: reconstruction joins
          // the cluster-bucketed _cellbooks table instead of a plan
          // literal — predicted flat too (the probed-cell filter bounds
          // the join's left side; the books side is index-sized, tiny)
          "probe_rivfpq_booktable" -> (() => llm.Similarity.topKIvfPqResidualIngested(
            spark, rivfpqT, qBatch, "vec_id", "embedding",
            k = 5, nProbe = 4, nCandidates = 20,
            maxLiteralBookRows = 0).count()),
          // SNAPSHOT probes over two-batch indexes, pinned to batch 0:
          // the asOf overheads are the batches-sidecar semi-join (tiny,
          // broadcast) and — for BM25 — the snapshot stats aggregate
          // over the length relation; the batch filter itself PRUNES
          // (appends write batch-pure files)
          "probe_bm25_asof" -> (() => llm.Retrieval.bm25TopKIngested(
            spark, bm25T2, qText, "qid", "qtext", topK = 10,
            asOf = Some(0L)).count()),
          "probe_ivfpq_asof" -> (() => llm.Similarity.topKIvfPqIngested(
            spark, ivfpqT2, qBatch, "vec_id", "embedding",
            k = 5, nProbe = 4, nCandidates = 20, asOf = Some(0L)).count()))
        val results = thunks.flatMap { case (name, thunk) =>
          // one untimed warm call per factor: the probe plan's codegen
          // compiles here, not inside the first timed run. NonFatal
          // only, and logged (a swallowed fatal would hand the first
          // timed run the codegen cost this call exists to absorb)
          try thunk() catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scaling] WARN warm-up $name@x$f threw: ${e.getMessage}")
          }
          val times = (1 to runs).flatMap { _ =>
            val t0 = System.nanoTime()
            try { thunk(); Some((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable =>
              System.err.println(s"[scaling] ERROR $name@x$f: ${e.getMessage}")
              None
            }
          }
          if (times.size < runs) None else Some(name -> median(times))
        }
        emit("scaling_probe", f, dir, results)
      }

      // SPARK_GRAFT_BPE=1: the MERGE-COUNT scaling of BPE learning —
      // the claim is about Spark JOB COUNT, not per-job cost (each
      // round's work is O(vocab) either way): batchT = T cuts the
      // sequential algorithm's one-count-job-per-merge to one per
      // ceil(nMerges/T) rounds. Counted with a listener (ground truth,
      // not inferred), timed alongside. Run at factor 1 — vocabulary,
      // not corpus factor, is this curve's x-axis.
      if (sys.env.get("SPARK_GRAFT_BPE").contains("1")) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        // cells default to the round-18 grid; SPARK_GRAFT_BPE_CELLS
        // ("nMerges:batchT,...") picks others — e.g. "512:64" is the
        // production shape (a real tokenizer's 30k-merge run projected:
        // ceil(512/64) = 8 count rounds vs 512 sequential jobs, with 64
        // chained replace folds per round stressing codegen)
        val cells: Seq[(Int, Int)] = sys.env.get("SPARK_GRAFT_BPE_CELLS")
          .map(_.split(",").toSeq.map { kv =>
            val Array(n0, t0) = kv.split(":"); (n0.trim.toInt, t0.trim.toInt)
          })
          .getOrElse(for (n <- Seq(64, 256); bt <- Seq(1, 8)) yield (n, bt))
        try {
          for ((n, bt) <- cells) {
            Thread.sleep(1000) // drain listener events of the prior cell
            jobs.set(0)
            val t0 = System.nanoTime()
            val got = llm.Bpe.learnMerges(docs, "text", n, batchT = bt).count()
            val secs = (System.nanoTime() - t0) / 1e9
            Thread.sleep(1000)
            println(s"""{"metric":"scaling_bpe","factor":$f,"nMerges":$n,"batchT":$bt,"merges":$got,"jobs":${jobs.get()},"sec":${fmt(secs)}}""")
          }
        } finally spark.sparkContext.removeSparkListener(listener)
      }
    }
    spark.stop()
  }
}
