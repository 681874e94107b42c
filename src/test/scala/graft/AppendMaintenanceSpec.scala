package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Retrieval, Similarity}
import graft.ops.Bucketing

/** The APPEND maintenance half of the persisted-index layer: a crawl
  * pipeline ingests batches continuously, and a 100 TB index cannot be
  * rebuilt per batch. These specs pin the fold claims the gates verify
  * cross-engine: `ingest(A); append(B)` against `ingest(A∪B)` — exact
  * equivalence where the ingest freezes no corpus-dependent state (BM25,
  * capless MinHash), and the DOCUMENTED divergence where it does (frozen
  * flood set, frozen centroids) — plus the bucketed-log compaction that
  * keeps an append-only layout scan-healthy.
  */
class AppendMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // table-content comparisons ignore the snapshot stamp: `_batch_id` is
  // append PROVENANCE (ingest(A)+append(B) stamps 0 then 1 where
  // ingest(A∪B) stamps all 0 — the as-of feature, not a divergence), so
  // row-identity claims are over the data columns
  private def live(table: String): DataFrame =
    spark.table(table).drop(graft.ops.Snapshots.BatchCol)

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  test("appendBm25: ingest(A)+append(B) is row-identical to ingest(A∪B) — tables, stats, and probe") {
    import spark.implicits._
    val tA = "graft_bm25_appspec"; val tU = "graft_bm25_unionspec"
    val deps = Seq(tA, s"${tA}_dl", s"${tA}_stats", tU, s"${tU}_dl", s"${tU}_stats")
    dropAll(deps: _*)
    try {
      Retrieval.ingestBm25(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tA, nBuckets = 4)
      Retrieval.appendBm25(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", tA)
      Retrieval.ingestBm25(docs, "doc_id", "text", tU, nBuckets = 4)
      assert(rows(live(tA)) == rows(live(tU)),
        "posting tables diverge")
      assert(rows(live(s"${tA}_dl")) == rows(live(s"${tU}_dl")),
        "doc-length tables diverge")
      assert(rows(spark.table(s"${tA}_stats")) == rows(spark.table(s"${tU}_stats")),
        "stats sidecars diverge — the exact-integer refresh must equal a recount")
      val q = Seq((1L, "the quick brown fox"), (2L, "model training data"))
        .toDF("qid", "qtext")
      assert(rows(Retrieval.bm25TopKIngested(spark, tA, q, "qid", "qtext", topK = 5)) ==
        rows(Retrieval.bm25TopKIngested(spark, tU, q, "qid", "qtext", topK = 5)),
        "probe rankings diverge")
    } finally dropAll(deps: _*)
  }

  test("appendIvf: appended table IS the frozen-centroid assignment of the union; empty index rejects") {
    val tA = "graft_ivf_appspec"
    val deps = Seq(tA, s"${tA}_centroids")
    dropAll(deps: _*)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    try {
      Similarity.ingestIvf(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", tA, nCentroids = 8, kmeansIters = 1, nBuckets = 4)
      Similarity.appendIvf(spark, tA, emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding")
      // the equivalence appendIvf promises: table == assignment of the
      // FULL corpus against the centroids frozen at ingest (assignment
      // is a pure per-row function of the centroid literals, so the
      // ingested half's rows are unchanged and the appended half slots
      // into the same partition of the id space)
      val cent = spark.table(s"${tA}_centroids")
        .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1))
      val expected = Similarity.assignClusters(
        emb.where(col("embedding").isNotNull)
          .select(col("vec_id").as("nn_id"),
            Similarity.normalize(col("embedding")).as("cv")),
        cent)
      assert(rows(live(tA)) == rows(expected))
      // an index over an empty corpus has no quantizer — append must
      // reject loudly, not write unassignable rows
      val tE = "graft_ivf_emptyspec"
      dropAll(tE, s"${tE}_centroids")
      try {
        Similarity.ingestIvf(emb.where(lit(false)), "vec_id", "embedding",
          tE, nCentroids = 8, kmeansIters = 1, nBuckets = 4)
        intercept[IllegalArgumentException] {
          Similarity.appendIvf(spark, tE, emb.limit(5), "vec_id", "embedding")
        }
      } finally dropAll(tE, s"${tE}_centroids")
    } finally dropAll(deps: _*)
  }

  test("appendMinhashIndex: capless ingest(A)+append(B) ≡ ingest(A∪B) — tables and admission probe") {
    val tA = "graft_mh_appspec"; val tU = "graft_mh_unionspec"
    val deps = Seq(tA, tU).flatMap(t =>
      Seq(t, s"${t}_shingles", s"${t}_flood", s"${t}_meta"))
    dropAll(deps: _*)
    val idx = docs.filter(col("doc_id") <= 100)
    val batch = docs.filter(col("doc_id") > 100 && col("doc_id") <= 120)
    try {
      // no flood cap -> the frozen flood set is empty = the recomputed
      // one, so the append equivalence is EXACT here
      Dedup.ingestMinhashIndex(idx.filter(col("doc_id") <= 50),
        "doc_id", "text", n = 3, k = 8, rowsPerBand = 2,
        maxDocFreq = None, tA, nBuckets = 4)
      Dedup.appendMinhashIndex(spark, tA, idx.filter(col("doc_id") > 50),
        "doc_id", "text")
      Dedup.ingestMinhashIndex(idx, "doc_id", "text", n = 3, k = 8,
        rowsPerBand = 2, maxDocFreq = None, tU, nBuckets = 4)
      assert(rows(live(s"${tA}_shingles")) == rows(live(s"${tU}_shingles")))
      assert(rows(live(tA)) == rows(live(tU)))
      assert(rows(Dedup.minhashLshIngested(spark, tA, batch, "doc_id", "text", 0.3)) ==
        rows(Dedup.minhashLshIngested(spark, tU, batch, "doc_id", "text", 0.3)),
        "admission probes diverge")
    } finally dropAll(deps: _*)
  }

  test("appendMinhashIndex: the flood set stays FROZEN at ingest — appended boilerplate is not retro-capped") {
    import spark.implicits._
    val tA = "graft_mh_frozspec"; val tU = "graft_mh_refrspec"
    val deps = Seq(tA, tU).flatMap(t =>
      Seq(t, s"${t}_shingles", s"${t}_flood", s"${t}_meta"))
    dropAll(deps: _*)
    val a = docs.filter(col("doc_id") <= 50)
    // an adversarial appended batch: many copies of one boilerplate
    // string whose shingles cross the cap only WITH the batch's own
    // contribution
    val boiler = (0 until 30).map(i =>
      (10000L + i, "flood flood flood flood flood flood")).toDF("doc_id", "text")
    try {
      Dedup.ingestMinhashIndex(a, "doc_id", "text", n = 3, k = 8,
        rowsPerBand = 2, maxDocFreq = Some(5), tA, nBuckets = 4)
      Dedup.appendMinhashIndex(spark, tA, boiler, "doc_id", "text")
      Dedup.ingestMinhashIndex(a.unionByName(boiler), "doc_id", "text",
        n = 3, k = 8, rowsPerBand = 2, maxDocFreq = Some(5), tU, nBuckets = 4)
      // frozen semantics: the appended index keeps the boilerplate
      // shingles (its flood set predates them — an adversarial batch
      // cannot flood the index's signatures away); the full REBUILD
      // recomputes the cap over the union and drops them. This is the
      // documented contrast, not a bug: rebuild is the flood-refresh.
      val frozen = spark.table(s"${tA}_shingles").count()
      val rebuilt = spark.table(s"${tU}_shingles").count()
      assert(frozen > rebuilt,
        s"expected frozen index ($frozen rows) to retain boilerplate the rebuild drops ($rebuilt rows)")
      // and the frozen flood table really is A's: identical to the
      // rebuilt index's flood MINUS the batch-induced entries
      val floodA = rows(spark.table(s"${tA}_flood"))
      val floodU = rows(spark.table(s"${tU}_flood"))
      assert(floodA.toSet.subsetOf(floodU.toSet))
      assert(floodU.size > floodA.size)
    } finally dropAll(deps: _*)
  }

  test("appendLsh: ingest(A)+append(B) is row-identical to ingest(A∪B) — no frozen state in the banded layout") {
    val tA = "graft_lsh_appspec"; val tU = "graft_lsh_unionspec"
    val deps = Seq(tA, s"${tA}_meta", tU, s"${tU}_meta")
    dropAll(deps: _*)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    try {
      Similarity.ingestLsh(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", tA, nPlanes = 3, nTables = 4, nBuckets = 4)
      Similarity.appendLsh(spark, tA, emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding")
      Similarity.ingestLsh(emb, "vec_id", "embedding", tU,
        nPlanes = 3, nTables = 4, nBuckets = 4)
      assert(rows(live(tA)) == rows(live(tU)),
        "banded tables diverge — band keys must be a pure function of the sidecar params")
      assert(rows(Similarity.topKLshIngested(spark, tA,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)) ==
        rows(Similarity.topKLshIngested(spark, tU,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)))
    } finally dropAll(deps: _*)
  }

  test("ivfClusterStats: every centroid reported, emptied cells as 0, totals match the corpus") {
    val t = "graft_ivf_statsspec"
    val deps = Seq(t, s"${t}_centroids")
    dropAll(deps: _*)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    try {
      Similarity.ingestIvf(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", t, nCentroids = 8, kmeansIters = 1, nBuckets = 4)
      Similarity.appendIvf(spark, t, emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding")
      val stats = Similarity.ivfClusterStats(spark, t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stats.size == 8, "one row per centroid, including empty cells")
      assert(stats.values.sum == spark.table(t).count(),
        "membership counts must partition the indexed corpus")
      assert(stats.values.forall(_ >= 0L))
    } finally dropAll(deps: _*)
  }

  test("decontam index: append is a SET fold — overlapping eval batches never double-count hits") {
    val tA = "graft_dc_appspec"; val tU = "graft_dc_unionspec"
    val deps = Seq(tA, s"${tA}_meta", tU, s"${tU}_meta")
    dropAll(deps: _*)
    val ev = docs.filter(col("doc_id") % 37 === 0)
    try {
      // appended batch OVERLAPS the ingested one (the %74 set ⊂ %37
      // set, plus the full %37 set re-appended) — the anti-join must
      // land every hash exactly once
      graft.llm.Corpus.ingestDecontamIndex(
        docs.filter(col("doc_id") % 74 === 0), "doc_id", "text",
        n = 8, tA, nBuckets = 4)
      graft.llm.Corpus.appendDecontamIndex(spark, tA, ev, "doc_id", "text")
      graft.llm.Corpus.ingestDecontamIndex(ev, "doc_id", "text",
        n = 8, tU, nBuckets = 4)
      assert(rows(live(tA)) == rows(live(tU)),
        "hash sets diverge — duplicates would double-count n_hits")
      val probe = docs.filter(col("doc_id") < 200)
      val got = graft.llm.Corpus.decontaminateIngested(spark, tA, probe,
        "doc_id", "text")
      val ref = graft.llm.Corpus.decontaminate(probe, ev, "doc_id", "text", n = 8)
      assert(rows(got) == rows(ref),
        "ingested probe must be bit-identical to the per-run operator")
    } finally dropAll(deps: _*)
  }

  test("ivfPqResidualCellStats: an out-of-distribution append raises the landed cells' MSE — the rebuild trigger") {
    import spark.implicits._
    val t = "graft_rivfpq_drift"
    val deps = Seq(t, s"${t}_vectors", s"${t}_centroids", s"${t}_cellbooks",
      s"${t}_tombstones", s"${t}_batches")
    dropAll(deps: _*)
    // 4 tight axis-aligned clusters: cluster c concentrates on axis c,
    // so the per-cell residual books train on near-pure directions and
    // reconstruct the in-distribution rows almost exactly
    val dim = 8
    def vec(axis: Int, id: Long, offAxis: Double) =
      (0 until dim).map(d =>
        (if (d == axis) 10.0 else 0.0) +
          (if (d == (axis + 1) % 4) offAxis else 0.0) +
          ((id * 31 + d * 17) % 19 - 9) * 0.01).map(_.toFloat)
    // ids interleave across clusters so the 4 lowest-id k-means seeds
    // cover all 4 clusters (seeds are id-ordered by contract)
    val ingest = (for (c <- 0 until 4; i <- 0 until 20) yield {
      val id = (c + i * 4).toLong; (id, vec(c, id, 0.0))
    }).toDF("vec_id", "embedding")
    try {
      Similarity.ingestIvfPqResidual(ingest, "vec_id", "embedding", t,
        nCentroids = 4, m = 2, nCodes = 4, kmeansIters = 2, nBuckets = 4)
      val before = Similarity.ivfPqResidualCellStats(spark, t).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // the OOD batch: still assigns to its cluster's cell (the on-axis
      // component dominates) but carries a large off-axis residual the
      // frozen books never saw
      val ood = (for (c <- 0 until 4; i <- 0 until 5) yield {
        val id = (1000 + c * 5 + i).toLong; (id, vec(c, id, 5.0))
      }).toDF("vec_id", "embedding")
      Similarity.appendIvfPqResidual(spark, t, ood, "vec_id", "embedding")
      val after = Similarity.ivfPqResidualCellStats(spark, t).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(after.keySet == before.keySet)
      before.foreach { case (cell, mse0) =>
        assert(after(cell) > mse0,
          f"cell $cell MSE must RISE on the shifted batch: ${after(cell)}%.6f <= $mse0%.6f")
      }
    } finally dropAll(deps: _*)
  }

  test("appendIvfPqResidual: the forced codebook-TABLE coding path writes bit-identical codes to the literal fold") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val ta = "graft_rivfpq_applit"
    val tb = "graft_rivfpq_apptab"
    val deps = Seq(ta, tb).flatMap(t => Seq(t, s"${t}_vectors",
      s"${t}_centroids", s"${t}_cellbooks", s"${t}_tombstones", s"${t}_batches"))
    dropAll(deps: _*)
    try {
      for (t <- Seq(ta, tb))
        Similarity.ingestIvfPqResidual(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", t,
          nCentroids = 8, m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 4)
      val batch = emb.filter(col("vec_id") % 2 =!= 0)
      Similarity.appendIvfPqResidual(spark, ta, batch, "vec_id", "embedding")
      Similarity.appendIvfPqResidual(spark, tb, batch, "vec_id", "embedding",
        maxLiteralBookRows = 0) // force the join path
      assert(rows(spark.table(ta)) == rows(spark.table(tb)),
        "table-join coding must write the exact codes the literal fold writes")
    } finally dropAll(deps: _*)
  }

  test("appendIvfPqResidual rejects a batch assigned to an ingest-empty cell (no codebook to code against)") {
    import spark.implicits._
    val t = "graft_rivfpq_emptycell"
    val deps = Seq(t, s"${t}_vectors", s"${t}_centroids", s"${t}_cellbooks",
      s"${t}_tombstones", s"${t}_batches")
    dropAll(deps: _*)
    val dim = 8
    val ingest = (0L until 20L).map { id =>
      (id, (0 until dim).map(d =>
        (if (d == 0) 10.0 else 0.1) + (id % 7) * 0.01).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    try {
      Similarity.ingestIvfPqResidual(ingest, "vec_id", "embedding", t,
        nCentroids = 2, m = 2, nCodes = 4, kmeansIters = 1, nBuckets = 2)
      // simulate the k-means empty-cell carryover: a centroid survives
      // in the sidecar with NO members at ingest — and therefore no
      // per-cell codebook. Coding a batch vector assigned there would
      // element_at a missing key: NULL codes that silently vanish from
      // coarse ranking. The append must reject loudly instead.
      val cents = spark.table(s"${t}_centroids").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val ghost = (99L, (0 until dim).map(d => if (d == 7) 1.0d else 0.0d))
      Bucketing.writeSmall((cents :+ ghost).toSeq.toDF("cid", "centv"),
        s"${t}_centroids")
      val batch = Seq((500L, (0 until dim).map(d =>
        if (d == 7) 10.0 else 0.0).map(_.toFloat))).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Similarity.appendIvfPqResidual(spark, t, batch, "vec_id", "embedding")
      }
      assert(e.getMessage.contains("empty at ingest"),
        s"wrong rejection: ${e.getMessage}")
      // the table-coding path must reject identically (its inner join
      // would otherwise DROP the row instead of NULLing it — same
      // silent-vanish failure, same loud guard)
      val e2 = intercept[IllegalArgumentException] {
        Similarity.appendIvfPqResidual(spark, t, batch, "vec_id", "embedding",
          maxLiteralBookRows = 0)
      }
      assert(e2.getMessage.contains("empty at ingest"))
    } finally dropAll(deps: _*)
  }

  test("compactBucketed: content-identical, one file per bucket, layout intact") {
    val t = "graft_compact_spec"
    dropAll(t)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"))
    try {
      // an append-heavy log: 4 batches -> files-per-bucket > 1
      Bucketing.writeBucketed(orders.filter(col("o_orderkey") % 4 === 0),
        t, "custkey", nBuckets = 4)
      (1 to 3).foreach(i =>
        Bucketing.appendBucketed(orders.filter(col("o_orderkey") % 4 === i),
          t, "custkey"))
      val before = rows(spark.table(t))
      def dataFiles(): Int = {
        val loc = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(loc).count(s => s.getPath.getName.endsWith(".parquet"))
      }
      assert(dataFiles() > 4, "fixture must start with files-per-bucket > 1")
      Bucketing.compactBucketed(spark, t, "custkey")
      assert(dataFiles() == 4,
        "compaction must leave exactly one file per bucket — each task " +
          "holds one whole bucket (bucketed scan), so the rewrite is " +
          "local, no exchange")
      assert(rows(spark.table(t)) == before, "compaction changed content")
      assert(Bucketing.bucketCountOf(spark, t) == 4, "bucket spec lost")
      // the post-compaction table still joins exchange-free against a
      // same-key bucketed sibling (the property compaction preserves)
      val sib = "graft_compact_sib_spec"
      dropAll(sib)
      try {
        Bucketing.writeBucketed(
          spark.read.parquet(s"$dir/customer.parquet")
            .select(col("c_custkey").as("custkey"), col("c_nationkey")),
          sib, "custkey", nBuckets = 4)
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val p = Bucketing.bucketedJoin(spark, t, sib, "custkey")
            .queryExecution.executedPlan.toString
          assert(!p.contains("Exchange"), p.take(800))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      } finally dropAll(sib)
    } finally dropAll(t)
  }
}
