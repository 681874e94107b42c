package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GateSupport.GateIndex
import graft.llm.{Corpus, Dedup, Retrieval, Similarity}
import graft.ops.{Bucketing, Snapshots}

/** The single persisted-index lifecycle ([[graft.ops.PersistedIndex]]),
  * table-driven over the index families: the shared append guards
  * reject a wrong-dimension batch and leave the index untouched, every
  * sink is exactly-once and heals an empty first delivery, and each
  * descriptor names every table its verbs create — so compaction and
  * the streamed gates' drop lists cannot miss one.
  */
class PersistedIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 400 deterministic 64-dim float vectors (ids 0..399). */
  private def emb: DataFrame =
    spark.range(400).select(col("id").as("vec_id"),
      array((0 until 64).map(d => sin(col("id") * (0.7 + 0.13 * d) + d)): _*)
        .cast("array<float>").as("embedding"))

  /** 400 deterministic 12-word documents over a 50-word vocabulary. */
  private def docs: DataFrame =
    spark.range(400).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i => concat(lit("w"),
        pmod(xxhash64(col("id"), lit(i)), lit(50L)).cast("string"))): _*)
        .as("text"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A family at small test parameters, its fixture, and its public
    * append/sink verbs (no sink for decontam).
    */
  private case class Family(name: String, ix: GateIndex, data: () => DataFrame,
                            append: (String, DataFrame) => Unit,
                            sink: Option[String => (DataFrame, Long) => Unit],
                            trained: Boolean)

  private lazy val families = Seq(
    Family("ivf", GateIndex(Similarity.ivfIndex, "vec_id", "embedding",
        Similarity.ingestIvf(_, "vec_id", "embedding", _, nCentroids = 4,
          kmeansIters = 1, nBuckets = 2)), () => emb,
      Similarity.appendIvf(spark, _, _, "vec_id", "embedding"),
      Some(Similarity.ivfSink(_, "vec_id", "embedding", nCentroids = 4,
        kmeansIters = 1, nBuckets = 2)), trained = true),
    Family("lsh", GateIndex(Similarity.lshIndex, "vec_id", "embedding",
        Similarity.ingestLsh(_, "vec_id", "embedding", _, nPlanes = 3,
          nTables = 2, nBuckets = 2)), () => emb,
      Similarity.appendLsh(spark, _, _, "vec_id", "embedding"),
      Some(Similarity.lshSink(_, "vec_id", "embedding", nPlanes = 3,
        nTables = 2, nBuckets = 2)), trained = false),
    Family("pq", GateIndex(Similarity.pqIndex, "vec_id", "embedding",
        Similarity.ingestPq(_, "vec_id", "embedding", _, m = 4, nCodes = 4,
          kmeansIters = 1, nBuckets = 2)), () => emb,
      Similarity.appendPq(spark, _, _, "vec_id", "embedding"),
      Some(Similarity.pqSink(_, "vec_id", "embedding", m = 4, nCodes = 4,
        kmeansIters = 1, nBuckets = 2)), trained = true),
    Family("ivfpq", GateIndex(Similarity.ivfpqIndex, "vec_id", "embedding",
        Similarity.ingestIvfPq(_, "vec_id", "embedding", _, nCentroids = 4,
          m = 4, nCodes = 4, kmeansIters = 1, nBuckets = 2)), () => emb,
      Similarity.appendIvfPq(spark, _, _, "vec_id", "embedding"),
      Some(Similarity.ivfpqSink(_, "vec_id", "embedding", nCentroids = 4,
        m = 4, nCodes = 4, kmeansIters = 1, nBuckets = 2)), trained = true),
    Family("residual", GateIndex(Similarity.rivfpqIndex, "vec_id", "embedding",
        Similarity.ingestIvfPqResidual(_, "vec_id", "embedding", _,
          nCentroids = 4, m = 4, nCodes = 4, kmeansIters = 1, nBuckets = 2)),
      () => emb,
      Similarity.appendIvfPqResidual(spark, _, _, "vec_id", "embedding"),
      Some(Similarity.ivfpqResidualSink(_, "vec_id", "embedding",
        nCentroids = 4, m = 4, nCodes = 4, kmeansIters = 1, nBuckets = 2)),
      trained = true),
    Family("bm25", GateIndex(Retrieval.bm25Index, "doc_id", "text",
        Retrieval.ingestBm25(_, "doc_id", "text", _, nBuckets = 2)), () => docs,
      (t, b) => Retrieval.appendBm25(b, "doc_id", "text", t),
      Some(Retrieval.bm25Sink(_, "doc_id", "text", nBuckets = 2)),
      trained = false),
    Family("minhash", GateIndex(Dedup.minhashIndex, "doc_id", "text",
        Dedup.ingestMinhashIndex(_, "doc_id", "text", n = 3, k = 8,
          rowsPerBand = 4, maxDocFreq = Some(20), _, nBuckets = 2)),
      () => docs,
      Dedup.appendMinhashIndex(spark, _, _, "doc_id", "text"),
      Some(Dedup.minhashSink(_, "doc_id", "text", n = 3, k = 8,
        rowsPerBand = 4, maxDocFreq = Some(20), nBuckets = 2)),
      trained = true),
    Family("decontam", GateIndex(Corpus.decontamIndex, "doc_id", "text",
        Corpus.ingestDecontamIndex(_, "doc_id", "text", n = 8, _, nBuckets = 2)),
      () => docs,
      Corpus.appendDecontamIndex(spark, _, _, "doc_id", "text"),
      None, trained = false))

  private def family(name: String): Family = families.find(_.name == name).get

  private def dropAll(f: Family, root: String): Unit =
    f.ix.index.catalog(root).foreach(Bucketing.dropManaged(spark, _))

  /** Every data table of the index as sorted row strings, stamps
    * included, plus the batch history — the state a guard must not
    * touch.
    */
  private def state(f: Family, root: String): Seq[Seq[String]] =
    (f.ix.index.tables.map(root + _._1) :+ Snapshots.batchesTable(root))
      .map(t => rows(spark.table(t)))

  private def dataRows(f: Family, root: String): Seq[Seq[String]] =
    f.ix.index.tables.map(t => rows(spark.table(root + t._1)
      .drop(Snapshots.BatchCol)))

  test("a wrong-dimension append is rejected loudly and leaves the index unchanged") {
    Seq("ivf", "pq", "ivfpq", "residual").map(family).foreach { f =>
      val root = s"graft_pis_dim_${f.name}"
      dropAll(f, root)
      try {
        val v = emb
        f.ix.ingest(v.filter(col("vec_id") < 300), root)
        val before = state(f, root)
        // one 63-dim vector among well-formed ones: graft_dot loops to
        // min(len), so without the guard it would be assigned a cell and
        // scored on a truncated dot
        val bad = v.filter(col("vec_id") >= 300 && col("vec_id") < 310)
          .select(col("vec_id"),
            when(col("vec_id") === 305, slice(col("embedding"), 1, 63))
              .otherwise(col("embedding")).as("embedding"))
        val e = intercept[IllegalArgumentException](f.append(root, bad))
        assert(e.getMessage.contains("64-dim"), s"${f.name}: ${e.getMessage}")
        assert(state(f, root) == before, s"${f.name}: a rejected append changed the index")
        // a well-formed batch still appends
        f.append(root, v.filter(col("vec_id") >= 300 && col("vec_id") < 310))
        assert(spark.table(root + "_batches").count() == 2L, f.name)
      } finally dropAll(f, root)
    }
  }

  test("every sink: a replayed batch id is a no-op; an empty first delivery heals") {
    families.filter(_.sink.isDefined).foreach { f =>
      val root = s"graft_pis_sink_${f.name}"
      val healed = s"graft_pis_heal_${f.name}"
      val direct = s"graft_pis_direct_${f.name}"
      Seq(root, healed, direct).foreach(dropAll(f, _))
      try {
        val d = f.data()
        val id = col(f.ix.idCol)
        val deliver = f.sink.get(root)
        deliver(d.filter(id < 200), 0L)
        deliver(d.filter(id >= 200 && id < 350), 1L)
        val once = state(f, root)
        deliver(d.filter(id >= 200 && id < 350), 1L) // replayed
        assert(state(f, root) == once, s"${f.name}: a replayed batch changed the index")
        assert(spark.table(root + "_commits").count() == 2L, f.name)
        if (f.trained) {
          // an empty batch 0 trains nothing; the first real delivery
          // must rebuild the index exactly as a direct ingest of it
          val heal = f.sink.get(healed)
          heal(d.where(lit(false)), 0L)
          heal(d.filter(id < 200), 1L)
          f.ix.ingest(d.filter(id < 200), direct)
          assert(dataRows(f, healed) == dataRows(f, direct),
            s"${f.name}: the empty-first-delivery heal did not rebuild the index")
          assert(dataRows(f, healed).head.nonEmpty, f.name)
          assert(spark.table(healed + f.ix.index.trainedOn.get).count() > 0L,
            s"${f.name}: the healed index is still untrained")
        }
      } finally Seq(root, healed, direct).foreach(dropAll(f, _))
    }
  }

  test("each descriptor names every table ingest + append + delete + sink create") {
    families.foreach { f =>
      val root = s"graft_pis_cat_${f.name}"
      dropAll(f, root)
      try {
        val d = f.data()
        val id = col(f.ix.idCol)
        f.ix.ingest(d.filter(id < 200), root)
        f.append(root, d.filter(id >= 200 && id < 300))
        f.ix.index.delete(spark, root,
          d.filter(id === 5).select(id.as(f.ix.index.idCol)))
        // decontam has no public sink verb; its descriptor's sink is the
        // same lifecycle
        f.sink.getOrElse(f.ix.index.sink(_: String, f.ix.idCol, f.ix.valCol)(
            f.ix.ingest(_, root)))(root)(d.filter(id >= 300), 0L)
        def created = spark.catalog.listTables().collect().map(_.name)
          .filter(n => n == root || n.startsWith(root + "_")).toSet
        assert(created == f.ix.index.catalog(root).toSet, s"${f.name}")
        // compaction rewrites exactly the descriptor's data tables and
        // leaves no staging debris
        f.ix.index.compact(spark, root)
        assert(created == f.ix.index.catalog(root).toSet - (root + "_tombstones"),
          s"${f.name} after compaction")
      } finally dropAll(f, root)
    }
  }
}
