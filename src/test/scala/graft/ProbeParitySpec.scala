package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity
import graft.ops.Bucketing

/** Each vector index family's per-run top-k trains in memory and then
  * runs the probe body its persisted (`…Ingested`) twin runs. This spec
  * covers the cases the gate-parameter parity tests in AnnRecallSpec do
  * not reach: the single-table LSH path; an empty corpus, where both
  * forms must return no rows with one schema whose id types come from
  * the input; and the IVF family's shared nProbe guard.
  */
class ProbeParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 120 deterministic 16-dim float vectors with INT ids 0..119. */
  private def emb: DataFrame =
    spark.range(120).select(col("id").cast("int").as("vid"),
      array((0 until 16).map(d => sin(col("id") * (0.9 + 0.17 * d) + d)): _*)
        .cast("array<float>").as("vec"))

  private def queries: DataFrame = emb.filter(col("vid") < 12)

  /** A family: its descriptor's catalog, its ingest, and both probes
    * at the same parameters.
    */
  private case class Family(name: String, catalog: String => Seq[String],
                            ingest: (DataFrame, String) => Unit,
                            perRun: DataFrame => DataFrame,
                            ingested: String => DataFrame)

  private lazy val families = Seq(
    Family("ivf", Similarity.ivfIndex.catalog,
      Similarity.ingestIvf(_, "vid", "vec", _, nCentroids = 4, kmeansIters = 1,
        nBuckets = 2),
      Similarity.topKIvf(_, queries, "vid", "vec", k = 3, nCentroids = 4,
        nProbe = 2, kmeansIters = 1),
      Similarity.topKIvfIngested(spark, _, queries, "vid", "vec", k = 3,
        nProbe = 2)),
    Family("lsh", Similarity.lshIndex.catalog,
      Similarity.ingestLsh(_, "vid", "vec", _, nPlanes = 3, nTables = 1,
        nBuckets = 2),
      Similarity.topKLsh(_, queries, "vid", "vec", k = 3, nPlanes = 3,
        nTables = 1),
      Similarity.topKLshIngested(spark, _, queries, "vid", "vec", k = 3)),
    Family("pq", Similarity.pqIndex.catalog,
      Similarity.ingestPq(_, "vid", "vec", _, m = 4, nCodes = 4,
        kmeansIters = 1, nBuckets = 2),
      Similarity.topKPq(_, queries, "vid", "vec", k = 3, m = 4, nCodes = 4,
        kmeansIters = 1),
      Similarity.topKPqIngested(spark, _, queries, "vid", "vec", k = 3)),
    Family("ivfpq", Similarity.ivfpqIndex.catalog,
      Similarity.ingestIvfPq(_, "vid", "vec", _, nCentroids = 4, m = 4,
        nCodes = 4, kmeansIters = 1, nBuckets = 2),
      Similarity.topKIvfPq(_, queries, "vid", "vec", k = 3, nCentroids = 4,
        nProbe = 2, m = 4, nCodes = 4, kmeansIters = 1),
      Similarity.topKIvfPqIngested(spark, _, queries, "vid", "vec", k = 3,
        nProbe = 2)),
    Family("residual", Similarity.rivfpqIndex.catalog,
      Similarity.ingestIvfPqResidual(_, "vid", "vec", _, nCentroids = 4, m = 4,
        nCodes = 4, kmeansIters = 1, nBuckets = 2),
      Similarity.topKIvfPqResidual(_, queries, "vid", "vec", k = 3,
        nCentroids = 4, nProbe = 2, m = 4, nCodes = 4, kmeansIters = 1),
      Similarity.topKIvfPqResidualIngested(spark, _, queries, "vid", "vec",
        k = 3, nProbe = 2)))

  private def withIndex[T](f: Family, corpus: DataFrame)(body: String => T): T = {
    val root = s"graft_probe_parity_${f.name}"
    try { f.ingest(corpus, root); body(root) }
    finally f.catalog(root).foreach(Bucketing.dropManaged(spark, _))
  }

  private def typed(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => f.name -> f.dataType.simpleString)

  test("single-table LSH: the per-run probe equals the probe of an nTables = 1 index") {
    val lsh = families.find(_.name == "lsh").get
    withIndex(lsh, emb) { root =>
      val per = lsh.perRun(emb).collect().toSet
      assert(per.nonEmpty, "the fixture must yield single-table candidates")
      assert(lsh.ingested(root).collect().toSet == per)
    }
  }

  test("every family: an empty corpus gives no rows and one input-typed schema from both probes") {
    val empty = emb.limit(0)
    for (f <- families) withIndex(f, empty) { root =>
      val (per, ing) = (f.perRun(empty), f.ingested(root))
      assert(per.count() == 0L && ing.count() == 0L, s"${f.name}: rows from an empty corpus")
      assert(typed(per) == typed(ing), s"${f.name}: per-run ${typed(per)} vs ingested ${typed(ing)}")
      assert(typed(per).take(2) == Seq("query_id" -> "int", "nn_id" -> "int"),
        s"${f.name}: id types must come from the input, got ${typed(per)}")
    }
  }

  test("flat IVF and MIPS-IVF top-k reject nProbe < 1 before any job, on an empty index too") {
    // a corpus that fails the moment a job reads it: the guard must fire
    // before training, or the error would be the job's, not the guard's
    val poisoned = emb.withColumn("vec",
      when(col("vid") >= 0, raise_error(lit("corpus read"))).otherwise(col("vec")))
    def rejects(name: String)(probe: => DataFrame): Unit = {
      val ex = intercept[IllegalArgumentException](probe)
      assert(ex.getMessage.contains("nProbe must be positive"), s"$name: ${ex.getMessage}")
    }
    for (nProbe <- Seq(0, -1)) {
      rejects("topKIvf")(Similarity.topKIvf(poisoned, queries, "vid", "vec", k = 3,
        nCentroids = 4, nProbe = nProbe, kmeansIters = 1))
      rejects("topKMipsAnnIvf")(Similarity.topKMipsAnnIvf(poisoned, queries, "vid", "vec",
        k = 3, nCentroids = 4, nProbe = nProbe, kmeansIters = 1))
      withIndex(families.head, emb.limit(0)) { root =>
        rejects("topKIvfIngested")(Similarity.topKIvfIngested(spark, root, queries,
          "vid", "vec", k = 3, nProbe = nProbe))
      }
    }
  }
}
