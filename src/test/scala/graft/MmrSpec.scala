package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** MMR rerank edge cases with hand-derived picks, the candidate
  * contract's loud failures, and the per-call cache footprint.
  */
class MmrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val contractMsg = "candidate ids must match exactly one corpus row each"

  // unit / 45° vectors: every pairwise similarity is 0, 1, ½ or 1/√2
  // (micro 707107), so the expected picks below derive by hand
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)), // exact duplicate of 1
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(1f, 1f, 0f, 0f)),
      (5L, Seq(0f, 0f, 1f, 0f)),
      (6L, Seq(1f, 0f, 1f, 0f)),
      (7L, Seq(1f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
  }

  private def cands(rows: (Long, Long, Option[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("query_id", "nn_id", "score")
  }

  private def picks(df: DataFrame): Seq[(Long, Long, Option[Double], Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def ranked(q: Long, scores: Map[Long, Option[Double]],
                     order: Long*): Seq[(Long, Long, Option[Double], Int)] =
    order.zipWithIndex.map { case (id, i) => (q, id, scores(id), i + 1) }

  /** Runs `body` with the persistent-RDD set and the pin count taken
    * just before it, over a clean pin queue.
    */
  private def footprint(body: => Unit): (Set[Int], Int) = {
    Partitioning.unpersistPins()
    val before = (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      Partitioning.pinnedCount)
    body
    before
  }

  // 200 seeded 8-dim vectors: enough for a 4×4 PQ index and top-10 lists
  private lazy val emb: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 200L).map(id => (id, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def withPq(t: String)(body: => Unit): Unit = {
    val deps = Seq(t, s"${t}_vectors", s"${t}_codebooks", s"${t}_tombstones")
    deps.foreach(ops.Bucketing.dropManaged(spark, _))
    try {
      Similarity.ingestPq(emb, "vec_id", "embedding", t, m = 4, nCodes = 4,
        kmeansIters = 1, nBuckets = 4)
      body
    } finally {
      Partitioning.unpersistPins()
      deps.foreach(ops.Bucketing.dropManaged(spark, _))
    }
  }

  /** A brute top-`n` candidate list for queries vec_id < `nq`, held as
    * local rows so it carries no lineage (and no pins) of its own.
    */
  private def localTopK(nq: Int, n: Int): DataFrame = {
    val top = Similarity.topK(emb, emb.filter(col("vec_id") < nq),
      "vec_id", "embedding", k = n).select("query_id", "nn_id", "score")
    val rows = top.collect()
    Partitioning.unpersistPins()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), top.schema)
  }

  test("MMR edge cases: run-out, single candidate, exact ties, duplicates, null score") {
    val s = (id: Long, x: Double) => id -> Some(x)
    val q10 = Map(s(1, .9), s(3, .8), s(5, .7))
    val q20 = Map(s(4, .5))
    val q30 = Map(s(3, .6), s(5, .6))
    val q31 = Map(s(1, .9), s(6, .5), s(7, .5))
    val q32 = Map(s(1, .9), s(2, .9), s(3, .5))
    val q50 = Map[Long, Option[Double]](1L -> None, s(3, .2), s(5, .1))
    val in = Seq(10L -> q10, 20L -> q20, 30L -> q30, 31L -> q31, 32L -> q32,
      50L -> q50).flatMap { case (q, m) => m.toSeq.map { case (id, x) => (q, id, x) } }
    val got = picks(Similarity.diversifyMmr(cands(in: _*), corpus,
      "vec_id", "embedding", k = 5, lambda = 0.5))
    // λ = .5 (micro 500000 each side), mmr = 5e5·relm − 5e5·ms:
    //  q10 k > N: sims to 1 are 0, so relevance order, then run out
    //  q20: one candidate, one pick
    //  q30: relevance tie → lowest id; 5 follows
    //  q31: after 1, 6 and 7 tie exactly (relm 500000, ms 707107) → 6;
    //       7's ms stays 707107 (its sim to 6 is micro 500000)
    //  q32: 1 and 2 tie → 1; then 2's ms = 1e6 makes mmr(2) = −5e10
    //       < mmr(3) = 2.5e11 → 3, then 2
    //  q50: the null score ranks last in every round, still picked last
    val want = ranked(10, q10, 1, 3, 5) ++ ranked(20, q20, 4) ++
      ranked(30, q30, 3, 5) ++ ranked(31, q31, 1, 6, 7) ++
      ranked(32, q32, 1, 3, 2) ++ ranked(50, q50, 3, 5, 1)
    assert(got === want)

    val q40 = Map(s(1, .9), s(4, .8), s(3, .1), s(5, .05))
    val c40 = cands(q40.toSeq.map { case (id, x) => (40L, id, x) }: _*)
    // λ = 0: round 1 is still relevance (1); then mmr = −1e6·ms —
    // 3 and 5 tie at ms 0 → 3, then 5 (ms 0) before 4 (ms 707107)
    assert(picks(Similarity.diversifyMmr(c40, corpus, "vec_id", "embedding",
      k = 4, lambda = 0.0)) === ranked(40, q40, 1, 3, 5, 4))
    // λ = 1: similarity has no weight — plain relevance order
    assert(picks(Similarity.diversifyMmr(c40, corpus, "vec_id", "embedding",
      k = 4, lambda = 1.0)) === ranked(40, q40, 1, 4, 3, 5))
    Partitioning.unpersistPins()
  }

  test("diversifyMmrIngested: collect + unpersistPins returns the cache to where it was") {
    withPq("graft_mmr_pin") {
      val cand = localTopK(nq = 4, n = 10)
      var rows = Array.empty[Row]
      val (rddsBefore, pinsBefore) = footprint {
        rows = Similarity.diversifyMmrIngested(spark, "graft_mmr_pin_vectors",
          cand, k = 5, lambda = 0.5).collect()
      }
      assert(rows.length === 4 * 5)
      Partitioning.unpersistPins()
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === rddsBefore,
        "an MMR call must leave no cached or checkpointed RDD behind")
      assert(Partitioning.pinnedCount === pinsBefore)
    }
  }

  test("candidate contract: a tombstoned vector fails loudly and leaks no pin") {
    withPq("graft_mmr_stale") {
      val cand = localTopK(nq = 3, n = 8)
      val gone = cand.select("nn_id").limit(1).collect().head.getLong(0)
      Similarity.deleteFromPq(spark, "graft_mmr_stale",
        cand.filter(col("nn_id") === gone).select("nn_id"))
      val (rddsBefore, pinsBefore) = footprint {
        val e = intercept[IllegalArgumentException] {
          Similarity.diversifyMmrIngested(spark, "graft_mmr_stale_vectors",
            cand, k = 3, lambda = 0.5)
        }
        assert(e.getMessage.contains(contractMsg), e.getMessage)
      }
      assert(Partitioning.pinnedCount === pinsBefore)
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === rddsBefore)
    }
  }

  test("candidate contract: a duplicated corpus id fails loudly and leaks no pin") {
    val dup = corpus.union(corpus.filter(col("vec_id") === 3L))
    val cand = cands((1L, 1L, Some(.9)), (1L, 3L, Some(.8)), (1L, 5L, Some(.7)))
    val (rddsBefore, pinsBefore) = footprint {
      val e = intercept[IllegalArgumentException] {
        Similarity.diversifyMmr(cand, dup, "vec_id", "embedding",
          k = 2, lambda = 0.5)
      }
      assert(e.getMessage.contains(contractMsg), e.getMessage)
    }
    assert(Partitioning.pinnedCount === pinsBefore)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === rddsBefore)
  }
}
