package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity}

/** The ragged-input guard of the vector trainers: a corpus whose
  * vectors are not all one length fails loudly, naming the lengths, in
  * every trainer — through a Lloyd's round's aggregate when the trainer
  * runs rounds, through the limit-1 probe when it runs none.
  */
class RaggedTrainingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 40 uniform 8-dim vectors, then one 11-dim and one 5-dim vector with
  // the highest ids, so every seed is uniform and only training sees them
  private lazy val corpus = ((1L to 40L).map(i => (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11).toDouble + 1.0))) ++
    Seq((41L, Seq.fill(11)(1.0)), (42L, Seq.fill(5)(2.0)))).toDF("id", "v")
  private lazy val queries = corpus.filter(col("id") <= 3L)

  test("every trainer rejects ragged vectors, naming the lengths") {
    val table = "ragged_rivfpq"
    Seq[(String, () => Any)](
      "topKIvf, 0 rounds" -> (() =>
        Similarity.topKIvf(corpus, queries, "id", "v", 3, nCentroids = 4, nProbe = 4,
          kmeansIters = 0).collect()),
      "topKMipsAnnIvf, 0 rounds" -> (() =>
        Similarity.topKMipsAnnIvf(corpus, queries, "id", "v", 3, nCentroids = 4, nProbe = 4,
          kmeansIters = 0).collect()),
      "semanticNearDup, 0 rounds" -> (() =>
        Dedup.semanticNearDup(corpus, "id", "v", threshold = 0.5, nCentroids = 4,
          kmeansIters = 0).collect()),
      "topKIvf, 2 rounds" -> (() =>
        Similarity.topKIvf(corpus, queries, "id", "v", 3, nCentroids = 4, nProbe = 2,
          kmeansIters = 2).collect()),
      "topKPq, 0 rounds" -> (() =>
        Similarity.topKPq(corpus, queries, "id", "v", 3, m = 2, nCodes = 4, kmeansIters = 0).collect()),
      "topKPq, 2 rounds" -> (() =>
        Similarity.topKPq(corpus, queries, "id", "v", 3, m = 2, nCodes = 4, kmeansIters = 2).collect()),
      "topKIvfPq, 1 round" -> (() =>
        Similarity.topKIvfPq(corpus, queries, "id", "v", 3, nCentroids = 4, nProbe = 2,
          m = 2, nCodes = 4, kmeansIters = 1).collect()),
      "topKIvfPqResidual, 0 rounds" -> (() =>
        Similarity.topKIvfPqResidual(corpus, queries, "id", "v", 3, nCentroids = 4, nProbe = 2,
          m = 2, nCodes = 4, kmeansIters = 0).collect()),
      "topKIvfPqResidual, 2 rounds" -> (() =>
        Similarity.topKIvfPqResidual(corpus, queries, "id", "v", 3, nCentroids = 4, nProbe = 2,
          m = 2, nCodes = 4, kmeansIters = 2).collect()),
      "ingestIvfPqResidual, 0 rounds" -> (() =>
        Similarity.ingestIvfPqResidual(corpus, "id", "v", table, nCentroids = 4, m = 2,
          nCodes = 4, kmeansIters = 0, nBuckets = 2)),
      "ingestIvfPqResidual, 2 rounds" -> (() =>
        Similarity.ingestIvfPqResidual(corpus, "id", "v", table, nCentroids = 4, m = 2,
          nCodes = 4, kmeansIters = 2, nBuckets = 2))
    ).foreach { case (name, call) =>
      try {
        val e = intercept[IllegalArgumentException](call())
        // the MIPS reduction appends one coordinate: its quantizer sees
        // 9-dim vectors and the ragged ones as 12- and 6-dim
        val dim = if (name.startsWith("topKMipsAnnIvf")) 9 else 8
        assert(e.getMessage.contains(s"requires uniform $dim-dim vectors") &&
          s"\\b(${dim - 3}|${dim + 3})\\b".r.findFirstIn(e.getMessage).nonEmpty,
          s"$name: the message must name the expected and the ragged lengths: ${e.getMessage}")
      } finally Seq("", "_vectors", "_centroids", "_cellbooks")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$table$t`"))
    }
    Partitioning.unpersistPins()
  }
}
