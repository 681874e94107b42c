package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Retrieval, Similarity}
import graft.ops.{Bucketing, Snapshots}

/** Snapshot (as-of) semantics for the batch-stamped index families —
  * the properties the cross-engine gates can't easily pin: snapshot
  * STABILITY (a pinned probe never changes as batches land),
  * crash-window orphan exclusion (rows stamped but never recorded are
  * invisible to every snapshot), and tombstone retroactivity (a
  * takedown hides the row in HISTORICAL snapshots too — retraction is
  * retroactive by law, so the delete verb wins over time travel).
  */
class IndexSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def emb: DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  private def bmDeps(t: String) =
    Seq(t, s"${t}_dl", s"${t}_stats", s"${t}_batches", s"${t}_tombstones")

  test("bm25 asOf: snapshot stability — the pinned probe never moves as batches land") {
    import spark.implicits._
    val t = "graft_snap_bm25"
    dropAll(bmDeps(t): _*)
    val q = Seq((1L, "the quick brown fox"), (2L, "model training data"))
      .toDF("qid", "qtext")
    try {
      Retrieval.ingestBm25(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", t, nBuckets = 4)
      Retrieval.appendBm25(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", t)
      // at the head, the snapshot IS the current view (stats derived
      // from the snapshot relation must equal the maintained sidecar)
      val atHead = rows(Retrieval.bm25TopKIngested(spark, t, q,
        "qid", "qtext", topK = 5, asOf = Some(1L)))
      assert(atHead == rows(Retrieval.bm25TopKIngested(spark, t, q,
        "qid", "qtext", topK = 5)),
        "asOf at the newest batch must equal the current view")
      // land another batch: the pinned snapshot must not move
      Retrieval.appendBm25(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", t)
      assert(rows(Retrieval.bm25TopKIngested(spark, t, q,
        "qid", "qtext", topK = 5, asOf = Some(1L))) == atHead,
        "a pinned snapshot changed after a later append — reproducibility broken")
      // and asOf at the new head equals the new current view
      assert(rows(Retrieval.bm25TopKIngested(spark, t, q,
        "qid", "qtext", topK = 5, asOf = Some(2L))) ==
        rows(Retrieval.bm25TopKIngested(spark, t, q, "qid", "qtext", topK = 5)))
    } finally dropAll(bmDeps(t): _*)
  }

  test("asOf excludes crash-window orphans: stamped rows without a batch record are invisible") {
    val t = "graft_snap_lsh"
    val deps = Seq(t, s"${t}_meta", s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestLsh(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", t, nPlanes = 3, nTables = 2, nBuckets = 4)
      val snap0 = rows(Similarity.topKLshIngested(spark, t,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        asOf = Some(0L)))
      // simulate the documented crash window: data landed under batch
      // id 1, the batch record did NOT — append stamped rows directly,
      // bypassing Snapshots.record (a shifted-id copy of the index, so
      // any leak visibly changes candidate sets)
      val orphan = Snapshots.stamp(
        spark.table(t).drop(Snapshots.BatchCol)
          .withColumn("nn_id", col("nn_id") + 100000L)
          .localCheckpoint(), 1L)
      Bucketing.appendBucketed(orphan, t, "bucket")
      // the orphans are stamped batch 1 but batch 1 was never recorded:
      // every asOf ≤ 1 must exclude them
      assert(rows(Similarity.topKLshIngested(spark, t,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        asOf = Some(1L))) == snap0,
        "asOf must semi-join the batches sidecar — orphan rows leaked into a snapshot")
    } finally dropAll(deps: _*)
  }

  test("tombstones are retroactive: a takedown hides the row in historical snapshots too") {
    val t = "graft_snap_lsh_del"
    val deps = Seq(t, s"${t}_meta", s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestLsh(emb, "vec_id", "embedding", t,
        nPlanes = 3, nTables = 2, nBuckets = 4)
      val q = emb.filter(col("vec_id") < 5)
      val before = Similarity.topKLshIngested(spark, t, q,
        "vec_id", "embedding", k = 5, asOf = Some(0L))
        .select(col("nn_id")).collect().map(_.getLong(0)).toSet
      val victim = before.head
      Similarity.deleteFromLsh(spark, t,
        emb.filter(col("vec_id") === victim).select(col("vec_id").as("nn_id")))
      val after = Similarity.topKLshIngested(spark, t, q,
        "vec_id", "embedding", k = 5, asOf = Some(0L))
        .select(col("nn_id")).collect().map(_.getLong(0)).toSet
      assert(!after.contains(victim),
        "a tombstoned id surfaced in a historical snapshot — takedowns must be retroactive")
    } finally dropAll(deps: _*)
  }

  test("a crashed append's batch id is never reused: the next append skips past stamped-but-unrecorded rows") {
    val t = "graft_snap_lsh_crash"
    val deps = Seq(t, s"${t}_meta", s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestLsh(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", t, nPlanes = 3, nTables = 2, nBuckets = 4)
      val snap0 = rows(Similarity.topKLshIngested(spark, t,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        asOf = Some(0L)))
      // the crash: batch-1 data landed, record(1) never ran
      val orphan = Snapshots.stamp(
        spark.table(t).drop(Snapshots.BatchCol)
          .withColumn("nn_id", col("nn_id") + 100000L)
          .localCheckpoint(), 1L)
      Bucketing.appendBucketed(orphan, t, "bucket")
      // deriving the next id from the sidecar alone would REUSE 1 here,
      // and record(1) would retroactively commit the orphan rows into
      // every asOf >= 1 snapshot — nextBatchId must consult the data
      assert(Snapshots.nextBatchId(spark, t, Seq(t)) == 2L,
        "nextBatchId must take max(sidecar, data) + 1 after a crashed append")
      Similarity.appendLsh(spark, t,
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 100),
        "vec_id", "embedding")
      assert(spark.table(Snapshots.batchesTable(t))
        .collect().map(_.getLong(0)).toSet == Set(0L, 2L),
        "the retry must land under a FRESH id; the crashed id stays unrecorded")
      // the orphan half-batch stays invisible to every snapshot — even
      // ones taken after the successful retry
      assert(rows(Similarity.topKLshIngested(spark, t,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        asOf = Some(1L))) == snap0,
        "asOf 1 must still exclude the crashed batch's orphan rows")
      val at2 = Similarity.topKLshIngested(spark, t,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        asOf = Some(2L))
      assert(at2.filter(col("nn_id") >= 100000L).count() == 0L,
        "orphan rows leaked into the post-retry snapshot")
    } finally dropAll(deps: _*)
  }

  test("compactStampedRange: merged horizon + batch-pure tail, every snapshot answer unchanged") {
    val t = "graft_snap_lsh_cmp"
    val deps = Seq(t, s"${t}_meta", s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestLsh(emb.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", t, nPlanes = 3, nTables = 2, nBuckets = 4)
      Similarity.appendLsh(spark, t, emb.filter(col("vec_id") % 3 === 1),
        "vec_id", "embedding")
      Similarity.appendLsh(spark, t, emb.filter(col("vec_id") % 3 === 2),
        "vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 10)
      def probe(b: Long) = rows(Similarity.topKLshIngested(spark, t, q,
        "vec_id", "embedding", k = 3, asOf = Some(b)))
      val before = (0L to 2L).map(probe)
      Snapshots.compactStampedRange(spark, t, "bucket", 0L, 1L)
      assert((0L to 2L).map(probe) == before,
        "compaction changed a snapshot answer — the stamp column must survive")
      // on-disk batch purity: no file may mix the live tail (batch 2)
      // with the merged horizon — that mixing is exactly what forfeits
      // the min/max file pruning an old asOf probe relies on
      val loc = spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq
      assert(files.nonEmpty)
      val perFile = files.map { f =>
        spark.read.parquet(f).select(col(Snapshots.BatchCol)).distinct()
          .collect().map(_.getLong(0)).toSet
      }
      assert(perFile.forall(s => s == Set(2L) || !s.contains(2L)),
        s"a compacted file mixes the live tail with the horizon: $perFile")
      assert(perFile.exists(_ == Set(2L)),
        "the out-of-horizon batch must keep batch-pure files")
    } finally dropAll(deps: _*)
  }

  test("compactStampedRange healOrphans: a crashed append's debris leaves the CURRENT view") {
    val t = "graft_snap_lsh_heal"
    val deps = Seq(t, s"${t}_meta", s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestLsh(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", t, nPlanes = 3, nTables = 2, nBuckets = 4)
      // the crash: batch-1 data landed, record(1) never ran
      val orphan = Snapshots.stamp(
        spark.table(t).drop(Snapshots.BatchCol)
          .withColumn("nn_id", col("nn_id") + 100000L)
          .localCheckpoint(), 1L)
      Bucketing.appendBucketed(orphan, t, "bucket")
      // the retry lands under a fresh id (2)
      Similarity.appendLsh(spark, t,
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 100),
        "vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 10)
      def currentIds = Similarity.topKLshIngested(spark, t, q,
        "vec_id", "embedding", k = 3).select(col("nn_id"))
        .collect().map(_.getLong(0)).toSet
      // snapshots already exclude the orphans; the CURRENT view is the
      // read that still serves them until the heal
      assert(spark.table(t).where(col("nn_id") >= 100000L).count() > 0L,
        "fixture must have orphan rows on disk")
      val snapBefore = (0L to 2L).map(b => rows(Similarity.topKLshIngested(
        spark, t, q, "vec_id", "embedding", k = 3, asOf = Some(b))))
      Snapshots.compactStampedRange(spark, t, "bucket", 0L, 2L,
        healOrphans = Some(t))
      assert(spark.table(t).where(col("nn_id") >= 100000L).count() == 0L,
        "healOrphans must physically drop unrecorded-batch rows")
      assert(currentIds.forall(_ < 100000L),
        "the current view must no longer serve crash debris")
      assert((0L to 2L).map(b => rows(Similarity.topKLshIngested(
        spark, t, q, "vec_id", "embedding", k = 3, asOf = Some(b))))
        == snapBefore,
        "the heal must not change any snapshot answer")
      assert(Snapshots.nextBatchId(spark, t, Seq(t)) == 3L,
        "numbering continues from the recorded history after the heal")
    } finally dropAll(deps: _*)
  }

  test("residual IVF-PQ asOf composes with table-served codebooks: both serving paths, same snapshot") {
    val t = "graft_snap_rivfpq"
    val deps = Seq(t, s"${t}_vectors", s"${t}_centroids", s"${t}_cellbooks",
      s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestIvfPqResidual(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", t,
        nCentroids = 4, m = 4, nCodes = 4, kmeansIters = 2, nBuckets = 4)
      Similarity.appendIvfPqResidual(spark, t,
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 10)
      def probe(asOf: Option[Long], maxLit: Int) = rows(
        Similarity.topKIvfPqResidualIngested(spark, t, q,
          "vec_id", "embedding", k = 3, nProbe = 2, nCandidates = 12,
          asOf = asOf, maxLiteralBookRows = maxLit))
      val lit0 = probe(Some(0L), 65536)
      // the snapshot must exclude every odd (batch-1) id
      assert(lit0.nonEmpty)
      // table-served codebooks at the SAME snapshot: bit-identical
      assert(probe(Some(0L), 0) === lit0,
        "snapshot x table-served-codebooks must match the literal path")
      // and the pinned snapshot is stable across the serving paths even
      // at the head
      assert(probe(None, 0) === probe(None, 65536),
        "current-view parity between the two serving paths")
    } finally dropAll(deps: _*)
  }

  test("batch numbering: ingest restarts the timeline at 0; appends count up") {
    val t = "graft_snap_seq"
    val deps = Seq(t, s"${t}_meta", s"${t}_batches", s"${t}_tombstones")
    dropAll(deps: _*)
    try {
      Similarity.ingestLsh(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", t, nPlanes = 3, nTables = 2, nBuckets = 4)
      Similarity.appendLsh(spark, t,
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 100),
        "vec_id", "embedding")
      assert(Snapshots.nextBatchId(spark, t) == 2L)
      // a REBUILD starts a fresh timeline — stale history would
      // mislabel the new batch-0 rows
      Similarity.ingestLsh(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", t, nPlanes = 3, nTables = 2, nBuckets = 4)
      assert(Snapshots.nextBatchId(spark, t) == 1L,
        "rebuild must reset the snapshot timeline")
      assert(spark.table(t).agg(max(col(Snapshots.BatchCol))).first().getLong(0) == 0L)
    } finally dropAll(deps: _*)
  }
}
