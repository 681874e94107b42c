package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DELETE/tombstone maintenance for the persisted index families — the
  * retraction verb next to ingest/append/stream: a training-data
  * pipeline receives takedown and opt-out lists, and rebuilding a
  * 100 TB index per takedown is not an answer.
  *
  * Design: deletes are LOGICAL first — deleted ids append into a
  * `<parent>_tombstones` table bucketed by the id, and every probe
  * anti-joins the index scan against it (the takedown-list side is
  * small by nature, so the planner broadcasts it from table stats —
  * the flood-set precedent: no pinned hint, and an adversarially large
  * tombstone set still works). Physical removal is DEFERRED to
  * compaction ([[Tombstones.purge]]), which the bucketed layout makes
  * a per-bucket local rewrite — exactly where a 100 TB deployment
  * batches its deletes (the Delta/Iceberg merge-on-read pattern,
  * expressed on plain bucketed parquet).
  *
  * Semantics: a delete removes ROWS; per-corpus TRAINED state
  * (IVF centroids, PQ codebooks, the MinHash flood set) stays frozen —
  * the same contract as append, with the same rebuild trigger (drift
  * monitors). For the families whose index state is pure per-row
  * (LSH band keys; BM25 postings + the exactly-adjusted stats sidecar)
  * `ingest(A∪B); delete(B)` is BIT-IDENTICAL to `ingest(A)` at probe
  * time — the delete gates share the A-only oracles as proof.
  *
  * Caller contract: a tombstoned id must NOT be re-appended — the
  * tombstone would hide the new row until the next ingest rebuild or
  * purge. Re-admission of a previously deleted id requires a purge
  * (which clears the tombstone set after physically dropping the rows)
  * or a full re-ingest (which drops the tombstone table).
  */
object Tombstones {

  def tableOf(parent: String): String = s"${parent}_tombstones"

  /** Record `ids` (column `idName`) as deleted for the index rooted at
    * `parent`. Creates the tombstone table on first delete, bucketed by
    * the id with the PARENT's bucket count (read from the catalog — an
    * id-bucketed parent like the PQ codes/vectors tables then
    * anti-joins co-located). Already-tombstoned and duplicate ids are
    * dropped before the append, so re-deleting is harmless AND the
    * returned relation — the NEWLY tombstoned ids, materialized — lets
    * callers derive exact side adjustments (the BM25 stats sidecar)
    * idempotently. Work is takedown-list-sized: nothing here touches
    * the parent table. Same single-writer-per-table contract as every
    * index writer.
    */
  def add(spark: SparkSession, parent: String, ids: DataFrame,
          idName: String): DataFrame = {
    val tt = tableOf(parent)
    // ONE existence probe decides both the anti-join and the write path —
    // a second check could in principle observe a different catalog state
    // and write a fresh table over a just-appended one, violating the
    // single-writer contract's spirit even where its letter holds
    val exists = spark.catalog.tableExists(tt)
    val in = ids.select(col(idName)).distinct()
    val fresh =
      (if (exists) in.join(spark.table(tt), Seq(idName), "left_anti")
      else in).localCheckpoint(true)
    if (exists)
      Bucketing.appendBucketed(fresh, tt, idName)
    else Bucketing.writeBucketed(fresh, tt, idName,
      Bucketing.bucketCountOf(spark, parent))
    fresh
  }

  /** Anti-join `rel` (which carries the id column `idName`) against the
    * tombstone set of `parent` — the probe-time delete filter. A no-op
    * when no delete has ever happened (the tombstone table only exists
    * after the first [[add]]); no broadcast hint, per the flood-set
    * precedent — the planner broadcasts a small tombstone table from
    * its stats, and a huge one still plans correctly.
    */
  def filterByParent(spark: SparkSession, parent: String, rel: DataFrame,
                     idName: String): DataFrame = {
    val tt = tableOf(parent)
    if (spark.catalog.tableExists(tt))
      rel.join(spark.table(tt), Seq(idName), "left_anti")
    else rel
  }

  /** LOUD guard for [[PersistedIndex.append]]: a tombstoned id that
    * re-appends writes rows every probe silently hides — the batch looks
    * ingested and is invisible, the worst failure class. Callers pass the
    * incoming batch's id relation; cost is one batch-sized semi-join
    * probe, and ZERO when no delete has ever happened (no tombstone
    * table — the overwhelmingly common case).
    */
  def requireNotTombstoned(spark: SparkSession, parent: String,
                           ids: DataFrame, idName: String): Unit = {
    val tt = tableOf(parent)
    if (!spark.catalog.tableExists(tt)) return
    val hit = ids.select(col(idName))
      .join(spark.table(tt), Seq(idName), "left_semi").limit(1).collect()
    require(hit.isEmpty,
      s"append into '$parent': id ${hit.headOption.map(_.get(0)).orNull} is " +
        "tombstoned — a re-appended row would be hidden from every probe; " +
        "purge (compact) or rebuild (ingest) before re-admitting deleted ids")
  }

  /** Drop the tombstone set of `parent` — [[PersistedIndex.ingest]]
    * calls this on every rebuild (a rebuilt index starts with no
    * deletes; a stale tombstone table would silently hide re-ingested
    * rows), and [[purge]] calls it after the physical drop.
    */
  def clear(spark: SparkSession, parent: String): Unit =
    Bucketing.dropManaged(spark, tableOf(parent))

  /** PHYSICAL delete: compact every table of the index (given as
    * (tableName, bucketKey) pairs) dropping tombstoned rows in the same
    * per-bucket rewrite, then clear the tombstone set — after this the
    * deleted ids exist in NO file on disk (the takedown guarantee;
    * TombstoneSpec asserts it against the raw parquet files). Each
    * rewrite is the [[Bucketing.compactBucketed]] staging/rename
    * machinery with the anti-join folded into the bucketed scan, so
    * the cost is the compaction the append-heavy layout owes anyway.
    */
  def purge(spark: SparkSession, parent: String,
            tables: Seq[(String, String)], idName: String): Unit = {
    val tt = tableOf(parent)
    if (!spark.catalog.tableExists(tt)) return
    val tomb = spark.table(tt)
    tables.foreach { case (table, key) =>
      Bucketing.compactBucketedWith(spark, table, key,
        _.join(tomb, Seq(idName), "left_anti"))
    }
    clear(spark, parent)
  }

  /** [[purge]]'s SNAPSHOT-AWARE form for batch-stamped tables: the
    * physical drop rides [[Snapshots.compactStampedRange]] instead of
    * the whole-table rewrite, so batches OUTSIDE `[bLo, bHi]` keep
    * their batch-pure files (asOf probes on the live tail keep their
    * min/max file pruning) while the horizon merges. The tombstone
    * anti-join applies to EVERY group — takedowns are retroactive, so
    * deleted rows leave the out-of-horizon files too — and the
    * tombstone set clears after, same as [[purge]]. Use when the index
    * both snapshots and takes deletes: purge-then-keep-pruning is the
    * combination a long-lived deployment actually wants.
    */
  def purgeStampedRange(spark: SparkSession, parent: String,
                        tables: Seq[(String, String)], idName: String,
                        bLo: Long, bHi: Long): Unit = {
    val tt = tableOf(parent)
    if (!spark.catalog.tableExists(tt)) return
    val tomb = spark.table(tt)
    tables.foreach { case (table, key) =>
      // healOrphans: the physical-cleanup verb also sweeps the crash
      // debris of unrecorded appends (Snapshots.nextBatchId's orphans)
      Snapshots.compactStampedRange(spark, table, key, bLo, bHi,
        _.join(tomb, Seq(idName), "left_anti"), healOrphans = Some(parent))
    }
    clear(spark, parent)
  }
}
