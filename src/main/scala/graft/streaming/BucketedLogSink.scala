package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Bucketing, Snapshots}

/** Exactly-once streaming ingest into a [[graft.ops.Bucketing]] bucketed
  * log — the `foreachBatch` sink that closes the loop between the
  * streaming maintenance twins and the persisted-index layer.
  *
  * Structured Streaming's `foreachBatch` contract is AT-LEAST-ONCE: after
  * a failure the engine replays the last micro-batch with the SAME
  * `batchId`. A naive `appendBucketed` sink would duplicate that batch's
  * rows — and a duplicated batch in an ingest log silently corrupts every
  * index fold built over it. This sink makes the append idempotent per
  * batch id with a tiny commit-log sidecar `<table>_commits (batch_id)`:
  * an already-committed id is skipped entirely, so re-delivery is a no-op
  * (StreamingSpec's replay test pins exactly that).
  *
  * Scale shape: the commit log holds ONE row per micro-batch (batches per
  * deployment lifetime — thousands, not corpus-sized), so the membership
  * probe is a bounded scan; the data append is batch-sized bucketed file
  * appends, never a corpus rewrite — the [[Bucketing.appendBucketed]]
  * streamability property.
  *
  * HONEST ATOMICITY NOTE: the data append and the commit record are two
  * writes. A crash BETWEEN them (data landed, commit didn't) makes the
  * next replay of that batch id duplicate its rows — the classic
  * two-writes window a transactional table format (or a staged
  * rename-publish) closes and plain parquet tables cannot. The window is
  * one batch wide and only on crash; deployments that cannot tolerate it
  * should reconcile at the periodic index rebuild (dedup on a batch-id
  * column) or sink into a transactional format. Committing FIRST would
  * trade duplication for silent LOSS, which is strictly worse for an
  * ingest log.
  *
  * Single-writer-per-table contract, as everywhere in [[Bucketing]]: one
  * streaming query owns a log table; concurrent writers race the
  * create/append sequence.
  */
object BucketedLogSink {

  private def commitsTable(table: String): String = s"${table}_commits"

  /** Idempotently append one micro-batch into the bucketed log `table`.
    * First-ever batch creates the table ([[Bucketing.writeBucketed]]);
    * later batches append ([[Bucketing.appendBucketed]] — bucket count
    * re-read from the catalog, mismatch impossible). Returns true iff
    * rows were appended (false = batch id already committed, no-op).
    */
  def exactlyOnceAppend(batch: DataFrame, batchId: Long, table: String,
                        key: String, nBuckets: Int): Boolean = {
    val spark = batch.sparkSession
    ExactlyOnce.once(spark, commitsTable(table), batchId) {
      // every row is stamped with its batch id (Snapshots.stamp):
      // provenance is free at write time and unrecoverable later (plain
      // parquet has no file→batch mapping), and it is what makes [[asOf]] snapshots —
      // "train on the corpus as of batch N", the reproducibility story
      // a training pipeline needs — a narrow filter instead of an
      // impossible reconstruction. One long column per row; at 100 TB
      // it dictionary/RLE-compresses to near nothing per batch file.
      val stamped = Snapshots.stamp(batch, batchId)
      if (spark.catalog.tableExists(table)) {
        // crash-window RECONCILE: rows stamped with THIS batch id that
        // reached the log while the commit record did not are orphans of
        // a crash between the two writes. Re-appending without removing
        // them would leave the batch DOUBLED under a now-committed id —
        // permanently visible to every snapshot. Detection is a limit-1
        // probe (the stamp predicate prunes via parquet min/max
        // stats — newer-batch files are skipped); the per-bucket rewrite
        // runs only on this crash-recovery path, never in steady state.
        val thisBatch = col(Snapshots.BatchCol) === batchId
        if (spark.table(table).where(thisBatch).limit(1).count() > 0L)
          Bucketing.compactBucketedWith(spark, table, key, _.where(!thisBatch))
        Bucketing.appendBucketed(stamped, table, key)
      } else Bucketing.writeBucketed(stamped, table, key, nBuckets)
    }
  }

  /** The log AS OF `batchId`: rows of every COMMITTED batch ≤ batchId —
    * a reproducible snapshot (re-running a job pinned to a batch id
    * reads the identical corpus no matter how many batches landed
    * since) — [[Snapshots.asOfCommitted]] over the sink's commit log.
    * The narrow stamp predicate lets parquet min/max stats skip newer
    * batch files; the semi-join against the commit log
    * (batches-sized, broadcast) excludes rows from the documented crash
    * window — data landed, commit didn't — BEFORE the batch replays
    * (the orphans carry an uncommitted id, so the semi-join hides
    * them). Post-replay consistency is [[exactlyOnceAppend]]'s job, not
    * this join's: the replay path detects the orphaned rows and rewrites
    * them out before re-appending, so the committed batch is never
    * doubled — the semi-join alone could not distinguish the two copies
    * once the id commits.
    * Compaction note: [[graft.ops.Bucketing.compactBucketed]] preserves
    * the column (content-neutral) but merges files across batches, so
    * run it only when snapshots older than the compaction horizon are
    * no longer needed — or compact per batch range.
    */
  def asOf(spark: org.apache.spark.sql.SparkSession, table: String,
           batchId: Long): DataFrame =
    Snapshots.asOfCommitted(spark, table, commitsTable(table), batchId)

  /** The `foreachBatch` function: `stream.writeStream.foreachBatch(
    * BucketedLogSink.sink(table, key, n)).start()`.
    */
  def sink(table: String, key: String, nBuckets: Int)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => { exactlyOnceAppend(batch, batchId, table, key, nBuckets); () }
}
