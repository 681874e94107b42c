package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Batch-id idempotence for `foreachBatch` sinks, factored out of
  * [[BucketedLogSink]] so ANY index-maintenance fold (a single bucketed
  * log, or a multi-table index like the BM25 posting layout) gets the
  * same exactly-once contract: Structured Streaming replays the last
  * micro-batch with the SAME batchId after a failure, and a sink that
  * runs its fold twice corrupts the index silently.
  *
  * CATALOG DURABILITY: `committed` answers from the session catalog's
  * commit TABLE. With Spark's default in-memory catalog, table
  * registrations die with the JVM even though the warehouse files
  * survive — a RESTARTED job sees `tableExists = false`, takes the
  * fresh-ingest path, and the dropManaged discipline clears the
  * orphaned directories (i.e. the previously committed batches) before
  * re-writing. Exactly-once across JVM restarts therefore requires a
  * persistent metastore (Hive catalog) so the data and commit tables
  * outlive the process; under the in-memory catalog the guarantee
  * covers replays WITHIN one session — which is what the local gates
  * exercise and what the scaladocs of the sinks promise.
  *
  * The commit log `<commitTable>` holds one `batch_id` row per committed
  * micro-batch — batches-per-deployment-sized, so the membership probe
  * is bounded. The commit record is written AFTER the work closure: a
  * crash between them re-runs that one batch on replay (the documented
  * one-batch-wide duplication window of plain parquet tables —
  * committing first would trade it for silent LOSS). See
  * [[BucketedLogSink]]'s scaladoc for the full atomicity discussion.
  */
object ExactlyOnce {

  /** Has `batchId` been committed to `commitTable`? Bounded scan. */
  def committed(spark: SparkSession, commitTable: String,
                batchId: Long): Boolean =
    spark.catalog.tableExists(commitTable) &&
      spark.table(commitTable).where(col("batch_id") === batchId)
        .limit(1).count() > 0L

  /** Run `work` iff `batchId` is not yet committed, then record it.
    * Returns true iff the work ran (false = replay skipped as a no-op).
    */
  def once(spark: SparkSession, commitTable: String, batchId: Long)
          (work: => Unit): Boolean =
    if (committed(spark, commitTable, batchId)) false
    else {
      work
      Snapshots.writeCommit(spark, commitTable, batchId)
      true
    }
}
