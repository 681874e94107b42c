package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-stamped snapshot (as-of) reads for the persisted index
  * families — the reproducibility verb next to ingest/append/delete:
  * "train against the index AS OF batch N" and "what did the index
  * serve last Tuesday" (the audit question a takedown review asks) are
  * unanswerable from plain append-only parquet unless every row carries
  * its batch of origin, because parquet has no file→batch mapping and
  * reconstruction after the fact is impossible. This is
  * [[graft.streaming.BucketedLogSink]]'s `_batch_id` discipline factored
  * out for the multi-table index layouts (BM25 postings, MinHash
  * bands/shingles, LSH bands, IVF/PQ/IVF-PQ codes and vectors).
  *
  * Numbering: ingest stamps batch 0; each append stamps max + 1 over
  * BOTH the `<parent>_batches` sidecar (one row per completed batch —
  * batches-per-deployment-sized) AND the stamped data tables, so a
  * crashed append's id is never reused ([[nextBatchId]]'s contract).
  * Every family stamps and records through [[PersistedIndex]], whose
  * sink routes through the same ingest/append verbs, so streamed
  * indexes snapshot identically; note the snapshot sequence is
  * this sidecar's, not the stream's commit-log batch ids (a replayed
  * stream batch is a commit-log no-op and consumes no snapshot id).
  *
  * Semantics of `asOf = Some(b)`:
  *   - rows of batches ≤ b, with a broadcast semi-join against the
  *     batches sidecar excluding orphans of the documented two-writes
  *     crash window (data landed, batch record didn't) — the
  *     [[graft.streaming.BucketedLogSink.asOf]] rule verbatim;
  *   - TOMBSTONES STILL APPLY (probes compose this read with
  *     [[Tombstones.filterByParent]]): a takedown must hide the row in
  *     historical snapshots too — retraction is retroactive by law,
  *     so the delete verb wins over time travel by design;
  *   - corpus-TRAINED sidecars (centroids, codebooks, the MinHash flood
  *     set, BM25's it-derives-at-probe-time df) are frozen at ingest,
  *     so every snapshot serves under the same quantizer — exactly the
  *     frozen-sidecar append contract, time-sliced.
  *
  * Scale shape: the stamp is one long column per row that
  * dictionary/RLE-compresses to near nothing per batch file; the asOf
  * predicate prunes newer batch files via parquet min/max stats (each
  * append writes fresh files, so files are batch-pure until
  * compaction). [[Bucketing.compactBucketed]] preserves the column but
  * merges files ACROSS batches — use [[compactStampedRange]] to merge
  * only the batches inside a horizon and keep the live tail's files
  * batch-pure (the BucketedLogSink note, now a verb).
  */
object Snapshots {

  /** The per-row provenance column every stamped index table carries. */
  val BatchCol = "_batch_id"

  def batchesTable(parent: String): String = s"${parent}_batches"

  /** The id the NEXT batch stamps: 0 for a fresh index, max + 1 after.
    *
    * `dataTables` are the stamped tables the caller is about to append
    * into, and they are consulted too: the sidecar alone is NOT the
    * high-water mark after a crashed append (data rows stamped `b`
    * landed, `record(b)` never ran). Deriving the next id from the
    * sidecar only would REUSE `b`, and the retry's `record(b)` would
    * retroactively commit the crash's half-written orphan rows into
    * every `asOf >= b` snapshot. Taking `max(sidecar, data) + 1`
    * guarantees a crashed batch's id is never recorded, so its orphan
    * rows stay permanently excluded from every snapshot read. They DO
    * remain in the CURRENT view — the full-table read documented on
    * [[readAsOf]] — until a compaction run with `healOrphans` set
    * ([[compactStampedRange]]) rewrites them away; exactly-once retry
    * semantics come from routing appends through the streaming sinks'
    * commit log, which replays under the SAME stream batch id and
    * skips committed ones.
    *
    * Cost: the sidecar scan is batches-sized; each data-table max runs
    * UNDER the predicate `stamp > sidecar max` — appends write fresh
    * files, so committed files are batch-pure and their parquet min/max
    * stats prune them at planning time (a compacted horizon's merged
    * file carries `max stamp ≤ sidecar max` and prunes too). What
    * actually scans is only files carrying stamps ABOVE the sidecar —
    * i.e. a crashed append's orphans, normally zero files. Without the
    * predicate this would be a data-proportional column scan (Spark
    * does not answer bare `max()` from footer stats on the v1 read
    * path).
    */
  def nextBatchId(spark: SparkSession, parent: String,
                  dataTables: Seq[String] = Nil): Long = {
    val bt = batchesTable(parent)
    val sidecarMax: Option[Long] =
      if (!spark.catalog.tableExists(bt)) None
      else {
        val r = spark.table(bt).agg(max(col("batch_id"))).first()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val floor = sidecarMax.getOrElse(-1L)
    val dataMax = dataTables.filter(spark.catalog.tableExists).flatMap { t =>
      val df = spark.table(t)
      if (!df.columns.contains(BatchCol)) None
      else {
        // only stamps ABOVE the sidecar matter (ties can't raise the
        // max); the predicate turns the scan into file-pruned metadata
        // work on every committed batch-pure file
        val r = df.where(col(BatchCol) > floor)
          .agg(max(col(BatchCol))).first()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    }
    ((sidecarMax.toSeq ++ dataMax) :+ -1L).max + 1L
  }

  /** Stamp a relation with its batch of origin — applied to every row
    * an ingest (batch 0) or append (nextBatchId) writes.
    */
  def stamp(df: DataFrame, batchId: Long): DataFrame =
    df.withColumn(BatchCol, lit(batchId))

  /** Record `batchId` as fully written — called AFTER the data appends
    * (the commit-last rule: a crash between data and record leaves
    * orphan rows that every asOf read excludes via the semi-join; the
    * reverse order would let a snapshot see a half-written batch).
    */
  def record(spark: SparkSession, parent: String, batchId: Long): Unit = {
    val bt = batchesTable(parent)
    // first record of a fresh sidecar: clear any orphan dir a previous
    // JVM's in-memory catalog left behind (the dropManaged discipline)
    if (!spark.catalog.tableExists(bt)) Bucketing.dropManaged(spark, bt)
    import spark.implicits._
    Seq(batchId).toDF("batch_id").write.mode("append")
      .format("parquet").saveAsTable(bt)
  }

  /** Drop the batch history — [[PersistedIndex.ingest]] calls this on
    * every rebuild before re-stamping from 0 (a rebuilt index starts a
    * fresh timeline; stale history would mislabel the new batch 0 rows).
    */
  def reset(spark: SparkSession, parent: String): Unit =
    Bucketing.dropManaged(spark, batchesTable(parent))

  /** SNAPSHOT-AWARE compaction of a stamped bucketed table: merge the
    * accumulated small files of batches in `[bLo, bHi]` while keeping
    * every batch OUTSIDE the range in batch-pure files — the
    * compact-per-batch-range form this object's scaladoc recommends.
    * [[Bucketing.compactBucketed]] preserves the stamp column (asOf
    * stays CORRECT after it) but merges files ACROSS batches, which
    * forfeits the parquet min/max file pruning that makes asOf probes
    * cheap; this verb confines the merge to the compaction horizon, so
    * an `asOf` at or beyond `bHi` still skips nothing it needs and an
    * `asOf` BELOW `bHi` degrades only within the merged horizon
    * (IndexSnapshotSpec proves on-disk batch purity outside it).
    *
    * Shape: the staging write is one job for the merged horizon plus
    * one batch-pruned job per out-of-horizon batch (each append's scan
    * prunes to that batch's files via the stamp min/max, and its output
    * files are pure by construction). Out-of-horizon batches are the
    * RECENT few in the intended use — compact the old history, keep the
    * live tail pure — so the job count is small; files-per-bucket after
    * compaction = 1 + out-of-horizon batch count. `transform` is the
    * [[Tombstones.purge]]-style row-filtering hook (applied to every
    * group; must not re-key). Same staged publish + single-writer
    * contract as [[Bucketing.compactBucketedWith]].
    *
    * `healOrphans = Some(parent)` additionally drops rows whose stamp
    * the parent's batches sidecar never recorded — the physical remains
    * of a crashed append ([[nextBatchId]]'s orphans, already invisible
    * to every asOf read but still served by the CURRENT view, where a
    * duplicate row from the crash+retry pair can displace a distinct
    * top-k neighbor). Safe under the single-writer contract: with no
    * append in flight, every legitimate row's batch is recorded, so the
    * anti-join removes exactly the crash debris. The sidecar is
    * batches-sized and broadcasts.
    */
  def compactStampedRange(spark: SparkSession, table: String, key: String,
                          bLo: Long, bHi: Long,
                          transform: DataFrame => DataFrame = identity,
                          healOrphans: Option[String] = None)
      : Unit = {
    require(bLo <= bHi, s"empty compaction range [$bLo, $bHi]")
    val committed = healOrphans
      .filter(p => spark.catalog.tableExists(batchesTable(p)))
      .map(p => spark.table(batchesTable(p))
        .select(col("batch_id").as(BatchCol)))
    Bucketing.compactBucketedStaged(spark, table, key) { (tmp, n) =>
      def rows = committed.foldLeft(spark.table(table)) { (df, c) =>
        df.join(broadcast(c), Seq(BatchCol), "left_semi")
      }
      val inRange = col(BatchCol).between(bLo, bHi)
      // cluster = false: the forced bucketed scan already hands each
      // write task one whole bucket — the exchange-free local rewrite
      // IS this path's contract
      Bucketing.writeBucketed(transform(rows.where(inRange)), tmp, key, n,
        cluster = false)
      val rest = rows.where(!inRange).select(col(BatchCol)).distinct()
        .collect().map(_.getLong(0)).sorted
      rest.foreach { b =>
        Bucketing.appendBucketed(
          transform(rows.where(col(BatchCol) === b)), tmp, key, n,
          cluster = false)
      }
    }
  }

  /** Read a stamped index table, optionally as of a batch. `None` is
    * the current view — the full table, stamp dropped (probe outputs
    * never leak provenance columns). `Some(b)` filters to batches ≤ b
    * (parquet min/max file pruning) and semi-joins the batches sidecar
    * (batches-sized, broadcast) to exclude crash-window orphans, then
    * drops the stamp. `parent` owns the sidecar — pass the index root
    * when reading a satellite table (`<root>_dl`, `<root>_shingles`).
    */
  def readAsOf(spark: SparkSession, table: String, parent: String,
               asOf: Option[Long]): DataFrame = asOf match {
    case None => spark.table(table).drop(BatchCol)
    case Some(b) =>
      val committed = spark.table(batchesTable(parent))
        .where(col("batch_id") <= b)
        .select(col("batch_id").as(BatchCol))
      spark.table(table).where(col(BatchCol) <= b)
        .join(broadcast(committed), Seq(BatchCol), "left_semi")
        .drop(BatchCol)
  }
}
