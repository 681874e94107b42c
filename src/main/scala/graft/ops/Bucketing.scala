package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location — the storage-side answer to the one
  * shuffle the view/join DSL cannot optimize away: a fact⋈dim join on
  * a key both sides are large on.
  *
  * `spark.write.bucketBy(n, key)` hash-partitions rows into `n` fixed
  * buckets AT WRITE TIME and records the layout in the catalog; a later
  * join of two tables bucketed on the same key with the same `n` reads
  * bucket i against bucket i directly — NO Exchange on either side
  * (asserted in BucketingSpec, with a non-bucketed negative control).
  * At 100 TB this converts every recurring join/aggregation on the
  * bucket key from a full-corpus shuffle (the dominant cost) into a
  * co-located merge — the classic pay-once-at-ingest trade. `sortBy`
  * additionally orders rows inside each bucket file so the merge join
  * can skip its sort when files-per-bucket is 1.
  *
  * This is engine extension surface (no reference analogue — the
  * reference's RDBMS handles physical layout): the capability a Spark
  * deployment of the reference's recurring view queries
  * (`ops/ViewDsl.scala`) would standardize on for their join keys.
  */
object Bucketing {

  /** Write `df` as a bucketed (and in-bucket sorted) managed parquet
    * table. `overwrite` replaces the table atomically-enough for batch
    * recompute pipelines; the bucket count is part of the table's
    * contract — joins co-locate only across tables sharing (key, n).
    *
    * The input is CLUSTERED to one partition per bucket before the
    * write: a bucketed write fans each input task out into one file per
    * bucket it holds rows for, so an unclustered write emits up to
    * tasks × buckets files — the many-small-files problem of guide §6
    * (slower scans, and files-per-bucket > 1 forfeits the merge join's
    * sort elision). `repartition(n, key)` uses the SAME hash+pmod
    * placement as the bucket-id assignment, so each write task holds
    * exactly one whole bucket and emits exactly one file — the Iceberg
    * `write.distribution-mode=hash` trade: one exchange at ingest buys
    * every later scan/join the compacted layout. Input ALREADY laid out
    * by the bucket key at `n` pays nothing: Spark drops a
    * `repartition(n, key)` whose child already has that hash layout, so
    * a compaction over a forced bucketed scan, or an aggregation by the
    * key over a bucketed scan, rewrites bucket-locally with no exchange
    * (pinned in PartitioningSpec).
    *
    * SINGLE WRITER PER TABLE NAME: the drop + location-delete +
    * saveAsTable sequence below is not atomic, so two concurrent
    * writers of the SAME table name can interleave (one dropping or
    * deleting the other's in-progress write). Callers must serialize
    * writes per table name — the gate registry does it by deriving
    * names from a digest of the fixture dir (distinct dirs → distinct
    * tables) and running same-dir suites sequentially. Concurrent
    * writers of DIFFERENT names are safe.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    dropManaged(df.sparkSession, table)
    write(df, "overwrite", table, key, nBuckets)
  }

  private def write(df: DataFrame, mode: String, table: String, key: String,
                    nBuckets: Int): Unit =
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(key))
      .write.mode(mode).bucketBy(nBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** DROP TABLE IF EXISTS plus default-location cleanup. A managed-table
    * dir left behind by a previous JVM is invisible to this JVM's fresh
    * in-memory catalog, so a later CREATE of the same name fails with
    * LOCATION_ALREADY_EXISTS; deleting the orphan location makes table
    * (re)creation idempotent across processes. Every create path here
    * routes through this.
    */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Append into an existing [[writeBucketed]] table at the table's own
    * bucket count ([[bucketCountOf]], catalog metadata, no job; Spark
    * validates that the key matches the table's spec). The append-only
    * half of an ingest log: history is never rewritten — each batch
    * adds bucketed files — which is what makes the layout streamable
    * (a `foreachBatch` sink can call this per micro-batch). Same
    * single-writer-per-table contract as [[writeBucketed]].
    */
  def appendBucketed(df: DataFrame, table: String, key: String): Unit =
    write(df, "append", table, key, bucketCountOf(df.sparkSession, table))

  /** The bucket count a [[writeBucketed]] table was written with, read
    * from the catalog — append paths derive it from the table itself
    * instead of trusting a caller-passed value, so a bucket-count
    * mismatch (which would silently break bucket-wise co-location for
    * every later join) is impossible by construction, the parameter-
    * sidecar principle applied to the physical layout.
    */
  def bucketCountOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalArgumentException(
        s"table '$table' has no bucket spec — not written by writeBucketed"))

  /** Write a SMALL (dimension-sized by contract) managed parquet table
    * un-bucketed — the sidecar half of a pay-once index layout (e.g.
    * the IVF centroid table next to its cluster-bucketed corpus). Same
    * drop + orphan-location-delete idempotence and the same
    * single-writer-per-table contract as [[writeBucketed]].
    */
  def writeSmall(df: DataFrame, table: String): Unit = {
    dropManaged(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Compact a [[writeBucketed]] table whose buckets have accumulated
    * small files from repeated [[appendBucketed]] batches (each append
    * adds files per bucket; a long-lived ingest log degrades scans and
    * the merge-join's sort-elision, which needs files-per-bucket = 1).
    *
    * EXCHANGE-FREE by the bucketed layout: the scan of a bucketed table
    * yields one partition per bucket (all of a bucket's files merged),
    * so each write task holds exactly one whole bucket and emits exactly
    * one file — a per-bucket local rewrite, no shuffle (the writer's
    * clustering is elided: PartitioningSpec asserts the exchange-free
    * plan, AppendMaintenanceSpec content identity). The rewrite goes to
    * a staging table first, then swaps via catalog rename — never a
    * read-from-self overwrite. Same single-writer contract.
    */
  def compactBucketed(spark: SparkSession, table: String, key: String): Unit =
    compactBucketedWith(spark, table, key, identity)

  /** [[compactBucketed]] with a row transform folded into the rewrite —
    * the tombstone-purge hook ([[Tombstones.purge]] passes the
    * anti-join): the transform must be row-filtering/narrow (no
    * re-keying — the output is written bucketed on the SAME key) so the
    * per-bucket locality claim still holds; a broadcast anti-join
    * preserves the bucketed scan's one-partition-per-bucket shape, a
    * shuffling transform would merely cost the writer a clustering
    * exchange, never correctness.
    */
  def compactBucketedWith(spark: SparkSession, table: String, key: String,
                          transform: DataFrame => DataFrame): Unit =
    compactBucketedStaged(spark, table, key) { (tmp, n) =>
      writeBucketed(transform(spark.table(table)), tmp, key, n)
    }

  /** The bucketed form of [[publishStaged]], shared by
    * [[compactBucketedWith]] and [[Snapshots.compactStampedRange]]:
    * force the bucketed scan, let `writeStaging` build the replacement
    * table under the staging name, then publish. `writeStaging(tmp, n)`
    * receives the staging name and the table's bucket count and must
    * leave `tmp` a bucketed table on the same (key, n).
    */
  def compactBucketedStaged(spark: SparkSession, table: String, key: String)
                           (writeStaging: (String, Int) => Unit): Unit =
    publishStaged(spark, table, "compactBucketed") { tmp =>
      val n = bucketCountOf(spark, table)
      // force the bucketed scan: the auto heuristic falls back to a plain
      // size-split file read when the plan has no join/agg to exploit the
      // bucketing — which would hand the writer mixed-bucket partitions
      // and re-fragment the output (task count files, not bucket count)
      val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prev = spark.conf.get(conf)
      spark.conf.set(conf, "false")
      try writeStaging(tmp, n)
      finally spark.conf.set(conf, prev)
      true
    }

  /** The one staged publish of a rewritten table — never a
    * read-from-self overwrite. `stage(tmp)` writes the replacement under
    * the staging name `<table>__compacting` and returns true, or returns
    * false to leave `table` as it is. `op` names the caller in the
    * leftover-backup failure.
    */
  def publishStaged(spark: SparkSession, table: String, op: String)
                   (stage: String => Boolean): Unit = {
    val tmp = s"${table}__compacting"
    val backup = s"${table}__precompact"
    // a leftover backup means a previous compaction crashed mid-publish:
    // both the original (backup) and compacted (tmp) copies exist but
    // the live name may be unbound — surface it loudly rather than
    // silently compacting whatever now answers to the name. It runs
    // before `stage`, so a caller's missing-table early return cannot
    // skip past the evidence
    require(!spark.catalog.tableExists(backup),
      s"$op: leftover '$backup' from an interrupted " +
        s"compaction — recover (rename it or '$tmp' back to '$table') " +
        "before compacting again")
    if (!stage(tmp)) return
    // publish keeps a full copy live under a deterministic name at every
    // instant: original parks as backup, compacted copy takes the name,
    // backup drops LAST. A crash between the renames leaves the table
    // name unbound but BOTH copies recoverable (and the require above
    // catches it on the next attempt) — the remaining window plain
    // parquet cannot close without a transactional catalog, documented
    // honestly like the sinks' two-writes window.
    Seq(table -> backup, tmp -> table).foreach { case (from, to) =>
      spark.sql(s"ALTER TABLE `$from` RENAME TO `$to`")
    }
    spark.sql(s"DROP TABLE `$backup`")
  }

  /** Join two same-key, same-bucket-count tables written by
    * [[writeBucketed]]: a plain equi-join — bucketing makes Catalyst
    * plan it exchange-free on both sides.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String, joinType: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key), joinType)
}
