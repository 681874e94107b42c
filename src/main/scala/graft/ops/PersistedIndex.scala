package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted-index LIFECYCLE, written once for every index family —
  * IVF, LSH, PQ, IVF-PQ, residual IVF-PQ, BM25, MinHash and decontam.
  * The paper's load stage writes an entity and its child tables through
  * one generic routine; this is that routine for the index layouts. A
  * family contributes its training math and this descriptor:
  *
  *   - `idCol`: the row id every table carries (`nn_id` or `doc`) —
  *     the tombstone key;
  *   - `tables`: the batch-stamped bucketed data tables as (suffix,
  *     bucket key) pairs, suffix "" being the index root itself;
  *   - `sidecars`: the un-stamped tables written at ingest (frozen
  *     trained state, parameters, stats) as (suffix, bucket key —
  *     None for a small un-bucketed table);
  *   - `prepare`: the batch relation the append guards run on;
  *   - `load`: the sidecar loader (the frozen state appends code
  *     against); over what it loaded, `untrained` (an empty quantizer)
  *     and `dim` (the length every prepared `cv` vector must have);
  *     `trainedOn` — the table whose emptiness marks an index built
  *     from an empty first delivery (the sink heal);
  *   - `encode(rows, state)`: the rows of each data table, in `tables`
  *     order;
  *   - `afterAppend`/`afterDelete`: the family's sidecar refresh (BM25
  *     keeps its corpus stats exact; every other family has none).
  *
  * Publish order — the crash-window contract [[Snapshots]] and
  * [[Tombstones]] document, identical for every family:
  *   - ingest: clear the tombstones, reset the batch history, write each
  *     data table stamped batch 0 in `tables` order, write the sidecars
  *     in `sidecars` order, record batch 0;
  *   - append: guards (empty-quantizer rejection, dimension check,
  *     tombstone check), encode, [[Snapshots.nextBatchId]] over the data
  *     tables, append each data table, `afterAppend`, record the batch
  *     LAST (commit-last: a crash before it leaves orphans every asOf
  *     read excludes);
  *   - delete: tombstone add, then `afterDelete`;
  *   - compact: purge every data table, then clear the tombstones;
  *   - sink: the commit-log guard around ingest-or-append.
  */
final case class PersistedIndex[S](
    family: String,
    idCol: String,
    tables: Seq[(String, String)],
    sidecars: Seq[(String, Option[String])],
    prepare: (DataFrame, String, String) => DataFrame,
    load: (SparkSession, String) => S,
    encode: (DataFrame, S) => Seq[DataFrame],
    untrained: S => Boolean = (_: Any) => false,
    dim: S => Option[Int] = (_: Any) => None,
    trainedOn: Option[String] = None,
    afterAppend: (SparkSession, String, Seq[DataFrame]) => Unit =
      (_: SparkSession, _: String, _: Seq[DataFrame]) => (),
    afterDelete: (SparkSession, String) => Unit =
      (_: SparkSession, _: String) => ()) {

  /** Every catalog table the lifecycle verbs create under `root`: the
    * data tables, the sidecars, the batch history, the tombstone set and
    * the sink's commit log.
    */
  def catalog(root: String): Seq[String] =
    (tables.map(_._1) ++ sidecars.map(_._1)).map(root + _) ++
      Seq(Snapshots.batchesTable(root), Tombstones.tableOf(root),
        PersistedIndex.commitsOf(root))

  /** The live rows of data table `root + suffix` as of `asOf` (None is
    * the current view): stamp dropped, tombstoned ids excluded — the
    * read every probe and drift monitor starts from.
    */
  def live(spark: SparkSession, root: String, suffix: String = "",
           asOf: Option[Long] = None): DataFrame =
    Tombstones.filterByParent(spark, root,
      Snapshots.readAsOf(spark, root + suffix, root, asOf), idCol)

  /** (Re)build the index from encoded `data` (one relation per data
    * table) and `sidecarRows` (one per sidecar): a rebuild starts with
    * no deletes — a stale tombstone set would silently hide re-ingested
    * rows — and a fresh snapshot timeline (this IS batch 0). Same
    * single-writer-per-table contract as [[Bucketing.writeBucketed]].
    */
  def ingest(spark: SparkSession, root: String, nBuckets: Int,
             data: Seq[DataFrame], sidecarRows: Seq[DataFrame]): Unit = {
    Tombstones.clear(spark, root)
    Snapshots.reset(spark, root)
    tables.zip(data).foreach { case ((sfx, key), df) =>
      Bucketing.writeBucketed(Snapshots.stamp(df, 0L), root + sfx, key, nBuckets)
    }
    sidecars.zip(sidecarRows).foreach {
      case ((sfx, None), df) => Bucketing.writeSmall(df, root + sfx)
      case ((sfx, Some(key)), df) =>
        Bucketing.writeBucketed(df, root + sfx, key, nBuckets)
    }
    Snapshots.record(spark, root, 0L)
  }

  /** Append `batch` (columns `batchIdCol`, `valCol`) as the next batch:
    * coded against the FROZEN sidecars, batch-sized work, bucket counts
    * read from the catalog. The batch is untrusted streaming input, so
    * the guards fail loudly: real rows into an index whose quantizer
    * trained on an empty corpus (nothing to code against); a vector of
    * the wrong dimension (`graft_dot` would score it on a silently
    * truncated dot); an id that is tombstoned (its rows would be
    * probe-invisible — the [[Tombstones]] contract). Appending nothing
    * to an untrained index is a no-op. Batch ids must be distinct from
    * live index ids.
    */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             batchIdCol: String, valCol: String): Unit = {
    val st = load(spark, root)
    val rows = prepare(batch, batchIdCol, valCol)
    if (untrained(st))
      require(rows.limit(1).count() == 0L,
        s"append$family: index '$root' has an empty quantizer sidecar — an " +
          s"empty-corpus index defines no quantizer; rebuild with ingest$family")
    else {
      dim(st).foreach { d =>
        require(rows.where(size(col("cv")) =!= lit(d)).limit(1).count() == 0L,
          s"append$family: index '$root' codes $d-dim vectors; batch contains " +
            s"a different length — rebuild with ingest$family or fix the batch")
      }
      Tombstones.requireNotTombstoned(spark, root, rows, idCol)
      val data = encode(rows, st)
      val b = Snapshots.nextBatchId(spark, root, tables.map(root + _._1))
      tables.zip(data).foreach { case ((sfx, key), df) =>
        Bucketing.appendBucketed(Snapshots.stamp(df, b), root + sfx, key)
      }
      afterAppend(spark, root, data)
      Snapshots.record(spark, root, b)
    }
  }

  /** Logically delete `ids` (column `idCol`): probes exclude them at
    * once, [[compact]] drops them physically. Trained sidecars stay
    * frozen — the append contract's mirror.
    */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    Tombstones.add(spark, root, ids, idCol)
    afterDelete(spark, root)
  }

  /** Physically drop tombstoned rows from every data table (per-bucket
    * local rewrites) and clear the tombstone set.
    */
  def compact(spark: SparkSession, root: String): Unit =
    Tombstones.purge(spark, root,
      tables.map { case (sfx, key) => (root + sfx) -> key }, idCol)

  /** Exactly-once `foreachBatch` maintenance: the first delivery builds
    * the index (`ingest` — trained state freezes there), later ones
    * [[append]], and a RE-delivered batch id is a commit-log no-op (a
    * doubled batch would duplicate rows and shift every probe over
    * them). Streams commonly deliver an EMPTY batch 0; an index trained
    * on it (its `trainedOn` table empty) re-ingests on the first
    * non-empty delivery — an empty quantizer has coded nothing, so
    * nothing is invalidated.
    */
  def sink(root: String, batchIdCol: String, valCol: String)
          (ingest: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      graft.streaming.ExactlyOnce.once(spark, PersistedIndex.commitsOf(root),
          batchId) {
        if (!spark.catalog.tableExists(root) ||
            (trainedOn.exists(t => spark.table(root + t).limit(1).count() == 0L)
              && batch.limit(1).count() > 0L)) ingest(batch)
        else append(spark, root, batch, batchIdCol, valCol)
      }
      ()
    }
}

object PersistedIndex {

  /** The sink's commit log ([[graft.streaming.ExactlyOnce]]). */
  def commitsOf(root: String): String = s"${root}_commits"

  /** `prepare` for the text families: `(doc, text)`. */
  def textRows(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    batch.select(col(idCol).as("doc"), col(textCol).as("text"))
}
