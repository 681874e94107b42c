package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{EtlObj, EtlSchema}

/** The "L" of the pipeline (S8/S9, src/main/etl.js:758-829): relational
  * load with parent-then-child ordering and a pre-insert existence filter
  * (F7, src/test/examples/family.js:71-73), plus the fixed-width flat-file
  * sink.
  *
  * The reference builds per-row `INSERT` strings (src/main/etl.js:770-790);
  * set-oriented Spark loads whole DataFrames: `df.write.mode("append")`
  * to JDBC/parquet, parent table first, then children (FK order) —
  * sequential `write` calls, each internally fully parallel.
  */
object Load {

  /** F7 load filter: skip rows already present in the target — a LEFT ANTI
    * join on the key (never a per-row existence RPC).
    */
  def filterExisting(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(col(key)), Seq(key), "left_anti")

  /** Split a badgerfish-shaped row into the parent's scalar `@`-columns and
    * its related child tables (non-`@` array-of-struct columns), matching
    * the load split at src/main/etl.js:815-827. Returns (parent, children).
    */
  def splitRelated(df: DataFrame): (DataFrame, Map[String, DataFrame]) = {
    val (attrCols, relCols) = df.columns.partition(_.startsWith("@"))
    val parent = df.select(attrCols.map(c => col(s"`$c`").as(c.substring(1))).toSeq: _*)
    val children = relCols.map { rc =>
      rc -> df.select(explode(col(rc)).as("x")).select(col("x.*"))
    }.toMap
    (parent, children)
  }

  /** Parent-then-child ordered load. `write` abstracts the sink (JDBC in
    * production, parquet/csv in the offline test environment).
    */
  def loadOrdered(parent: (String, DataFrame), children: Seq[(String, DataFrame)],
                  write: (String, DataFrame) => Unit): Unit = {
    write.tupled(parent)
    children.foreach(write.tupled)
  }

  /** Fixed-width flat-file sink (S9): schema-rendered single `value`
    * column, written as text. One shuffle-free pass.
    */
  def writeFixedWidth(df: DataFrame, schema: EtlObj, path: String): Unit =
    EtlSchema.applyFixedWidth(df, schema).write.mode("overwrite").text(path)

  /** Merge/upsert (SCD-1): rows in `updates` replace same-key rows in
    * `existing`; unmatched update rows insert; everything else is kept.
    * One LEFT ANTI join (shuffled on the key, partial-agg-free) + a
    * union — the set-oriented formulation of the reference's
    * insert-or-update row loop. Schemas must match by name
    * (`unionByName`).
    */
  def merge(existing: DataFrame, updates: DataFrame, key: String): DataFrame =
    existing.join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)

  /** CDC apply: fold an ordered change log (upserts + delete tombstones)
    * into a base snapshot — the set-oriented form of replaying a
    * database binlog / Debezium feed into the lake, and the general case
    * [[merge]]'s single-batch upsert specializes.
    *
    * `changes` carries the key, a strictly-increasing per-key sequence
    * column (binlog offset, LSN, commit ts — ties within a key are
    * rejected by contract since their order is undefined), an op column
    * (`'U'` upsert / `'D'` delete), and the payload columns. Per key
    * only the HIGHEST-sequence change matters: a partial-aggregate
    * `max_by(struct(payload), seq)` — no window, no global sort, the
    * log never materializes per-key ordering — reduces the log to one
    * row per key map-side before the single key shuffle. Then one
    * LEFT ANTI drops every touched key from the base and a union adds
    * back the keys whose final op is upsert; keys ending in `'D'` simply
    * never return. At 100 TB the log reduction is proportional to the
    * CHANGED keys, not the base — the base is touched by exactly one
    * anti join on its key.
    *
    * Column contract: `base`'s columns = key + payload; `changes` =
    * key + seq + op + payload (same names).
    */
  def applyChangeLog(base: DataFrame, changes: DataFrame, key: String,
                     seqCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == key).toSeq
    val latest = changes.groupBy(col(key))
      .agg(max_by(struct((opCol +: payload).map(col): _*), col(seqCol)).as("c"))
      .select(col(key) +: (opCol +: payload).map(c => col(s"c.$c").as(c)): _*)
    base.join(latest.select(col(key)), Seq(key), "left_anti")
      .unionByName(latest.where(col(opCol) =!= "D").drop(opCol))
  }

  /** Partition-pruned parquet sink: write with `partitionBy(cols)` so
    * downstream equality/range filters on those columns prune whole
    * directories at PLANNING time (the scan's `PartitionFilters`, zero
    * I/O for excluded partitions) — the physical layout decision that
    * matters most at 100 TB. Partition columns must be low-cardinality
    * (date, region, event_type); partitioning by a high-cardinality key
    * creates millions of tiny files.
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Range-sorted parquet sink: `repartitionByRange(n, cols)` +
    * `sortWithinPartitions(cols)` so every output file covers a DISJOINT
    * range of the sort key and row-group min/max statistics prune at
    * READ time (parquet predicate pushdown skips whole files/row-groups
    * whose [min,max] misses the filter). This is the layout for
    * range-heavy access (time-series scans, id lookups) where
    * directory partitioning is too coarse and bucketing hashes away the
    * order. One range shuffle at write time buys data-skipping on every
    * subsequent read; the range exchange samples the key distribution,
    * so skew in the sort key balances across files automatically.
    */
  def writeSorted(df: DataFrame, path: String, cols: Seq[String],
                  nFiles: Int): Unit =
    df.repartitionByRange(nFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** SCD2 history build — the warehouse twin of [[applyChangeLog]]:
    * where CDC-apply folds a change log to the LATEST state, this
    * expands it into slowly-changing-dimension type-2 VERSION rows
    * `(key, valueCols…, valid_from, valid_to, is_current)` — one row
    * per value change per key, valid_to = the next change's timestamp
    * (NULL = current). Consecutive rows with unchanged values collapse
    * into one version (the SCD2 semantic: only CHANGES open versions);
    * comparison is null-safe (`<=>`), so a value→null transition opens
    * a version and null→null does not — the oracle mirrors with
    * `IS DISTINCT FROM`.
    *
    * Determinism: duplicate (key, ts) rows collapse FIRST to the row
    * with the smallest valueCols tuple (a window over the tiny
    * (key, ts) cohort), so input multiplicity can never leak into
    * version boundaries. Rows with a null timestamp drop (no position
    * in history). Scale shape: every window partitions by key (or
    * (key, ts)) and per-key version counts are change-log-bounded —
    * window-over-history, not window-over-corpus; a pathological key
    * with millions of versions funnels its own history through one
    * task, which is inherent to ordering that key's timeline.
    *
    * @return (keyCol, valueCols…, valid_from, valid_to, is_current)
    */
  def scd2History(df: DataFrame, keyCol: String, tsCol: String,
                  valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "scd2History needs at least one value column")
    import org.apache.spark.sql.expressions.Window
    val v = struct(valueCols.map(col): _*)
    val wd = Window.partitionBy(col("__k"), col("__ts"))
      .orderBy(valueCols.map(col): _*)
    val base = df.where(col(tsCol).isNotNull)
      .select(Seq(col(keyCol).as("__k"), col(tsCol).as("__ts")) ++
        valueCols.map(col): _*)
      .withColumn("__rn", row_number().over(wd))
      .where(col("__rn") === 1)
      .select(col("__k"), col("__ts"), v.as("__v"))
    val wk = Window.partitionBy(col("__k")).orderBy(col("__ts"))
    val changes = base
      .withColumn("__idx", row_number().over(wk))
      .withColumn("__pv", lag(col("__v"), 1).over(wk))
      .where(col("__idx") === 1 || !(col("__v") <=> col("__pv")))
    changes
      .withColumn("valid_to", lead(col("__ts"), 1).over(wk))
      .select(Seq(col("__k").as(keyCol)) ++
        valueCols.map(c => col(s"__v.$c").as(c)) ++
        Seq(col("__ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current")): _*)
  }

  /** S8 RDBMS sink: append a DataFrame to a JDBC table (bind-parameter
    * writes — no hand-escaped SQL, unlike the reference's string-built
    * INSERTs at src/main/etl.js:770-790). Combine with [[loadOrdered]]
    * for parent-then-child FK ordering and [[filterExisting]] for the F7
    * pre-insert filter. Executed for real against embedded Derby: the
    * `load_jdbc_roundtrip` gate query writes parent-then-child and reads
    * both back over JDBC; LoadSpec proves the FK ordering against a
    * REFERENCES constraint (child-first raises, parent-first loads).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode("append").jdbc(url, table, props)
}
