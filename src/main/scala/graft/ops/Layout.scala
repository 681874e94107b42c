package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * min/max data skipping.
  *
  * Parquet scans prune row groups and files by column min/max
  * statistics. A sort on ONE column makes only that column's ranges
  * tight; a query filtering on a second column still reads everything.
  * Interleaving the bits of two key columns into one Morton value and
  * range-partitioning + sorting on IT makes BOTH columns' per-file
  * ranges tight (each file covers a small square of the key plane, not
  * a full-width stripe) — the layout Delta/Iceberg expose as OPTIMIZE
  * ZORDER, expressed here as plain deterministic column arithmetic plus
  * `repartitionByRange`, so it works on any Spark and any sink.
  *
  * At 100 TB this is a pay-once-at-ingest transform (one range shuffle,
  * exactly what the sort-based writer costs anyway); every later scan
  * filtering on either — or both — interleaved keys skips all but
  * O(√files) of the data. LayoutSpec measures the effect directly: the
  * mean per-partition bounding-box area under Z-order is a small
  * fraction of the single-column sort's.
  *
  * Engine extension surface (no reference analogue — physical layout
  * belonged to the reference's RDBMS).
  */
object Layout {

  /** Morton value of the low `bits` of x (even bit positions) and y
    * (odd): Σ ((x>>i)&1) << 2i  +  Σ ((y>>i)&1) << (2i+1). The adds
    * write disjoint bits, so the chain is a bitwise OR Catalyst folds
    * into one codegen'd arithmetic expression — no UDF, and the exact
    * formula the DuckDB oracle can run verbatim. Inputs are masked to
    * `bits`, so out-of-range values wrap instead of colliding the
    * interleave.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    val terms =
      (0 until bits).map(i => shiftleft(shiftrightunsigned(xl, i).bitwiseAND(lit(1L)), 2 * i)) ++
      (0 until bits).map(i => shiftleft(shiftrightunsigned(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    terms.reduce(_ + _)
  }

  /** The DuckDB SQL text of [[zValue]] over column expressions `x` and
    * `y` — bit-identical by construction (same shifts, same masks).
    */
  def zValueSql(x: String, y: String, bits: Int): String = {
    // every term fully parenthesized: DuckDB gives `+` tighter binding
    // than `<<` (C precedence), so a bare `a << i + b` is a << (i + b)
    val terms =
      (0 until bits).map(i => s"(((CAST($x AS BIGINT) >> $i) & 1) << ${2 * i})") ++
      (0 until bits).map(i => s"(((CAST($y AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
    terms.mkString("(", " + ", ")")
  }

  /** Cluster `df` for two-dimensional skipping: compute the Morton
    * value of (xCol, yCol), range-partition into `nPartitions` by it,
    * and sort within partitions — so every output file covers one
    * compact Z-curve segment (a bounded square of the key plane). Write
    * the result with any sink; the `z` column is dropped.
    */
  def zorderBy(df: DataFrame, xCol: String, yCol: String, bits: Int,
               nPartitions: Int): DataFrame =
    df.withColumn("z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nPartitions, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
}
