package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** Wide-table reshaping: pivot and salted joins.
  *
  * Both exist to keep well-known scale hazards out of user code: pivot
  * without an explicit value list makes Spark run a separate
  * distinct-scan job over the pivot column (a full extra pass at
  * 100 TB), and a skewed equi-join funnels a hot key's rows through one
  * reducer.
  */
object Reshape {

  /** Pivot `pivotCol` into one count column per value in `values`.
    * The value list is REQUIRED: an explicit list keeps the plan to one
    * aggregation pass (map-side partial agg included); omitting it would
    * trigger Spark's hidden distinct-values job first. Missing
    * (group, value) combinations surface as 0, not null, matching the
    * SQL `count(*) FILTER (...)` formulation.
    */
  def pivotCounts(df: DataFrame, groupCol: String, pivotCol: String,
                  values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "explicit pivot values required (scale: avoids a distinct-scan job)")
    val pivoted = df.groupBy(col(groupCol))
      .pivot(pivotCol, values)
      .agg(count(lit(1)))
    values.foldLeft(pivoted)((d, v) =>
      d.withColumn(v, coalesce(col(s"`$v`"), lit(0L))))
  }

  /** Per-group top-N rows by `orderCol` descending (ties by `tieCol`
    * ascending), ranked in `rk` (1-based) — [[saltedTopN]] salted on
    * `hash(tieCol)` over `nSalts` slices.
    */
  def topNPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                   tieCol: String, n: Int, nSalts: Int = 16): DataFrame =
    saltedTopN(df, groupCols.map(col), Seq(col(orderCol).desc, col(tieCol).asc),
      hash(col(tieCol)), lit(n), nSalts, "rk")

  /** The skew-safe per-group top-N every ranking operator runs: the rows
    * whose `rankCol` — `row_number` over `groups` by `order` — is at
    * most `n` (a literal, or a per-row column such as a quota).
    *
    * Stage 1 takes the local top-N inside each (groups, `pmod(salt,
    * nSalts)`) slice, so no task ever sorts a whole hot group; stage 2
    * ranks the ≤ nSalts·N survivors per group in one global window. A
    * single `Window.partitionBy(groups)` would funnel every row of the
    * biggest group through one task. The salting is INVISIBLE in the
    * output: the global top-N of a union of per-slice top-Ns is the
    * group's top-N, so `order` must be total (end it in a unique tie
    * column) and any salt gives the same rows. `nSalts <= 1` means the
    * caller knows its groups are small and skips stage 1. The salt is a
    * well-spread number — a hash, never a raw string id: `pmod` over a
    * string is null and would collapse every row into one slice — still
    * correct, but the skew it exists to prevent (the partition
    * balancing REPOSE applies to distributed top-k).
    *
    * Callers, each with its own salt key and count: [[topNPerGroup]];
    * `Similarity.topKMerge` (`hash(nn_id)`, per-query auto or explicit
    * count); `Retrieval.saltedTopK` (`hash(doc)`, 8; 1 for fused
    * lists); `Sketch.bottomK` (the raw 60-bit `h`, 8; 1 on merge);
    * `Corpus.domainCap` (`hash(id)`, 16) and `Corpus.temperatureSample`
    * (`hash(id)`, 16, per-domain quota as `n`).
    */
  private[graft] def saltedTopN(df: DataFrame, groups: Seq[Column], order: Seq[Column],
                                salt: Column, n: Column, nSalts: Int,
                                rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(d: DataFrame, part: Seq[Column]): DataFrame =
      d.withColumn(rankCol, row_number().over(Window.partitionBy(part: _*).orderBy(order: _*)))
        .filter(col(rankCol) <= n)
    val partial =
      if (nSalts <= 1) df else ranked(df, groups :+ pmod(salt, lit(nSalts))).drop(rankCol)
    ranked(partial, groups)
  }

  /** Skew-defeating salted equi-join: the LEFT side gets a
    * deterministic salt in [0, nSalts) from a hash of its key + row
    * content, the RIGHT side is replicated once per salt, and the join
    * runs on (key, salt) — a hot left key's rows spread over nSalts
    * reducers instead of one. Results are EXACTLY the plain join's
    * (each left row meets each matching right row once, at the left
    * row's own salt) — proven by the oracle query, whose SQL is the
    * unsalted join.
    *
    * Cost: right side is shuffled nSalts times over — use for
    * skewed-fact ⋈ modest-dimension joins (the classic case), not for
    * two huge sides. AQE's runtime skew splitting handles the
    * in-between cases; this is the explicit tool for keys so hot a
    * single AQE split still won't fit.
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String, nSalts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(nSalts > 0, "nSalts must be positive")
    // right/full outer would null-extend each unmatched REPLICATED right
    // row — nSalts spurious output rows per unmatched right key. Only
    // join types where unmatched right copies silently drop are sound.
    val ok = Set("inner", "left", "left_outer", "leftouter", "semi",
      "left_semi", "leftsemi", "anti", "left_anti", "leftanti")
    require(ok.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin supports inner/left/semi/anti join types, got '$joinType' " +
        "(right/full would duplicate unmatched right rows once per salt)")
    val l = left.withColumn("_salt",
      pmod(hash(left.columns.map(col).toSeq: _*), lit(nSalts)))
    val r = right.withColumn("_salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("_salt") === r("_salt"), joinType)
      .drop(l("_salt")).drop(r("_salt"))
  }
}
