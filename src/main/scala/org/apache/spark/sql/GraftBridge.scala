package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 wraps Columns around ColumnNode
  * and scopes the converters `private[sql]`; custom Catalyst expressions
  * still need them, so this object re-exports the two functions — the
  * conventional extension-library shim, no internals re-implemented.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** For plans that are pure NARROW chains (project/filter/generate/
    * alias) over a single file scan: the scan's size in bytes, from
    * catalog/file-listing metadata only. `None` for anything wider — a
    * shuffle upstream already redistributes the rows, and
    * local/in-memory relations have no file size. Never touches
    * `Dataset.rdd`, so nothing is materialized (with AQE, `df.rdd`
    * executes all upstream query stages at plan-build time).
    */
  def narrowScanSizeBytes(df: Dataset[Row]): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def walk(p: LogicalPlan): Option[Long] = p match {
      case Project(_, c)                    => walk(c)
      case Filter(_, c)                     => walk(c)
      case SubqueryAlias(_, c)              => walk(c)
      case Generate(_, _, _, _, _, c)       => walk(c)
      // a Union of narrow scan children is still narrow (each child's
      // partitions pass through unshuffled): sum the child scan sizes so
      // e.g. a union of two small scans still gets spread before
      // CPU-heavy hash/shingle work
      case Union(children, _, _) =>
        val sizes = children.map(walk)
        if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
      case lr: LogicalRelation              => Some(lr.relation.sizeInBytes)
      // an in-memory literal relation (fixture rows unioned onto a scan)
      // must not make the whole union opaque — its size is known exactly
      case loc: LocalRelation               => Some(loc.stats.sizeInBytes.toLong)
      case _                                => None
    }
    walk(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed)
  }

  /** The session's `spark.sql.files.maxPartitionBytes`. */
  def maxPartitionBytes(df: Dataset[Row]): Long =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .sparkSession.sessionState.conf.filesMaxPartitionBytes

  /** Catalyst's size estimate for `df` (`optimizedPlan.stats.sizeInBytes`;
    * metadata only, optimizing a plan runs no job) in units of the
    * session's `spark.sql.adaptive.advisoryPartitionSizeInBytes`, rounded
    * up.
    */
  def advisoryPartitions(df: Dataset[Row]): BigInt = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val advisory = ds.sparkSession.sessionState.conf
      .getConf(internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES).max(1L)
    (ds.queryExecution.optimizedPlan.stats.sizeInBytes + advisory - 1) / advisory
  }

  /** `df.localCheckpoint(eager = true)` whose relation reports its
    * materialized size as its statistics: the row count the eager
    * materialization counts anyway, times the output row width. The
    * plain checkpoint reports the UPSTREAM plan's estimate instead,
    * which for a join is the product of its inputs — so a relation of a
    * few thousand near-dup pairs would estimate at tens of GB. Layout
    * and lineage semantics are the plain checkpoint's (unknown
    * partitioning, lineage truncated).
    */
  def localCheckpointSized(df: Dataset[Row]): Dataset[Row] = {
    val (ds, rdd, rows) = checkpointed(df)
    val out = ds.queryExecution.analyzed.output
    val size = catalyst.plans.logical.statsEstimation.EstimationUtils.getOutputSize(out, rows)
    classic.Dataset.ofRows(ds.sparkSession, execution.LogicalRDD(out, rdd,
      catalyst.plans.physical.UnknownPartitioning(0), Nil, isStreaming = false)(
      ds.sparkSession, Some(catalyst.plans.logical.Statistics(size))))
  }

  /** The eager local checkpoint both helpers share: `df`'s rows,
    * materialized with lineage truncated, and their count. */
  private def checkpointed(df: Dataset[Row]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    rdd.localCheckpoint()
    (ds, rdd, BigInt(rdd.count()))
  }

  /** Eager local checkpoint that KEEPS the materialized plan's output
    * partitioning (and sort order) visible to Catalyst.
    *
    * `Dataset.localCheckpoint` wraps the checkpointed RDD in a
    * [[org.apache.spark.sql.execution.LogicalRDD]] whose partitioning it
    * copies from `executedPlan.outputPartitioning` — but under AQE the
    * executed plan is an `AdaptiveSparkPlanExec`, which does NOT
    * override `outputPartitioning`, so every checkpoint degrades to
    * `UnknownPartitioning` (measured: a hash-partitioned relation
    * checkpointed and re-joined on its key re-Exchanges AND re-Sorts
    * both sides). For iterative operators that join a STATIC
    * materialized relation every round (PageRank's degree-annotated
    * edges, BFS/SSSP edge lists) that is one full |E|-sized
    * exchange+sort per iteration that the materialization already paid
    * for.
    *
    * This helper re-implements the checkpoint with the partitioning
    * read from the FINAL adaptive plan (after execution), remapped
    * positionally onto the logical output attributes (the executed
    * plan's exprIds can differ; output order cannot). The claimed
    * partitioning is exactly the physical layout the rows were
    * materialized with — `map(_.copy())` is per-partition and
    * order-preserving — so downstream exchange elision is sound.
    * Anything unmappable falls back to the old behavior (unknown).
    *
    * Storage/lineage semantics are identical to
    * `df.localCheckpoint(eager = true)`: blocks at the RDD's default
    * checkpoint level, lineage truncated, recompute-on-block-loss NOT
    * possible past the checkpoint (same trade the existing call sites
    * already accepted).
    *
    * `keyedOn` names the column a keyed checkpoint was hash-partitioned
    * by: a 1-partition result then claims hash(key, 1) instead of the
    * SinglePartition Catalyst planned it as (see below).
    */
  def localCheckpointKeepPartitioning(df: Dataset[Row],
                                      keyedOn: Option[String] = None): Dataset[Row] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning, HashPartitioning, Partitioning, PartitioningCollection, SinglePartition, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val (ds, internalRdd, _) = checkpointed(df)
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val physical = qe.executedPlan
    // after execution the adaptive wrapper's executedPlan IS the final
    // plan — the one whose partitioning the materialized rows carry
    val finalPlan = physical match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val logicalOut = qe.analyzed.output
    // keyed by exprId: the partitioning/ordering expressions can hold
    // attribute INSTANCES that differ from finalPlan.output in
    // qualifier/nullability while sharing the exprId (AttributeSet
    // membership is exprId-based; case-class equality is not)
    val attrMap: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Attribute] =
      finalPlan.output.map(_.exprId).zip(logicalOut).toMap
    def remapped(p: Partitioning): Option[Partitioning] = p match {
      case h: HashPartitioning if h.references.subsetOf(finalPlan.outputSet) =>
        Some(h.copy(expressions = h.expressions.map(_.transform {
          case a: Attribute => attrMap(a.exprId)
        })).asInstanceOf[Partitioning])
      // AQE's coalesced shuffle read: hash layout + merged-bucket
      // boundaries. With identity boundaries (each output partition =
      // exactly one reducer — the common case under
      // coalescePartitions.parallelismFirst) the rows ARE plain
      // hash-partitioned, and the plain claim is the one downstream
      // EnsureRequirements can co-partition against; genuinely merged
      // boundaries keep the coalesced form (still a valid
      // HashPartitioningLike for aggregation elision)
      case c: CoalescedHashPartitioning =>
        val identity = c.partitions.size == c.from.numPartitions &&
          c.partitions.zipWithIndex.forall { case (b, i) =>
            b.startReducerIndex == i && b.endReducerIndex == i + 1 }
        if (identity) remapped(c.from)
        else remapped(c.from).map(h =>
          c.copy(from = h.asInstanceOf[HashPartitioning]))
      case pc: PartitioningCollection =>
        pc.partitionings.flatMap(remapped).headOption
      // a 1-partition layout (keyed checkpoints on tiny inputs: Catalyst
      // plans repartition-by-expr with n = 1 as SinglePartition) —
      // references nothing, satisfies every clustered distribution,
      // trivially sound to claim. For a KEYED checkpoint, hash(key, 1)
      // holds for the same rows and is the claim a join can align on:
      // EnsureRequirements never picks a SinglePartition side as the
      // layout to shuffle the other side to, and re-exchanges BOTH
      // sides of a join between two of them
      case SinglePartition =>
        val key = keyedOn.flatMap(k =>
          logicalOut.find(a => session.sessionState.conf.resolver(a.name, k)))
        Some(key.map(a => HashPartitioning(Seq(a), 1)).getOrElse(SinglePartition))
      case _ => None
    }
    val partitioning = remapped(finalPlan.outputPartitioning)
      .getOrElse(UnknownPartitioning(0))
    // ordering must remap as a PREFIX: dropping an unmappable leading
    // key and keeping later ones would claim an order the rows don't have
    val ordering: Seq[SortOrder] = finalPlan.outputOrdering
      .takeWhile(_.references.subsetOf(finalPlan.outputSet))
      .map(_.transform { case a: Attribute => attrMap(a.exprId) }
        .asInstanceOf[SortOrder])
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      LogicalRDD(logicalOut, internalRdd, partitioning, ordering,
        isStreaming = false)(session))
  }
}
