package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Partition counts, decided in one place.
  *
  * THE RULE: a keyed relation gets
  * `partsFor(df) = clamp(ceil(sizeEstimate / advisoryPartitionSize), 1,
  * shufflePartitions)` partitions, where the size estimate is Catalyst's
  * `optimizedPlan.stats.sizeInBytes` (metadata only, no job — the same
  * kind of signal as [[GraftBridge.narrowScanSizeBytes]]), the advisory
  * size is `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the target
  * AQE coalesces shuffles toward), and the cap is the session's
  * shuffle-partition count, read only through [[shufflePartitions]]. A
  * tiny relation gets one partition instead of a fixed count of
  * near-empty tasks; a join's estimate (the product of its inputs) or an
  * unknown one lands on the cap. Every keyed checkpoint is sized this
  * way. The only explicit counts callers pass are ALIGNMENT counts: a
  * relation joined every round against one already keyed (a bucketed
  * table's catalog bucket count, or the count its partner checkpoint
  * was sized with) must share that count, or each round re-exchanges. Bucketed writes cluster at the bucket count, which is
  * part of the table's contract (see [[graft.ops.Bucketing]]).
  *
  * `spread` is the deliberate opposite decision: it GROWS a small
  * narrow-over-file-scan input (estimated scan partitions =
  * ceil(bytes / maxPartitionBytes)) to at least default parallelism
  * before CPU-heavy per-row work (shingling, rolling hashes, dot
  * products, nested-loop self-joins) — a small dimension-sized input
  * read from one parquet file arrives as ONE partition, and every
  * downstream narrow transformation would run in one task. Wider plans
  * pass through untouched (their upstream shuffle already
  * redistributed), and so do in-memory relations.
  * (Deliberately NOT `df.rdd.getNumPartitions`: with AQE on, accessing
  * `.rdd` materializes every upstream query stage at plan-build time
  * and those results are not reused by the real execution.)
  *
  * At 100 TB scans have thousands of splits, `spread` is a no-op and
  * `partsFor` sits on the cap; both estimates cost only catalog
  * metadata, no job.
  */
object Partitioning {
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    GraftBridge.narrowScanSizeBytes(df) match {
      case Some(bytes) =>
        val est = math.max(1L, (bytes + GraftBridge.maxPartitionBytes(df) - 1)
          / GraftBridge.maxPartitionBytes(df))
        if (est < target) df.repartition(target) else df
      case None => df
    }
  }

  /** For MULTI-PASS consumers (e.g. Lloyd's k-means rounds, which scan
    * their input once per round): materialize the input across passes
    * when — and only when — its scan is provably small. The signal is
    * the same catalog metadata [[spread]] uses: a narrow scan of at most
    * 1 GiB persists MEMORY_AND_DISK (each later pass reads cached blocks
    * instead of re-running scan + shuffle); a larger or non-narrow input
    * passes through and re-scans per pass — you cannot cache 100 TB,
    * and at that size the re-scan IS the algorithm's honest cost. Spark
    * MLlib's KMeans likewise insists on a cached input for its
    * iterations.
    *
    * CACHE LIFETIME IS CALLER-MANAGED: the pinned plan stays in the
    * CacheManager until session shutdown or [[unpersistPins]], because
    * the DataFrame the operator RETURNS still reads it lazily — the
    * library never sees the caller's terminal action, so it cannot
    * unpersist for you. Long-lived sessions issuing many operator calls
    * over varying inputs should call [[unpersistPins]] after each
    * returned DataFrame's terminal action (a later re-read merely
    * recomputes — lineage is kept).
    *
    * @param sizeProbe the raw input whose narrow-scan size is measurable
    *                  (pre-spread: a Repartition node hides the scan)
    * @param built     the derived plan (spread + projection) to pin
    */
  def pinForReuse(sizeProbe: DataFrame, built: DataFrame): DataFrame =
    GraftBridge.narrowScanSizeBytes(sizeProbe) match {
      // persist keeps lineage: a lost executor's blocks recompute, where
      // localCheckpoint blocks are unrecoverable mid-job
      case Some(bytes) if bytes <= (1L << 30) =>
        trackPin(built.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      case _ => built
    }

  // every plan a graft operator persists internally, so sessions can
  // release them without holding the intermediate handles themselves
  private val pins = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def trackPin(df: DataFrame): DataFrame = { pins.add(df); df }

  /** Release every plan pinned internally by graft operators
    * ([[pinForReuse]], the ANN query-side persist). Safe at any time —
    * unpersist only drops cached blocks; a plan still referenced by an
    * un-executed result recomputes from lineage. Call it after the
    * terminal action on an operator's returned DataFrame in long-lived
    * sessions, where accumulated pins (up to 1 GiB each) otherwise live
    * until session shutdown.
    */
  def unpersistPins(): Unit = {
    var df = pins.poll()
    while (df != null) { df.unpersist(blocking = false); df = pins.poll() }
  }

  /** Number of internally-pinned plans not yet released — observability
    * for session cache audits (and the unit tests).
    */
  def pinnedCount: Int = pins.size()

  /** The session's shuffle-partition count — the one place graft parses
    * that setting. A non-numeric value (`auto` is a common mis-setting
    * carried over from other engines) fails loudly here, naming the
    * setting, instead of as a bare `NumberFormatException` deep inside
    * an operator.
    */
  def shufflePartitions(spark: SparkSession): Int = {
    val v = spark.conf.get("spark.sql.shuffle.partitions")
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"spark.sql.shuffle.partitions must be a positive integer partition count, got '$v'"))
  }

  /** The partition count for keying `df`: the rule in the object doc,
    * `clamp(ceil(sizeEstimate / advisoryPartitionSize), 1,
    * shufflePartitions)`. Plan metadata only, no job.
    */
  def partsFor(df: DataFrame): Int =
    GraftBridge.advisoryPartitions(df).max(1).min(shufflePartitions(df.sparkSession)).toInt

  /** Eager lineage truncation for a relation an ITERATIVE operator
    * re-joins on `key` every round: materialize it hash-partitioned by
    * `key` (explicit count [[partsFor]], which AQE never coalesces for
    * explicit-N repartitions), sorted within partitions, through the
    * partitioning-preserving local checkpoint
    * ([[GraftBridge.localCheckpointKeepPartitioning]] — a plain
    * `localCheckpoint` degrades to `UnknownPartitioning` under AQE, so
    * every iteration re-Exchanges AND re-Sorts the static side of its
    * join; guide §2.4: operations keyed the same way should share one
    * exchange). Costs one extra exchange + sort at build; removes one
    * |relation|-sized exchange + sort from EVERY iteration.
    * Storage/recovery semantics identical to `localCheckpoint(true)`.
    *
    * `numParts` is for ALIGNMENT only: pass the count of the already
    * keyed relation this one is joined against every round (a bucketed
    * table's bucket count, or the partner checkpoint's [[partsFor]]).
    * At one partition the checkpoint claims hash(key, 1) rather than
    * SinglePartition, so two keyed partners still join exchange-free.
    *
    * SKEW EXPOSURE (guide §2.5, documented trade): the claimed layout
    * is exactly what lets the per-iteration join skip its exchange —
    * and a join with no exchange is one AQE's skew-split can never
    * rewrite (skew handling splits oversized SHUFFLE partitions at
    * runtime). On a power-law key (one hub src owning a large edge
    * share) the hub's partition is re-read as one fat task every
    * iteration. Bounds: the fat partition is paid once per iteration
    * WITHOUT re-shuffling (the unkeyed baseline re-exchanges the same
    * skewed relation AND takes the fat reduce task), correctness is
    * unaffected (GraphSpec pins a 98%-hub fixture bit-exact), and the
    * mitigation when a profiled hub dominates is the salted-join path
    * (`ops/Reshape.saltedJoin`'s technique) applied to the iteration join
    * — a deliberate non-default because salting multiplies the small
    * side every round for every caller, hub or not.
    */
  def checkpointKeyed(df: DataFrame, key: String,
                      numParts: Option[Int] = None): DataFrame =
    GraftBridge.localCheckpointKeepPartitioning(
      df.repartition(numParts.getOrElse(partsFor(df)),
          org.apache.spark.sql.functions.col(key))
        .sortWithinPartitions(key), keyedOn = Some(key))

  /** [[GraftBridge.localCheckpointKeepPartitioning]] pass-through for
    * per-round state relations: same truncation as
    * `localCheckpoint(true)`, but whatever hash layout the round's plan
    * produced stays visible to the next round's planner (one fewer
    * exchange when rounds are keyed consistently; never worse than the
    * unknown-partitioning baseline).
    */
  def checkpointKeep(df: DataFrame): DataFrame =
    GraftBridge.localCheckpointKeepPartitioning(df)
}
