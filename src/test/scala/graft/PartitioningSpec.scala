package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftTestConf}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity}
import graft.ops.{Bucketing, Graph, Snapshots}

/** The one partition-count rule ([[Partitioning.partsFor]]), its single
  * parse point for `spark.sql.shuffle.partitions`, the alignment counts
  * iterative operators pass, and the bucketed writers' clustering being
  * elided for input already laid out by the bucket key.
  */
class PartitioningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `df` written as parquet and read back: a narrow file scan. */
  private def scanOf(df: DataFrame): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft-pspec").resolve("t").toString
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try f finally spark.conf.set(key, prev)
  }

  /** Runs `f` with `l` registered, then drains the listener bus: the
    * marker job's start is delivered after every event `f` caused. */
  private def listening(l: SparkListener)(f: => Unit): Unit = {
    val sc = spark.sparkContext
    val drained = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "drain"))
          drained.countDown()
    }
    sc.addSparkListener(l)
    sc.addSparkListener(marker)
    try {
      f
      sc.setJobDescription("drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.removeSparkListener(l)
      sc.removeSparkListener(marker)
    }
  }

  /** Per write into `table` that `f` runs: the shuffle Exchange nodes in
    * its final (adaptive) plan. */
  private def writeExchanges(table: String)(f: => Unit): Seq[Int] = {
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    })(f)
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.toSeq.flatMap(nodes)
    plans.asScala.toSeq.sortBy(_._1).map(e => nodes(e._2))
      .filter(_.exists(n => n.nodeName == "Execute InsertIntoHadoopFsRelationCommand" &&
        n.simpleString.contains(s"/$table,")))
      .map(_.count(_.nodeName == "Exchange"))
  }

  /** Stages that wrote shuffle output while `f` ran, not counting the
    * convergence probe's (`isEmpty`, a limit, shuffles the one row it
    * finds while labels still move). */
  private def shuffleStages(f: => Unit): Int = {
    val n = new AtomicInteger(0)
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0 &&
            !e.stageInfo.name.startsWith("isEmpty")) n.incrementAndGet()
    })(f)
    n.get
  }

  private def checkpointParts(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRDD => l.rdd.getNumPartitions }

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  test("non-numeric shuffle.partitions fails loudly, naming the setting and its value") {
    val key = "spark.sql.shuffle.partitions"
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "v")
    val prev = GraftTestConf.setUnchecked(spark, key, "auto")
    try {
      Seq[(String, () => Any)](
        "checkpointKeyed" -> (() => Partitioning.checkpointKeyed(pairs, "d1")),
        "connectedComponents" -> (() => Dedup.connectedComponents(pairs)),
        "shufflePartitions" -> (() => Partitioning.shufflePartitions(spark)),
        // the auto salt count: a failed parse must not leave a pin behind
        "topK" -> (() => Similarity.topK(vecs, vecs, "id", "v", 1))
      ).foreach { case (name, call) =>
        val pinned = Partitioning.pinnedCount
        val e = intercept[IllegalArgumentException](call())
        assert(!e.isInstanceOf[NumberFormatException], s"$name: bare parse failure $e")
        assert(e.getMessage.contains(key) && e.getMessage.contains("'auto'"),
          s"$name: message must name the setting and its value: ${e.getMessage}")
        assert(e.getMessage.contains("positive integer partition count"),
          s"$name: must fail in graft's one parse, not deeper in Spark: ${e.getMessage}")
        assert(Partitioning.pinnedCount == pinned, s"$name: leaked a tracked pin")
      }
    } finally GraftTestConf.restore(spark, key, prev)
    assert(Partitioning.shufflePartitions(spark) == 2)
  }

  test("partsFor: a tiny narrow scan checkpoints to one partition; a join input is capped") {
    val tiny = scanOf((1L to 100L).toDF("k"))
    assert(Partitioning.partsFor(tiny) == 1)
    assert(checkpointParts(Partitioning.checkpointKeyed(tiny, "k")) == Seq(1))
    withConf("spark.sql.shuffle.partitions", "3") {
      // a join's estimate is the product of its inputs: far past the
      // advisory size, so the count lands on the session cap
      val rows = (1L to 20000L).map(i => (i, s"row $i"))
      val joined = scanOf(rows.toDF("k", "a")).join(scanOf(rows.toDF("k", "b")), "k")
      assert(Partitioning.partsFor(joined) == 3,
        s"estimate ${joined.queryExecution.optimizedPlan.stats.sizeInBytes}")
      assert(checkpointParts(Partitioning.checkpointKeyed(joined, "k")) == Seq(3))
    }
  }

  test("connectedComponents: edges and labels share one count; rounds add no label-side exchange") {
    // A converges in one loop round, B (a 3-path) in two: the build is
    // identical, so B - A is exactly one round's shuffles.
    val a = Seq((1L, 2L)).toDF("d1", "d2")
    val b = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    def roundShuffles(parts: Int): Int = {
      var labels: DataFrame = null
      val sa = shuffleStages(Dedup.connectedComponents(a))
      val sb = shuffleStages { labels = Dedup.connectedComponents(b) }
      assert(checkpointParts(labels) == Seq(parts))
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      sb - sa
    }
    // a 1-byte advisory size puts both relations on the cap (2 in this
    // session): per round only the neighbor-min aggregation shuffles —
    // a label or edge side keyed at another count than its partner
    // would re-exchange every round (3 shuffles)
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1") {
      assert(roundShuffles(parts = 2) == 1)
    }
    // tiny pairs key both relations at one partition, claimed as
    // hash(key, 1) so the edge join stays exchange-free; the labels then
    // re-spread once to the aggregation's shuffle parallelism (a
    // SinglePartition claim would re-exchange both edge-join sides too)
    val tiny = roundShuffles(parts = 1)
    assert(tiny >= 1 && tiny <= 2, s"one round ran $tiny shuffles")
  }

  test("bucketed writes over input already laid out by the bucket key plan no exchange") {
    val t = "graft_pspec_log"
    val deg = "graft_pspec_deg"
    dropAll(t, deg, s"${t}__compacting")
    try {
      val edges = (1L to 60L).map(i => (i % 7, i)).toDF("s", "d")
      // the log write clusters its unclustered input (one exchange); the
      // degree table aggregates the src-bucketed log and needs none
      assert(writeExchanges(deg)(Graph.ingestEdges(edges, "s", "d", t, deg, 4)) == Seq(0))
      Graph.ingestEdges(edges, "s", "d", t, deg, 4)
      assert(writeExchanges(t)(Graph.ingestEdges(edges, "s", "d", t, deg, 4)) == Seq(1),
        "control: an unclustered append must show the clustering exchange")
      // three appended batches: compaction rewrites them bucket-locally
      val staged = s"${t}__compacting"
      assert(writeExchanges(staged)(Bucketing.compactBucketed(spark, t, "src")) == Seq(0))
      // a stamped table: the merged range is one write, the batch past
      // the range one append — neither may shuffle
      dropAll(t)
      (0L to 2L).foreach { bid =>
        val rows = Snapshots.stamp(edges.select(col("s").as("src"), col("d").as("dst")), bid)
        if (bid == 0L) Bucketing.writeBucketed(rows, t, "src", 4)
        else Bucketing.appendBucketed(rows, t, "src")
      }
      assert(writeExchanges(staged)(Snapshots.compactStampedRange(spark, t, "src", 0L, 1L)) ==
        Seq(0, 0))
      assert(spark.table(t).count() == 180L)
    } finally dropAll(t, deg, s"${t}__compacting")
  }
}
