package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph
import graft.sources.Sources

/** Iterative graph analytics over the co-purchase graph (customer ->
  * part + 1e7, both directions, line quantity as weight): the weighted
  * edges are ingested into the persisted (log, degree) pair, then each
  * pass runs weighted PageRank over the ingested log and label
  * propagation, writing both results. The compositions match the engine's
  * oracle-gated ones, whose DuckDB SQL is the reference.
  */
final class GraphIterate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val log = "pb_graph_wlog"
  private val deg = "pb_graph_wdeg"
  private def out(name: String) = ctx.path("graph", "out", name)

  private def purchases(weighted: Boolean): DataFrame = {
    val o = Sources.readParquet(spark, ctx.input("orders.parquet"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Sources.readParquet(spark, ctx.input("lineitem.parquet"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val ol = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_partkey") + lit(10000000L)).cast("long").as("dst"), col("l_quantity").as("w"))
    val both = ol.select(explode(array(
      struct(col("src"), col("dst"), col("w")),
      struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("e"))
    if (weighted) both.select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    else both.select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  private def runPass(ops: mutable.Buffer[Op]): Unit = {
    Ops.timedOp(ctx, ops, "stage", "graph.pagerank") {
      Graph.pageRankWeightedIngested(spark, log, deg, iters = 5, damping = 0.85d)
        .write.mode("overwrite").parquet(out("pagerank"))
    }
    Ops.timedOp(ctx, ops, "stage", "graph.communities") {
      Graph.labelPropagation(purchases(weighted = false), "src", "dst", iters = 3)
        .write.mode("overwrite").parquet(out("communities"))
    }
  }

  def ingest(): Unit = ctx.trace.span("graph.ingest") {
    Graph.ingestWeightedEdges(purchases(weighted = true), "src", "dst", "w", log, deg,
      nBuckets = 4)
  }

  def pass(passNo: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    runPass(ops)
    ops.toSeq
  }

  // edges re-read from the ingested log (its inputs are the ETL tables)
  def rowsPerPass: Long = spark.table(log).count()

  override def oracles: Seq[String] = Seq("graph_pagerank_weighted_ingested", "graph_communities")

  def storedBytes: Long = Seq(log, deg).map(t => Ops.dataBytes(ctx.path("warehouse", t))).sum +
    Ops.dataBytes(ctx.path("graph", "out"))
  // the graph reads the orders and lineitem the ETL pass already counts
  def inputBytes: Long = 0L

  def perLayer(): Map[String, Double] = {
    val t = ctx.trace
    Ops.spanMetrics(t, "graph.ingest", Ops.selfMs(t, "graph.ingest")) ++
      Ops.spanMetrics(t, "graph.pagerank", Ops.selfMs(t, "graph.pagerank"),
        exchanges = true, skew = true) ++
      Ops.spanMetrics(t, "graph.communities", Ops.selfMs(t, "graph.communities")) +
      ("graph.pagerank.jobs" -> t.totals("graph.pagerank").jobs.toDouble /
        math.max(1, t.named("graph.pagerank").size))
  }
}
