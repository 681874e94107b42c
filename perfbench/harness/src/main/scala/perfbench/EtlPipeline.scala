package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{EtlLeaf, EtlObj, EtlSchema}
import graft.ops.{Extract, Load, Transform, Validate}
import graft.sources.Sources

/** The paper's surface as one batch pass over customer/orders/lineitem:
  * Sources read -> applySchema -> dispatch (match) -> validate/observed ->
  * extract (lookup joins) -> transform -> load (filterExisting /
  * loadOrdered / merge / writeFixedWidth).
  *
  * The stages are lazy, so an untraced pass is the four load writes. A
  * traced pass first times an action on the pipeline cut after each stage
  * (prefix differencing): a stage's cost is its cut minus the previous cut.
  */
final class EtlPipeline(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val stages = Seq("sources.read", "model.schema", "ops.match",
    "ops.validate", "ops.extract", "ops.transform")
  private val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val ordersSchema = EtlObj(Seq(
    "o_orderkey" -> EtlLeaf("number"), "o_custkey" -> EtlLeaf("number"),
    "o_orderstatus" -> EtlLeaf("string"), "o_totalprice" -> EtlLeaf("*"),
    "o_orderdate" -> EtlLeaf("date"), "o_orderpriority" -> EtlLeaf("string")))

  private val fixedSchema = EtlObj(Seq(
    "okey" -> EtlLeaf("number", Some(12)), "cust" -> EtlLeaf("String", Some(18)),
    "route" -> EtlLeaf("String", Some(9)), "odate" -> EtlLeaf("Date", Some(8)),
    "lines" -> EtlLeaf("Number", Some(3)), "valid" -> EtlLeaf("boolean", Some(1))))

  private def target = ctx.path("etl", "target_orders")
  private def out(name: String) = ctx.path("etl", "out", name)

  /** The pipeline cut after each stage, in stage order. */
  private def cuts(): Seq[(String, DataFrame)] = {
    val orders = Sources.readParquet(spark, ctx.input("orders.parquet"))
    val typed = EtlSchema.applySchema(orders, ordersSchema)
    val routed = Validate.dispatch(typed, Seq(
      Validate.Mapping("fulfilled", Seq("o_orderstatus" -> "F")),
      Validate.Mapping("open", Seq("o_orderstatus" -> "O")),
      Validate.Mapping("pending", Seq("o_orderstatus" -> "P"))))
    val valid = Validate.observed(Validate.validate(routed, Seq(
      "o_orderpriority" -> prios.map(p => Validate.EqLit(p): Validate.Clause),
      "o_totalprice" -> Seq(Validate.Pred(x => x > 0.0)))))
    val cust = Sources.readParquet(spark, ctx.input("customer.parquet"))
    val lines = Sources.readParquet(spark, ctx.input("lineitem.parquet"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("qty"))
    val extracted = Extract.extract(valid, Seq(
      "cust_name" -> Extract.Lookup(cust, "o_custkey", "c_custkey",
        Seq("c_name" -> "cust_name", "c_mktsegment" -> "segment")),
      "n_lines" -> Extract.Lookup(lines, "o_orderkey", "l_orderkey",
        Seq("n_lines" -> "n_lines", "qty" -> "qty"), unique = false,
        broadcastHint = false)))
    val shaped = Transform.applyTransform(extracted, Transform.TObj(Seq(
      "okey" -> Transform.TPath("o_orderkey"),
      "cust" -> Transform.TPath("cust_name"),
      "segment" -> Transform.TPath("segment"),
      "route" -> Transform.TPath("_mapping"),
      "odate" -> Transform.TPath("o_orderdate"),
      "price" -> Transform.TPath("o_totalprice"),
      "lines" -> Transform.TPath("n_lines"),
      "qty" -> Transform.TPath("qty"),
      "valid" -> Transform.TPath("_valid"))))
    stages.zip(Seq(orders, typed, routed, valid, extracted, shaped))
  }

  /** The load stage: four writes; returns the DataFrames it wrote. */
  private def load(shaped: DataFrame, ops: mutable.Buffer[Op], plan: Boolean): Unit = {
    val existing = spark.read.parquet(target)
    val fresh = Load.filterExisting(shaped, existing, "okey")
    val children = Sources.readParquet(spark, ctx.input("lineitem.parquet"))
      .join(fresh.select(col("okey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
    val merged = Load.merge(existing, shaped.filter(col("valid")), "okey")
    if (plan) {
      val t0 = System.nanoTime()
      Seq(fresh, children, merged).foreach(_.queryExecution.executedPlan)
      planMs += (System.nanoTime() - t0) / 1e6
    }
    Ops.timedOp(ctx, ops, "write", "ops.load") {
      Load.loadOrdered(("orders_new", fresh), Seq(("lines_new", children)),
        (name, df) => df.write.mode("overwrite").parquet(out(name)))
      merged.write.mode("overwrite").parquet(out("merged"))
      Load.writeFixedWidth(fresh.select(fixedSchema.fields.map(f => col(f._1)): _*),
        fixedSchema, out("fixed"))
    }
  }

  private val planMs = mutable.ArrayBuffer.empty[Double]
  // per traced pass: the cumulative (ms, counters) of each cut
  private val cutMs = mutable.ArrayBuffer.empty[Seq[Double]]

  /** The warehouse target as it stood before this batch: every third order
    * already loaded, with stale figures and the legacy route. */
  def ingest(): Unit = {
    val o = Sources.readParquet(spark, ctx.input("orders.parquet"))
      .filter(col("o_orderkey") % 3 === 0)
    o.select(col("o_orderkey").as("okey"), lit(null).cast("string").as("cust"),
      lit(null).cast("string").as("segment"), lit("legacy").as("route"),
      to_date(col("o_orderdate")).as("odate"), col("o_totalprice").as("price"),
      lit(0L).as("lines"), lit(0.0d).as("qty"), lit(true).as("valid"))
      .write.mode("overwrite").parquet(target)
  }

  def pass(passNo: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val c = cuts()
    if (ctx.trace.on) {
      val ms = c.map { case (stage, df) =>
        val t0 = System.nanoTime()
        ctx.trace.span(s"cut:$stage")(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e6
      }
      cutMs += ms
    }
    load(c.last._2, ops, plan = ctx.trace.on)
    ops.toSeq
  }

  def rowsPerPass: Long = Seq("orders", "customer", "lineitem")
    .map(t => spark.read.parquet(ctx.input(s"$t.parquet")).count()).sum

  def storedBytes: Long = Ops.dataBytes(target) + Ops.dataBytes(ctx.path("etl", "out"))
  def inputBytes: Long =
    Seq("orders", "customer", "lineitem").map(t => Ops.dataBytes(ctx.input(s"$t.parquet"))).sum

  def perLayer(): Map[String, Double] = {
    val t = ctx.trace
    // prefix differencing over the cut spans: stage k = cut k - cut k-1
    val stageMs = stages.indices.map { k =>
      Ops.median(cutMs.toSeq.map(ms => math.max(0.0, ms(k) - (if (k == 0) 0.0 else ms(k - 1)))))
    }
    // counters difference the same way: cut k's counters minus cut k-1's
    val cutCounters = stages.map(st => Ops.spanMetrics(t, s"cut:$st", 0.0))
    val stageMetrics = stages.indices.flatMap { k =>
      Seq("tasks", "shuffle_bytes", "cpu_ms").map { m =>
        val prev = if (k == 0) 0.0 else cutCounters(k - 1)(s"cut:${stages(k - 1)}.$m")
        s"${stages(k)}.$m" -> math.max(0.0, cutCounters(k)(s"cut:${stages(k)}.$m") - prev)
      } :+ (s"${stages(k)}.self_ms" -> stageMs(k))
    }.toMap
    stageMetrics ++ Ops.spanMetrics(t, "ops.load", Ops.selfMs(t, "ops.load")) +
      ("ops.load.plan_ms" -> Ops.median(planMs.toSeq))
  }
}
