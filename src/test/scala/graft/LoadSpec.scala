package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{EtlLeaf, EtlObj}
import graft.ops.{Bucketing, Load}

/** S8/S9: relational load split + parent-then-child ordering + the
  * fixed-width flat-file sink (reference: src/main/etl.js:758-829).
  */
class LoadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("splitRelated separates @-scalars from related child tables") {
    val df = Seq((1L, "Isaac")).toDF("@ID", "@name")
      .withColumn("belongings", array(
        struct(lit("Isaac").as("minorID"), lit("Isaac").as("majorID"), lit(0).as("rank"))))
    val (parent, children) = Load.splitRelated(df)
    assert(parent.columns.toSeq == Seq("ID", "name"))
    assert(children.keySet == Set("belongings"))
    assert(children("belongings").columns.toSeq == Seq("minorID", "majorID", "rank"))
    assert(children("belongings").count() == 1)
  }

  test("writePartitioned: reading back with a filter prunes partitions at plan time") {
    val dir = Files.createTempDirectory(Paths.get("target"), "part").toString
    val df = Seq((1L, "click", 1.0), (2L, "view", 2.0), (3L, "click", 3.0))
      .toDF("event_id", "event_type", "value")
    Load.writePartitioned(df, dir, Seq("event_type"))
    val back = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(event_type"),
      s"partition filter must prune at the scan:\n${plan.take(800)}")
    assert(back.count() == 2)
  }

  test("writeSorted: output files cover disjoint key ranges (min/max skipping works)") {
    val dir = Files.createTempDirectory(Paths.get("target"), "sorted").toString
    val df = (1L to 400L).map(i => (i, s"row$i")).toDF("k", "v")
      .repartition(8) // scramble first so the range shuffle has work to do
    Load.writeSorted(df, dir, Seq("k"), nFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    // per-file [min,max] of the sort key must be pairwise disjoint —
    // that disjointness IS the data-skipping property parquet row-group
    // stats give the reader
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: ${ranges.toSeq}")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == 400)
  }

  test("writeBucketed: joining two co-bucketed tables needs no shuffle") {
    val a = (1L to 100L).map(i => (i, s"a$i")).toDF("k", "av")
    val b = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "bv")
    Bucketing.writeBucketed(a, "bkt_a", "k", nBuckets = 4)
    Bucketing.writeBucketed(b, "bkt_b", "k", nBuckets = 4)
    // force the sort-merge path (at real fact-table sizes broadcast is
    // off the table anyway) so the bucketed layout is what's under test
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n${plan.take(1200)}")
      assert(plan.contains("Bucketed: true"), s"scan must be bucketed:\n${plan.take(1200)}")
      assert(joined.count() == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("loadOrdered writes parent before children") {
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val p = Seq((1)).toDF("a")
    Load.loadOrdered("parent" -> p, Seq("c1" -> p, "c2" -> p),
      (name, _) => order += name)
    assert(order.toList == List("parent", "c1", "c2"))
  }

  test("fixed-width sink writes golden lines to text files") {
    val dir = Files.createTempDirectory(Paths.get("target"), "fw").toString + "/out"
    val df = Seq(("42", "AB")).toDF("n", "s")
    Load.writeFixedWidth(df, EtlObj(Seq(
      "n" -> EtlLeaf("Number", Some(6)), "s" -> EtlLeaf("String", Some(4)))), dir)
    val lines = spark.read.text(dir).collect().map(_.getString(0)).toSeq
    assert(lines == Seq("000042AB  "))
  }

  test("writeJdbc + loadOrdered satisfy a real FK constraint (embedded Derby)") {
    // the parent-then-child ordering is not a convention here — the
    // database REJECTS the wrong order. Tables are created with a
    // REFERENCES constraint via raw JDBC, then loaded through the same
    // writeJdbc the production path uses.
    val url = s"jdbc:derby:memory:fk${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE parent (id BIGINT PRIMARY KEY, name VARCHAR(32))")
      st.execute("CREATE TABLE child (id BIGINT PRIMARY KEY, pid BIGINT REFERENCES parent(id))")
      st.close()
    } finally conn.close()
    val parent = Seq((1L, "Terah"), (2L, "Abraham")).toDF("id", "name")
    val child = Seq((10L, 1L), (11L, 2L)).toDF("id", "pid")
    // child-first violates the FK and must raise
    intercept[Exception] { Load.writeJdbc(child, url, "child") }
    // parent-first loads cleanly through loadOrdered
    Load.loadOrdered("parent" -> parent, Seq("child" -> child),
      (name, df) => Load.writeJdbc(df, url, name))
    val back = graft.sources.Sources.readJdbc(spark, url, "child")
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((10L, 1L), (11L, 2L)))
  }

  test("jdbc roundtrip preserves values, nulls, and types") {
    val url = s"jdbc:derby:memory:rt${System.nanoTime()};create=true"
    val df = Seq((1L, Some("a"), Some(1.5)), (2L, None, None))
      .toDF("k", "s", "d")
    Load.writeJdbc(df, url, "t")
    val back = graft.sources.Sources.readJdbc(spark, url, "t").orderBy("k").collect()
    assert(back.map(r => (r.getLong(0), Option(r.getString(1)),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq ==
      Seq((1L, Some("a"), Some(1.5)), (2L, None, None)))
  }

  test("readJdbcPartitioned splits the scan into range-predicated partitions") {
    val url = s"jdbc:derby:memory:pt${System.nanoTime()};create=true"
    val df = (1L to 90L).map(i => (i, s"v$i")).toDF("k", "v")
    Load.writeJdbc(df, url, "t")
    val back = graft.sources.Sources.readJdbcPartitioned(spark, url, "t",
      "k", lower = 1L, upper = 91L, numParts = 3)
    assert(back.rdd.getNumPartitions == 3)
    assert(back.count() == 90) // strides must cover the full range, no gaps
    assert(back.agg(min(col("k")), max(col("k"))).collect().head
      .toSeq == Seq(1L, 90L))
  }

  test("filterExisting is a left anti-join on the key") {
    val incoming = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val existing = Seq((2L)).toDF("k")
    val out = Load.filterExisting(incoming, existing, "k")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  private def cdc(base: Seq[(Long, String)],
                  changes: Seq[(Long, Long, String, String)]): Map[Long, String] =
    Load.applyChangeLog(base.toDF("k", "v"),
        changes.toDF("k", "seq", "op", "v"), "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("applyChangeLog: latest-seq wins, tombstones delete, upsert-after-delete reinserts") {
    val base = Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    val out = cdc(base, Seq(
      (1L, 1L, "U", "a1"), (1L, 2L, "U", "a2"),            // latest wins
      (2L, 1L, "U", "b1"), (2L, 2L, "D", null),            // delete wins
      (3L, 1L, "D", null), (3L, 2L, "U", "c2"),            // reinsert after delete
      (5L, 1L, "U", "e1")))                                // brand-new key
    assert(out === Map(1L -> "a2", 3L -> "c2", 4L -> "d", 5L -> "e1"))
  }

  test("applyChangeLog: empty change log is identity; delete of an absent key is a no-op") {
    val base = Seq(1L -> "a", 2L -> "b")
    assert(cdc(base, Seq.empty) === Map(1L -> "a", 2L -> "b"))
    assert(cdc(base, Seq((9L, 1L, "D", null))) === Map(1L -> "a", 2L -> "b"))
  }

  test("applyChangeLog equals replaying the log batch-by-batch in seq order") {
    // associativity with merge-per-batch: applying the whole log at once
    // must equal folding each seq's slice through applyChangeLog
    val base = Seq(1L -> "a", 2L -> "b", 3L -> "c")
    val log = Seq(
      (1L, 1L, "U", "a1"), (2L, 1L, "D", null: String), (4L, 1L, "U", "d1"),
      (1L, 2L, "D", null: String), (2L, 2L, "U", "b2"),
      (4L, 3L, "U", "d3"), (1L, 3L, "U", "a3"))
    val oneShot = cdc(base, log)
    val folded = log.groupBy(_._2).toSeq.sortBy(_._1).foldLeft(base.toDF("k", "v")) {
      case (acc, (_, batch)) =>
        Load.applyChangeLog(acc, batch.toDF("k", "seq", "op", "v"), "k", "seq", "op")
    }.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(oneShot === folded)
  }

  test("applyChangeLog plan: no Window/global sort — the log reduces via partial aggregate") {
    val base = Seq(1L -> "a").toDF("k", "v")
    val changes = Seq((1L, 1L, "U", "a1")).toDF("k", "seq", "op", "v")
    val plan = Load.applyChangeLog(base, changes, "k", "seq", "op")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(600))
    assert(plan.contains("partial_max_by") || plan.contains("HashAggregate"),
      s"expected a partial aggregate reduction: ${plan.take(600)}")
  }

  test("scd2History: versions on change only, null-safe transitions, contiguous intervals") {
    val rows = Seq(
      (1L, 1L, Some("a")),  // opens v1
      (1L, 2L, Some("a")),  // unchanged — collapses
      (1L, 3L, Some("b")),  // opens v2
      (1L, 4L, None),       // value→null OPENS a version (null-safe)
      (1L, 5L, None),       // null→null collapses
      (1L, 6L, Some("a")),  // null→value opens v4
      (2L, 7L, Some("x")))  // second key, single current version
      .toDF("k", "t", "v")
    val got = Load.scd2History(rows, "k", "t", Seq("v")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    assert(got === Set(
      (1L, Some("a"), 1L, Some(3L), false),
      (1L, Some("b"), 3L, Some(4L), false),
      (1L, None,      4L, Some(6L), false),
      (1L, Some("a"), 6L, None,     true),
      (2L, Some("x"), 7L, None,     true)), got.toString)
    // exactly one current row per key; intervals tile the timeline
    val byKey = got.groupBy(_._1)
    byKey.foreach { case (k, vs) =>
      assert(vs.count(_._5) === 1, s"key $k must have one current row")
      val sorted = vs.toSeq.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4.contains(b._3), s"gap in key $k history")
        case _ =>
      }
    }
  }

  test("scd2History: duplicate (key, ts) rows collapse deterministically; null ts drops") {
    val rows = Seq(
      (1L, Some(1L), Some("z")), (1L, Some(1L), Some("a")), // same instant: min value wins
      (1L, Some(2L), Some("b")),
      (1L, Option.empty[Long], Some("ghost")))              // no position — dropped
      .toDF("k", "t", "v")
    val got = Load.scd2History(rows, "k", "t", Seq("v")).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("a", 1L), ("b", 2L)), got.toString)
  }

  test("SCD2 point-in-time lookup: boundary facts land in the NEW version (valid_from ≤ ts < valid_to)") {
    // versions for key 1: a@[10,20), b@[20,30), c@[30,∞)
    val log = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (2L, 15L, "x")).toDF("k", "t", "v")
    val hist = Load.scd2History(log, "k", "t", Seq("v"))
    // probe battery: before-first (null), exactly at first, strictly
    // inside, EXACTLY AT each boundary (the half-open contract: the new
    // version, never the closing one), exactly at the open end, after
    val facts = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 15L),
      (103L, 1L, 20L), (104L, 1L, 29L), (105L, 1L, 30L), (106L, 1L, 99L),
      (107L, 2L, 15L), (108L, 2L, 14L)).toDF("fid", "k", "t")
    val got = graft.ops.AsOfJoin.asOf(facts,
        hist.select(col("k"), col("valid_from").as("t"), col("v").as("v_asof")),
        "k", "t", Seq("v_asof" -> "v_asof"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got === Map(
      100L -> None, 101L -> Some("a"), 102L -> Some("a"),
      103L -> Some("b"), 104L -> Some("b"), 105L -> Some("c"),
      106L -> Some("c"), 107L -> Some("x"), 108L -> None), got.toString)
  }
}
