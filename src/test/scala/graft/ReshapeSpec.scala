package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Load, Profile, Reshape}

/** Pivot, salted join, merge/upsert, and skew profiling. */
class ReshapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keySkew ranks heavy keys with exact shares, ties by key") {
    val df = (Seq.fill(6)(10L) ++ Seq.fill(3)(20L) ++ Seq.fill(3)(15L))
      .toDF("k")
    val out = Profile.keySkew(df, "k", topN = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((10L, 6L, 0.5), (15L, 3L, 0.25))) // 15 beats 20 on the tie
  }

  test("keySkew top-N is TakeOrderedAndProject, not a global sort") {
    // more keys than topN, or the optimizer proves the limit redundant
    // (maxRows <= topN) and elides the sort entirely
    val df = (1L to 40L).map(i => i % 10).toDF("k")
    val plan = Profile.keySkew(df, "k", topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("pivotCounts fills absent combinations with 0 and keeps one agg pass") {
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "b")).toDF("k", "v")
    val out = Reshape.pivotCounts(df, "k", "v", Seq("a", "b", "c")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(1L -> ((2L, 1L, 0L)), 2L -> ((0L, 1L, 0L))))
  }

  test("saltedJoin returns exactly the plain join's rows") {
    val left = Seq((1L, "x"), (1L, "y"), (2L, "z"), (3L, "w")).toDF("lk", "lv")
    val right = Seq((1L, 10.0), (2L, 20.0)).toDF("rk", "rv")
    val salted = Reshape.saltedJoin(left, right, "lk", "rk", nSalts = 4)
      .select(col("lk"), col("lv"), col("rv")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
    val plain = left.join(right, col("lk") === col("rk"))
      .select(col("lk"), col("lv"), col("rv")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("saltedJoin outer variant keeps unmatched left rows once") {
    val left = Seq((1L, "x"), (9L, "n")).toDF("lk", "lv")
    val right = Seq((1L, 10.0)).toDF("rk", "rv")
    val out = Reshape.saltedJoin(left, right, "lk", "rk", nSalts = 4, joinType = "left")
      .select(col("lk"), col("rv")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(out == Set((1L, Some(10.0)), (9L, None)))
  }

  test("topNPerGroup equals the single-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 200L).map(i => (i % 7, i, (i * 13 % 50).toDouble))
      .toDF("g", "id", "score")
    val salted = Reshape.topNPerGroup(df, Seq("g"), "score", "id", n = 4)
      .select("g", "id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
    val plain = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .select("g", "id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(salted == plain && salted.size == 28)
    // the shared helper over every caller's input shape: 1, 3 or 16
    // salts; string tie ids salted by their hash; an ascending order
    // salted by a raw long (the sketch's bottom-k); ties in the order
    // column (five score values); a group with fewer than n rows
    val mixed = ((1L to 200L).map(i => (i % 7, f"id$i%03d", (i % 5).toDouble, i * 7919L)) :+
      ((99L, "solo", 1.0, 0L))).toDF("g", "id", "score", "h")
    for (nSalts <- Seq(1, 3, 16); asc <- Seq(false, true)) {
      val order = Seq(if (asc) col("score").asc else col("score").desc, col("id").asc)
      val salt = if (asc) col("h") else hash(col("id"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.select("g", "id", "rk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val got = rows(Reshape.saltedTopN(mixed, Seq(col("g")), order, salt, lit(4), nSalts, "rk"))
      val want = rows(mixed.withColumn("rk",
        row_number().over(Window.partitionBy(col("g")).orderBy(order: _*))).filter(col("rk") <= 4))
      assert(got == want && got.size == 29, s"nSalts=$nSalts asc=$asc")
    }
  }

  test("guards: colliding payload names, zero salts, empty pivot values all refuse") {
    val df = Seq((1L, "x")).toDF("k", "v")
    val r = Seq((1L, 1L, 2.0)).toDF("k", "t", "p")
    intercept[IllegalArgumentException] {
      graft.ops.AsOfJoin.asOf(df.withColumn("t", lit(1L)), r, "k", "t", Seq("p" -> "v"))
    }
    intercept[IllegalArgumentException] {
      Reshape.saltedJoin(df, df, "k", "k", nSalts = 0)
    }
    intercept[IllegalArgumentException] {
      Reshape.pivotCounts(df, "k", "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.bucketed(df.withColumn("t", lit(1L)), r, "t", "t", "t", 0L)
    }
    intercept[IllegalArgumentException] {
      graft.llm.TextAnalysis.hashSample(Seq((1L, "a")).toDF("id", "text"), "text", 101)
    }
  }

  test("merge: updates replace, inserts append, untouched rows survive") {
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "bal")
    val updates = Seq((2L, "b", 99.0), (5L, "new", 1.0)).toDF("k", "name", "bal")
    val out = Load.merge(existing, updates, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "a", 10.0), (2L, "b", 99.0), (5L, "new", 1.0)))
  }
}
