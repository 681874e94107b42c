package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.llm.{Corpus, Retrieval, Similarity}
import graft.sources.Sources

/** The persisted-index lifecycle under a closed loop: one client, no think
  * time, a seeded request schedule over an IVF-PQ vector index and a BM25
  * text index that share ids (document i has embedding i).
  *
  * One cycle of the schedule is 9 requests in a seeded order: 6 reads (two
  * IVF-PQ top-k, two BM25 top-k, two context requests: rrfFuse ->
  * diversifyMmrIngested -> pack), one append and one delete (both indexes
  * each), then a closing compaction. Two reads of each kind put the median
  * read between two probes and the p90 between the two context requests.
  *
  * Checks, outside every timed span: no read ever returns an id deleted
  * before it; every IVF-PQ score must be the exact cosine of the query and
  * the returned vector (the rescore contract); at the end the run's first
  * BM25 probe is replayed and must return exactly what it returns against
  * an index freshly ingested from the same live rows. (A fresh IVF-PQ
  * index retrains its quantizers, so its top-k may legitimately differ.)
  */
final class IndexServing(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  private val ivf = "pb_ivfpq"
  private val bm = "pb_bm25"
  private val rng = new scala.util.Random(ctx.seed)
  private lazy val emb = Sources.readParquet(spark, ctx.input("embeddings.parquet"))
  private lazy val docs = Sources.readParquet(spark, ctx.input("documents.parquet"))
    .select(col("doc_id"), col("text"))
  private lazy val vectors: Map[Long, Array[Float]] = emb.select(col("vec_id"), col("embedding"))
    .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private lazy val texts: Map[Long, String] =
    docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private lazy val nAll = vectors.size
  private lazy val nIngest = nAll * 2 / 3

  // lifecycle state the client knows: live ids, deleted ids, the append pool
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deleted = mutable.HashSet.empty[Long]
  private var nextAppend = 0L
  private var queryId = 1000000L

  // every read's returned ids with the deleted set it must avoid
  private val returned = mutable.ArrayBuffer.empty[(String, Set[Long], Set[Long])]
  // every IVF-PQ (query vector, returned id, score)
  private val scored = mutable.ArrayBuffer.empty[(Array[Float], Long, Double)]
  // the first BM25 probe, replayed against a fresh index at the end
  private var replay: Option[Seq[(Long, Array[Float], String)]] = None
  private var reads = 0
  private val probePlanMs = mutable.ArrayBuffer.empty[Double]
  private val mmrPlanMs = mutable.ArrayBuffer.empty[Double]
  private val filesWritten = mutable.ArrayBuffer.empty[Double]

  private def ingestBm(t: String, rows: DataFrame): Unit =
    Retrieval.ingestBm25(rows, "doc_id", "text", t, nBuckets = 4)

  private def vecDf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vectors(i).toSeq)).toDF("vec_id", "embedding")
  private def docDf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, texts(i))).toDF("doc_id", "text")
  private def idDf(ids: Seq[Long], name: String): DataFrame = ids.toDF(name)

  /** A query near a live item: its vector plus noise, three of its words. */
  private def queries(n: Int): Seq[(Long, Array[Float], String)] = {
    val pool = live.toIndexedSeq
    (1 to n).map { _ =>
      val item = pool(rng.nextInt(pool.size))
      queryId += 1
      val v = vectors(item).map(x => (x + rng.nextGaussian() * 0.3).toFloat)
      val words = texts(item).split(" ")
      val q = (1 to 3).map(_ => words(rng.nextInt(words.length))).mkString(" ")
      (queryId, v, q)
    }
  }

  private def qVec(qs: Seq[(Long, Array[Float], String)]): DataFrame =
    qs.map(q => (q._1, q._2.toSeq)).toDF("vec_id", "embedding")
  private def qText(qs: Seq[(Long, Array[Float], String)]): DataFrame =
    qs.map(q => (q._1, q._3)).toDF("qid", "qtext")

  private def ivfProbe(ivfT: String, qs: Seq[(Long, Array[Float], String)], k: Int): DataFrame =
    Similarity.topKIvfPqIngested(spark, ivfT, qVec(qs), "vec_id", "embedding", k = k,
      nProbe = 4, nCandidates = 4 * k)
  private def bmProbe(bmT: String, qs: Seq[(Long, Array[Float], String)], k: Int): DataFrame =
    Retrieval.bm25TopKIngested(spark, bmT, qText(qs), "qid", "qtext", topK = k)

  private def timedPlan(df: DataFrame, into: mutable.Buffer[Double]): DataFrame = {
    if (ctx.trace.on) {
      val t0 = System.nanoTime(); df.queryExecution.executedPlan
      into += (System.nanoTime() - t0) / 1e6
    }
    df
  }

  /** rrfFuse -> diversifyMmrIngested -> pack, for probes over (ivfT, bmT). */
  private def context(ivfT: String, bmT: String, qs: Seq[(Long, Array[Float], String)]): Array[Row] = {
    val bmR = ctx.trace.span("index.probe")(bmProbe(bmT, qs, 20).localCheckpoint())
    val annR = ctx.trace.span("index.probe")(ivfProbe(ivfT, qs, 20).localCheckpoint())
    ctx.trace.span("retrieval.mmr") {
      val fused = Retrieval.rrfFuse(Seq(
        bmR.select(col("query_id"), col("doc"), col("rank")),
        annR.select(col("query_id"), col("nn_id").as("doc"), col("rank"))), topK = 10)
      val mmr = Similarity.diversifyMmrIngested(spark, s"${ivfT}_vectors",
        fused.select(col("query_id"), col("doc").as("nn_id"), col("score")),
        k = 5, lambda = 0.5)
      val toks = spark.table(s"${bmT}_dl").select(col("doc").as("nn_id"), col("dl").as("doc_toks"))
      val packed = Corpus.packSequences(
        mmr.join(toks, Seq("nn_id")).select(col("query_id"), col("rank"), col("nn_id"),
          col("doc_toks")),
        idCol = "nn_id", tokensCol = "doc_toks", capacity = 256, streamCol = Some("query_id"))
      timedPlan(packed, mmrPlanMs).collect()
    }
  }

  private def ids(rows: Array[Row], col: String): Set[Long] =
    rows.map(r => r.getAs[Long](col)).toSet

  private def read(kind: Int, ops: mutable.Buffer[Op]): Unit = {
    reads += 1
    val qs = queries(if (kind == 2) 2 else 4)
    val gone = deleted.toSet
    kind match {
      case 0 =>
        var rows = Array.empty[Row]
        Ops.timedOp(ctx, ops, "read", "index.probe") {
          rows = timedPlan(ivfProbe(ivf, qs, 10), probePlanMs).collect()
        }
        returned += (("ivf", ids(rows, "nn_id"), gone))
        val qv = qs.map(q => q._1 -> q._2).toMap
        scored ++= rows.map(r => (qv(r.getAs[Long]("query_id")), r.getAs[Long]("nn_id"),
          r.getAs[Double]("score")))
      case 1 => Ops.timedOp(ctx, ops, "read", "index.probe") {
        returned += (("bm25", ids(timedPlan(bmProbe(bm, qs, 10), probePlanMs).collect(), "doc"), gone))
      }
      case _ => Ops.timedOp(ctx, ops, "read", "request.context") {
        returned += (("context", ids(context(ivf, bm, qs), "doc"), gone))
      }
    }
    if (kind == 1 && replay.isEmpty) replay = Some(qs)
  }

  private def append(ops: mutable.Buffer[Op], n: Int): Unit = {
    val batch = (nextAppend until math.min(nextAppend + n, nAll.toLong)).toSeq
    nextAppend += batch.size
    if (batch.isEmpty) return
    def nFiles = indexDirs.map(t => Ops.dataFiles(ctx.path("warehouse", t))).sum
    val before = if (ctx.trace.on) nFiles else 0
    Ops.timedOp(ctx, ops, "write", "index.append") {
      Similarity.appendIvfPq(spark, ivf, vecDf(batch), "vec_id", "embedding")
      Retrieval.appendBm25(docDf(batch), "doc_id", "text", bm)
    }
    if (ctx.trace.on) filesWritten += (nFiles - before).toDouble
    live ++= batch
  }

  private def delete(ops: mutable.Buffer[Op], n: Int): Unit = {
    val pool = live.toIndexedSeq
    val victims = rng.shuffle(pool).take(n)
    Ops.timedOp(ctx, ops, "write", "index.delete") {
      Similarity.deleteFromIvfPq(spark, ivf, idDf(victims, "nn_id"))
      Retrieval.deleteFromBm25(spark, bm, idDf(victims, "doc"))
    }
    live --= victims
    deleted ++= victims
  }

  private def compact(ops: mutable.Buffer[Op]): Unit =
    Ops.timedOp(ctx, ops, "compact", "index.compact") {
      Similarity.compactIvfPq(spark, ivf)
      Retrieval.compactBm25(spark, bm)
    }

  /** One schedule cycle; the read/write order is drawn from the seed. */
  private val cycle: Seq[String] = {
    val r = new scala.util.Random(ctx.seed * 31 + 7)
    r.shuffle(Seq("ivf", "ivf", "bm25", "bm25", "context", "context", "append", "delete")) :+
      "compact"
  }

  private def request(kind: String, ops: mutable.Buffer[Op]): Unit = {
    ctx.trace.newRequest()
    kind match {
      case "ivf" => read(0, ops)
      case "bm25" => read(1, ops)
      case "context" => read(2, ops)
      case "append" => append(ops, 10)
      case "delete" => delete(ops, 5)
      case "compact" => compact(ops)
    }
  }

  /** Untimed calls against the freshly ingested indexes: a context request
    * (it runs both probes too), an append and a delete. */
  override def warmup(): Unit =
    Seq("context", "append", "delete").foreach(request(_, mutable.ArrayBuffer.empty[Op]))

  def ingest(): Unit = {
    ctx.trace.span("index.ingest") {
      Similarity.ingestIvfPq(emb.filter(col("vec_id") < nIngest), "vec_id", "embedding", ivf,
        nCentroids = 16, m = 4, nCodes = 8, kmeansIters = 1, nBuckets = 4)
      ingestBm(bm, docs.filter(col("doc_id") < nIngest))
    }
    live ++= (0L until nIngest.toLong)
    nextAppend = nIngest.toLong
  }

  def pass(passNo: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    cycle.foreach(request(_, ops))
    ops.toSeq
  }

  def rowsPerPass: Long = cycle.map {
    case "ivf" | "bm25" => 4L
    case "context" => 2L
    case "append" => 10L
    case "delete" => 5L
    case _ => 0L
  }.sum

  /** Canonical, order-insensitive rendering of a probe's rows. */
  private def render(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).toSeq.sorted

  override def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    returned.foreach { case (kind, got, gone) =>
      val hit = got.intersect(gone)
      if (hit.nonEmpty) bad += s"$kind read returned deleted ids ${hit.take(5).mkString(",")}"
    }
    // the schedule ends on a compaction: leave uncompacted tombstones live
    // for the replay (appended rows are live since the warm-up)
    val tail = mutable.ArrayBuffer.empty[Op]
    delete(tail, 5)
    if (tail.exists(!_.ok)) bad += "final delete failed"
    def unit(v: Array[Float]) = {
      val d = v.map(_.toDouble); val n = math.sqrt(d.map(x => x * x).sum); d.map(_ / n)
    }
    scored.foreach { case (q, id, score) =>
      val exact = unit(q).zip(unit(vectors(id))).map { case (a, b) => a * b }.sum
      if (math.abs(exact - score) > 2e-6) bad += s"ivf score $score for id $id, exact cosine $exact"
    }
    ingestBm("pb_ref_bm25", docs.join(idDf(live.toSeq, "doc_id"), Seq("doc_id"), "left_semi"))
    replay.foreach { qs =>
      if (render(bmProbe(bm, qs, 10).collect()) != render(bmProbe("pb_ref_bm25", qs, 10).collect()))
        bad += s"bm25 probe ${qs.map(_._1).mkString(",")} differs from a fresh index"
    }
    checkedScores = scored.size
    bad.toSeq
  }

  private var checkedScores = 0

  override def facts(): Map[String, Any] = Map("checked_ivf_scores" -> checkedScores,
    "reads" -> reads, "live_rows" -> live.size, "deleted_rows" -> deleted.size)

  private def indexDirs = Seq(ivf, bm).flatMap(t => Seq(t, s"${t}_vectors", s"${t}_centroids",
    s"${t}_codebooks", s"${t}_dl", s"${t}_stats", s"${t}_tombstones"))

  def storedBytes: Long = indexDirs.map(t => Ops.dataBytes(ctx.path("warehouse", t))).sum
  // live rows as raw bytes: id + float32 vector, id + UTF-8 text
  def inputBytes: Long =
    live.toSeq.map(i => 8L + 4L * vectors(i).length + 8L + texts(i).getBytes("UTF-8").length).sum

  def perLayer(): Map[String, Double] = {
    val t = ctx.trace
    def perCall(span: String, v: Long) = v.toDouble / math.max(1, t.named(span).size)
    Ops.spanMetrics(t, "index.ingest", Ops.selfMs(t, "index.ingest")) ++
      Ops.spanMetrics(t, "index.probe", Ops.selfMs(t, "index.probe")) ++
      Ops.spanMetrics(t, "retrieval.mmr", Ops.selfMs(t, "retrieval.mmr"), exchanges = true) ++
      Ops.spanMetrics(t, "index.append", Ops.selfMs(t, "index.append"), exchanges = true) ++
      Ops.spanMetrics(t, "index.delete", Ops.selfMs(t, "index.delete")) ++
      Ops.spanMetrics(t, "index.compact", Ops.selfMs(t, "index.compact")) ++ Map(
        "index.probe.plan_ms" -> Ops.median(probePlanMs.toSeq),
        "retrieval.mmr.plan_ms" -> Ops.median(mmrPlanMs.toSeq),
        "retrieval.mmr.jobs" -> perCall("retrieval.mmr", t.totals("retrieval.mmr").jobs),
        "index.append.files_written" -> Ops.median(filesWritten.toSeq),
        "index.files_per_bucket" -> Ops.dataFiles(ctx.path("warehouse", ivf)) / 4.0,
        "index.compact.bytes_rewritten" ->
          perCall("index.compact", t.totals("index.compact").bytesWritten),
        "index.probe.bytes_read" -> perCall("index.probe", t.totals("index.probe").bytesRead))
  }
}
