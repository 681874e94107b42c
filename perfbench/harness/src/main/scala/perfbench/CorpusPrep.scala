package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Corpus, Dedup, TextAnalysis}
import graft.sources.Sources

/** LLM corpus preparation as one batch pass: quality -> exact dedup ->
  * MinHash LSH -> connected components -> decontamination -> near-dup
  * admission -> sequence packing. Every stage writes its output, so each
  * is one timed op and each output is checked against a DuckDB reference.
  *
  * Stage parameters match the engine's oracle-gated compositions (n=3,
  * k=16, 4 rows per band, threshold 0.3, maxDocFreq 20; decontamination
  * 8-grams against the doc_id % 37 slice; packing capacity 256 over 8
  * streams), so the gate registry's DuckDB SQL is the per-seed reference.
  */
final class CorpusPrep(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  private def staging = ctx.path("corpus", "staging")
  private def out(name: String) = ctx.path("corpus", "out", name)
  private val stageNames = Seq("llm.text.quality", "llm.dedup.exact", "llm.dedup.minhash",
    "llm.dedup.cc", "llm.corpus.decontam", "llm.corpus.admit", "llm.corpus.pack")

  private def write(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(out(name))

  /** The corpus plus the NULL-text row the gate compositions carry. */
  private def withNull(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))

  private def runPass(ops: mutable.Buffer[Op]): Unit = {
    val docs = Sources.readParquet(spark, staging)
    Ops.timedOp(ctx, ops, "stage", "llm.text.quality") {
      write(TextAnalysis.quality(docs, "text").select(col("doc_id"), col("n_chars_calc"),
        col("n_tokens"), col("avg_token_len"), col("punct_ratio"), col("stopword_ratio"),
        col("quality_score")), "quality")
    }
    Ops.timedOp(ctx, ops, "stage", "llm.dedup.exact") {
      write(Dedup.exactByFingerprint(docs, "doc_id", "text"), "exact")
    }
    Ops.timedOp(ctx, ops, "stage", "llm.dedup.minhash") {
      write(Dedup.minhashLsh(docs, "doc_id", "text", n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.3, maxDocFreq = Some(20L)), "pairs")
    }
    val pairs = spark.read.parquet(out("pairs"))
    Ops.timedOp(ctx, ops, "stage", "llm.dedup.cc") {
      write(Dedup.connectedComponents(pairs), "components")
    }
    Ops.timedOp(ctx, ops, "stage", "llm.corpus.decontam") {
      val d = withNull(docs)
      write(Corpus.decontaminate(d, d.filter(col("doc_id") % 37 === 0), "doc_id", "text",
        n = 8), "decontam")
    }
    Ops.timedOp(ctx, ops, "stage", "llm.corpus.admit") {
      write(Corpus.trainingFilterNearDup(docs, "doc_id", "text", minQuality = 0.5,
        lang = "en", pairs), "admitted")
    }
    Ops.timedOp(ctx, ops, "stage", "llm.corpus.pack") {
      write(Corpus.packSequences(withNull(docs).select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n")), "doc_id", "n",
        capacity = 256, nStreams = 8), "packed")
    }
  }

  /** The raw corpus arrives as JSON lines; ingest lands it as parquet. */
  def ingest(): Unit = ctx.trace.span("llm.ingest") {
    Sources.readJson(spark, ctx.input("documents.jsonl"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(staging)
  }

  def pass(passNo: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    runPass(ops)
    if (ctx.trace.on) ctx.trace.span("llm.dedup.candidates") {
      // all LSH candidates: the same banding with the Jaccard cut at 0
      candidates += Dedup.minhashLsh(spark.read.parquet(staging), "doc_id", "text", n = 3,
        k = 16, rowsPerBand = 4, threshold = 0.0, maxDocFreq = Some(20L)).count()
      kept += spark.read.parquet(out("pairs")).count()
    }
    ops.toSeq
  }

  private val candidates = mutable.ArrayBuffer.empty[Long]
  private val kept = mutable.ArrayBuffer.empty[Long]

  def rowsPerPass: Long = spark.read.parquet(staging).count()

  override def oracles: Seq[String] = Seq("text_quality", "text_langid", "dedup_minhash_lsh",
    "corpus_decontaminate", "corpus_pack")

  def storedBytes: Long = Ops.dataBytes(staging) + Ops.dataBytes(ctx.path("corpus", "out"))
  def inputBytes: Long = Ops.dataBytes(ctx.input("documents.jsonl"))

  def perLayer(): Map[String, Double] = {
    val t = ctx.trace
    val heavy = Set("llm.dedup.exact", "llm.dedup.cc")
    val spans = stageNames.flatMap { s =>
      Ops.spanMetrics(t, s, Ops.selfMs(t, s), exchanges = heavy(s), skew = heavy(s))
    }.toMap
    val cand = candidates.headOption.getOrElse(0L).toDouble
    spans ++ Map(
      "llm.dedup.candidate_pairs" -> cand,
      "llm.dedup.pair_yield" -> (if (cand > 0) kept.head / cand else 0.0),
      "llm.dedup.cc.jobs" -> t.totals("llm.dedup.cc").jobs.toDouble /
        math.max(1, t.named("llm.dedup.cc").size))
  }
}
