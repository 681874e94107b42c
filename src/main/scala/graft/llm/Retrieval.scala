package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword and hybrid retrieval over a document corpus — the exact
  * lexical complement to [[Similarity]]'s embedding ANN (a training-data
  * pipeline needs both: BM25 for "find documents containing these
  * terms", ANN for "find documents like this one", and rank fusion to
  * combine them — the standard hybrid-retrieval stack).
  *
  * Scale shape: BM25 is the classic posting-list join — the corpus
  * tokenizes once into (doc, term, tf), query terms (tiny) broadcast
  * onto it, and scoring is one partial-aggregated groupBy per
  * (query, doc). Corpus statistics (N, avgdl) ride as a 1-row broadcast
  * scalar (the tpch_q15 idiom); document frequency joins on the term
  * key. Nothing is ever all-pairs: a document with no query term in
  * common is never touched past the equi-join.
  *
  * Determinism discipline: every float that crosses an aggregation
  * boundary is first rounded to the 1e-6 grid and converted to integer
  * micro-units, so per-(query, doc) score sums are EXACT in any
  * aggregation order — and `ln` (last-ulp divergent across engines) is
  * r6-rounded the moment it is computed, the repo-wide rule.
  */
object Retrieval {

  /** Render a driver double as SQL that parses to the identical IEEE
    * value in DuckDB (shortest round-trip repr → correctly-rounded
    * decimal parse on both sides).
    */
  def litSql(v: Double): String = s"CAST($v AS DOUBLE)"

  /** BM25 scores of every (query, document) pair sharing at least one
    * term, top `topK` documents per query (ties broken by doc id).
    * Standard Robertson/Sparck-Jones BM25:
    * idf(t) = ln((N − df + ½)/(df + ½) + 1) (the Lucene non-negative
    * form), term score idf·tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)).
    *
    * @return (query_id, doc, score, rank)
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qTextCol: String,
               topK: Int, k1: Double = 1.2d, b: Double = 0.75d): DataFrame = {
    val (tf, dl) = postings(docs, idCol, textCol)
    // N and avgdl from the SAME relation as a 1-row broadcast scalar:
    // a doc with text but zero tokens contributes to neither, on both
    // engines, by construction
    val statsRow = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).first()
    val n = statsRow.getLong(0)
    val sumdl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    scoreBm25(tf, dl, n, sumdl,
      queryTerms(queries, qidCol, qTextCol), topK, k1, b)
  }

  /** Tokenize the corpus ONCE into the two BM25 posting relations:
    * `tf (doc, term, tf)` and `dl (doc, dl)`. The tokenized explode is
    * localCheckpoint'ed so both aggregates read one materialization.
    */
  private def postings(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    // keyed on doc (guide §2.4): both posting aggregations group by key
    // sets with doc as a member, so the claimed layout feeds both
    // exchange-free
    val toks = graft.Partitioning.checkpointKeyed(
      graft.Partitioning.spread(docs)
        .where(col(textCol).isNotNull)
        .select(col(idCol).as("doc"),
          explode(split(lower(col(textCol)), "\\s+")).as("term"))
        .where(col("term") =!= ""), "doc")
    (toks.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf")),
      toks.groupBy(col("doc")).agg(count(lit(1)).as("dl")))
  }

  /** Distinct (query_id, term) expansion of a query relation. */
  private def queryTerms(queries: DataFrame, qidCol: String,
                         qTextCol: String): DataFrame =
    queries
      .select(col(qidCol).as("query_id"),
        explode(split(lower(col(qTextCol)), "\\s+")).as("term"))
      .where(col("term") =!= "").distinct()

  /** The BM25 scoring back half over posting relations — shared by the
    * tokenize-per-call [[bm25TopK]] and the persisted-index
    * [[bm25TopKIngested]] (identical arithmetic ⇒ bit-identical
    * output).
    *
    * Corpus stats and per-query-term idf are collected as DRIVER
    * SCALARS (the centroid idiom): stats is one row, and df is
    * aggregated over ONLY the query-term posting lists (≤ |query
    * terms| rows — never a full-vocabulary aggregate, which at 100 TB
    * would mean billions of distinct terms). Both re-enter the scoring
    * plan as literals, so the posting pass is a single stage: one
    * broadcast join for the query expansion, one doc-keyed join for
    * lengths — no broadcast-subplan ever re-derives the tf aggregate.
    * Query terms absent from the corpus have no postings and drop out
    * naturally. The scalar arithmetic is bit-identical to the column
    * form (same IEEE ops: java Math.log IS Spark's log).
    */
  private def scoreBm25(tf: DataFrame, dl: DataFrame, n: Long, sumdl: Long,
                        qterms: DataFrame, topK: Int,
                        k1: Double, b: Double): DataFrame = {
    require(topK >= 1, "topK must be positive")
    require(k1 >= 0.0d && b >= 0.0d && b <= 1.0d, "k1 >= 0 and b in [0, 1]")
    val qtermSet = qterms.select(col("term")).distinct()
    val dfRows = tf.join(broadcast(qtermSet), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect()
    val nD = n.toDouble
    val idfMap: Map[String, Double] = dfRows.map { r =>
      val dfD = r.getLong(1).toDouble
      r.getString(0) -> graft.Num.r6(
        math.log((nD - dfD + 0.5d) / (dfD + 0.5d) + 1.0d))
    }.toMap
    if (idfMap.isEmpty) {
      // no query term matches anything (or empty corpus): empty result
      // built from the REAL relations, so the doc column inherits the
      // input id type exactly like the non-empty path — a lit(0L)
      // placeholder would pin BIGINT and make the result schema depend
      // on whether any query term matched
      return tf.join(broadcast(qterms), Seq("term"))
        .select(col("query_id"), col("doc"),
          lit(0.0d).as("score"), lit(0).as("rank"))
        .where(lit(false))
    }
    val avgdlD = sumdl.toDouble / nD
    val tfD = col("tf").cast("double")
    val norm = tfD + lit(k1) * (lit(1.0d - b) + lit(b) * col("dl").cast("double") / lit(avgdlD))
    val term = graft.Num.r6(
      element_at(typedLit(idfMap), col("term")) * (tfD * lit(k1 + 1.0d)) / norm)
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(dl, "doc")
      // exact-integer micro-units so the per-(query, doc) sum is
      // aggregation-order independent
      .select(col("query_id"), col("doc"),
        floor(term * lit(1000000.0d) + lit(0.5d)).cast("long").as("micro"))
      .where(col("micro").isNotNull) // terms with no idf never score
      .groupBy(col("query_id"), col("doc"))
      .agg(sum(col("micro")).as("micro"))
      .select(col("query_id"), col("doc"),
        graft.Num.r6(col("micro").cast("double") / lit(1000000.0d)).as("score"))
    saltedTopK(scored, topK, nSalts = 8)
  }

  /** Persist the BM25 index ONCE — the pay-once-at-ingest layout twin
    * ([[graft.llm.Similarity.ingestIvf]], `Graph.ingestEdges`): tokenize
    * the corpus a single time and write the `(term, doc, tf)` posting
    * table BUCKETED BY TERM (the key every probe joins and aggregates
    * on — df counting and query expansion read it exchange-free), the
    * `(doc, dl)` length table bucketed by doc (its side of the scoring
    * join pre-co-located), and the 1-row `(n, sumdl)` stats sidecar.
    * Every [[bm25TopKIngested]] batch then serves WITHOUT re-scanning
    * or re-tokenizing the document corpus — at 100 TB tokenization IS
    * the dominant cost, paid once here, and the streaming maintenance
    * twin (StreamingSpec's folded tf state) shows the same tables are
    * maintainable incrementally. Same single-writer-per-table contract
    * as [[graft.ops.Bucketing.writeBucketed]].
    */
  def ingestBm25(docs: DataFrame, idCol: String, textCol: String,
                 table: String, nBuckets: Int): Unit = {
    val (tf, dl) = postings(docs, idCol, textCol)
    bm25Index.ingest(docs.sparkSession, table, nBuckets, Seq(tf, dl),
      Seq(statsOf(dl)))
  }

  /** Append a new document batch into an [[ingestBm25]] index — the
    * maintenance half of the pay-once layout (the fold itself is the
    * one StreamingSpec's posting-maintenance twin proves): tokenize
    * ONLY the batch, append its `(term, doc, tf)` postings and
    * `(doc, dl)` lengths into the bucketed tables (bucket counts read
    * from the catalog — mismatch impossible by construction), and
    * refresh the 1-row stats sidecar by exact integer addition. Per
    * append every input is batch-sized: no corpus re-scan, no
    * re-tokenization, and the df/idf side needs no maintenance at all
    * because [[bm25TopKIngested]] derives df from the posting lists at
    * probe time.
    *
    * `ingestBm25(A); appendBm25(B)` produces tables ROW-IDENTICAL to
    * `ingestBm25(A ∪ B)` when batch doc ids are distinct from index
    * doc ids (the caller contract — a re-appended doc would
    * double-count its postings; pair with the exactly-once streaming
    * sink for at-least-once sources). Appends add bucket FILES, not
    * rewritten buckets; compact small files per bucket periodically
    * (exchange-free — the bucketed layout makes compaction a
    * per-bucket local rewrite). Same single-writer contract as the
    * ingest.
    */
  def appendBm25(batch: DataFrame, idCol: String, textCol: String,
                 table: String): Unit =
    bm25Index.append(batch.sparkSession, table, batch, idCol, textCol)

  /** Exactly-once streaming maintenance of a BM25 index — the full
    * loop: `docStream.writeStream.foreachBatch(Retrieval.bm25Sink(...))
    * .start()`. The first delivered batch builds the index
    * ([[ingestBm25]]); every later batch folds in with batch-sized work
    * ([[appendBm25]]); a RE-delivered batch id (Structured Streaming's
    * at-least-once replay after failure) is a no-op via the
    * `<table>_commits` log ([[graft.streaming.ExactlyOnce]]) — without
    * it a replayed batch would double its postings and every BM25
    * score over them would silently shift. The index a replayed stream
    * produces is therefore bit-identical to [[ingestBm25]] over the
    * union (disjoint doc ids across batches, the [[appendBm25]]
    * contract; the gate proves it against the whole-corpus oracle).
    */
  def bm25Sink(table: String, idCol: String, textCol: String,
               nBuckets: Int): (DataFrame, Long) => Unit =
    bm25Index.sink(table, idCol, textCol)(
      ingestBm25(_, idCol, textCol, table, nBuckets))

  /** BM25 over an [[ingestBm25]] index: bit-identical scores and ranks
    * to [[bm25TopK]] on the same corpus (identical scoring half, and
    * parquet round-trips the integer postings exactly), but the probe
    * never touches the document corpus — the df aggregation reads the
    * term-bucketed posting scan with NO exchange, and the doc-keyed
    * scoring join finds the length table pre-bucketed on its key.
    *
    * `asOf = Some(b)` serves the index AS OF append batch `b`
    * ([[graft.ops.Snapshots]] — ingest is batch 0): both posting
    * relations restrict to batches ≤ b (parquet min/max file pruning),
    * tombstones still apply (takedowns are retroactive — the delete
    * verb wins over time travel), and the `(n, avgdl)` stats come from
    * ONE narrow aggregate over the snapshot's length relation instead
    * of the current-view sidecar — so a snapshot probe is bit-identical
    * to [[bm25TopK]] over exactly the documents the snapshot contains
    * (df already derives from the filtered postings at probe time).
    */
  def bm25TopKIngested(spark: org.apache.spark.sql.SparkSession, table: String,
                       queries: DataFrame, qidCol: String, qTextCol: String,
                       topK: Int, k1: Double = 1.2d, b: Double = 0.75d,
                       asOf: Option[Long] = None): DataFrame = {
    // tombstoned docs are excluded from BOTH posting relations, and the
    // stats sidecar was exactly recomputed at delete time — so the probe
    // is bit-identical to an ingest that never saw the deleted docs
    val tf = bm25Index.live(spark, table, asOf = asOf)
    val dl = bm25Index.live(spark, table, "_dl", asOf)
    val (n, sumdl) = asOf match {
      case None =>
        val st = spark.table(s"${table}_stats").first()
        (st.getLong(st.fieldIndex("n")), st.getLong(st.fieldIndex("sumdl")))
      case Some(_) =>
        // the sidecar tracks the CURRENT view; a snapshot derives its
        // stats from its own length relation — exact integers, one
        // narrow batch-pruned aggregate
        val st = statsOf(dl).first()
        (st.getLong(0), st.getLong(1))
    }
    scoreBm25(tf, dl, n, sumdl,
      queryTerms(queries, qidCol, qTextCol), topK, k1, b)
  }

  /** Logically delete documents from an [[ingestBm25]] index — the
    * takedown verb: the doc ids tombstone (takedown-list-sized work),
    * every probe anti-joins both posting relations against the set, and
    * the `(n, sumdl)` stats sidecar is RECOMPUTED from the
    * tombstone-filtered length table (one narrow aggregate over
    * `(doc, dl)` rows — doc-count-sized, never corpus-TEXT-sized, and
    * deletes are takedown-batch-rare). Because document frequency is
    * derived from the (filtered) posting lists at probe time,
    * `ingestBm25(A∪B); deleteFromBm25(B)` is BIT-IDENTICAL to
    * `ingestBm25(A)` at probe time — N, avgdl, df, tf and every score
    * match; the delete gate shares the A-only oracle as proof.
    * [[compactBm25]] performs the physical drop.
    *
    * CRASH RECOVERY: the tombstone append and the sidecar rewrite are
    * two writes; a crash between them leaves stats stale-INFLATED (docs
    * already probe-invisible, stats still counting them). Because the
    * recount reads the filtered relation — not an incremental delta —
    * RE-RUNNING the delete (same ids, any ids, or none) recomputes the
    * sidecar to the correct value: the repair path an incremental
    * subtraction cannot offer (it sees no newly-tombstoned ids on the
    * retry). Idempotent by construction for the same reason.
    */
  def deleteFromBm25(spark: org.apache.spark.sql.SparkSession, table: String,
                     ids: DataFrame): Unit = bm25Index.delete(spark, table, ids)

  /** Physically drop tombstoned docs from both BM25 posting tables and
    * clear the tombstone set (per-bucket local rewrites; the stats
    * sidecar was already adjusted at delete time).
    */
  def compactBm25(spark: org.apache.spark.sql.SparkSession,
                  table: String): Unit = bm25Index.compact(spark, table)

  /** The 1-row `(n, sumdl)` corpus stats of a length relation — exact
    * integers.
    */
  private def statsOf(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl"))

  private def writeStats(spark: org.apache.spark.sql.SparkSession,
                         table: String, n: Long, sumdl: Long): Unit = {
    import spark.implicits._
    graft.ops.Bucketing.writeSmall(Seq((n, sumdl)).toDF("n", "sumdl"),
      s"${table}_stats")
  }

  /** BM25: the term-bucketed `(term, doc, tf)` postings, the
    * doc-bucketed `(doc, dl)` lengths and the `(n, sumdl)` stats sidecar
    * — no trained state (df derives from the postings at probe time).
    * The length relation is materialized on append (two consumers: the
    * append and the stats refresh). The stats stay exact: an append
    * adds the batch's integers to the old row (read BEFORE the
    * overwrite drops the table); a delete recounts them from the
    * tombstone-filtered length table ([[deleteFromBm25]]).
    */
  private[graft] val bm25Index: graft.ops.PersistedIndex[Unit] =
    graft.ops.PersistedIndex[Unit]("Bm25", "doc",
      tables = Seq("" -> "term", "_dl" -> "doc"),
      sidecars = Seq("_stats" -> None),
      prepare = graft.ops.PersistedIndex.textRows, load = (_, _) => (),
      encode = (rows, _) => {
        val (tf, dl) = postings(rows, "doc", "text")
        Seq(tf, dl.localCheckpoint())
      },
      afterAppend = (spark, table, data) => {
        val st = spark.table(s"${table}_stats").first()
        val bs = statsOf(data(1)).first()
        writeStats(spark, table, st.getLong(st.fieldIndex("n")) + bs.getLong(0),
          st.getLong(st.fieldIndex("sumdl")) + bs.getLong(1))
      },
      afterDelete = (spark, table) => {
        val live = statsOf(bm25Index.live(spark, table, "_dl")).first()
        writeStats(spark, table, live.getLong(0), live.getLong(1))
      })

  /** Per-query top-k over (query_id, doc, score), ties by doc:
    * [[graft.ops.Reshape.saltedTopN]] salted on `hash(doc)` — a common
    * term matches millions of documents, and a plain per-query window
    * would funnel them all through one task.
    */
  private def saltedTopK(scored: DataFrame, topK: Int, nSalts: Int): DataFrame =
    graft.ops.Reshape.saltedTopN(scored, Seq(col("query_id")),
        Seq(col("score").desc, col("doc").asc), hash(col("doc")), lit(topK), nSalts, "rank")
      .select(col("query_id"), col("doc"), col("score"), col("rank"))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of several ranked
    * lists `(query_id, doc, rank)` — the standard hybrid-retrieval
    * combiner (BM25 ⊕ ANN): fused score = Σ over lists of
    * 1/(kRrf + rank), a pure function of RANKS so incomparable score
    * scales never matter. Each reciprocal is r6-rounded and summed in
    * exact micro-units (order-independent); top `topK` per query, ties
    * by doc id.
    *
    * @return (query_id, doc, score, rank)
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(topK >= 1 && kRrf >= 0, "topK must be positive, kRrf non-negative")
    val contribs = rankings.map { r =>
      val recip = graft.Num.r6(lit(1.0d) /
        (lit(kRrf.toDouble) + col("rank").cast("double")))
      r.select(col("query_id"), col("doc"),
        floor(recip * lit(1000000.0d) + lit(0.5d)).cast("long").as("micro"))
    }.reduce(_ unionByName _)
    val fused = contribs.groupBy(col("query_id"), col("doc"))
      .agg(sum(col("micro")).as("micro"))
      .select(col("query_id"), col("doc"),
        graft.Num.r6(col("micro").cast("double") / lit(1000000.0d)).as("score"))
    // no salted pre-stage: fused candidates are bounded by the input
    // rank lists (≤ Σ per-list k rows per query by construction), so
    // the per-query window never sees corpus-scale input
    saltedTopK(fused, topK, nSalts = 1)
  }

  /** Ranking-quality evaluation of a `system` ranking against a `truth`
    * ranking — the retrieval-QA harness a pipeline runs after every
    * index build (ANN recall against exact, a new BM25 variant against
    * the old, a reranker against human qrels). Both inputs are
    * `(query_id, nn_id, rank)`; `truth`'s rows (at rank ≤ k) are the
    * relevant set. Per truth query:
    *
    *   - `recall`  = |top-k(system) ∩ relevant| / |relevant|
    *   - `mrr`     = 1 / (system rank of the first relevant hit), 0 if none
    *   - `ndcg`    = DCG@k / IDCG, binary gains 1/log2(rank+1)
    *
    * Float discipline: each DCG gain is r6-rounded then summed in exact
    * integer micro-units (aggregation-order independent — the rrfFuse
    * idiom), and IDCG folds the same micro-gains over sequence(1, n_rel)
    * as a NARROW per-row array fold. Scale shape: everything keys on
    * query_id with per-query input bounded by k rows (system is
    * pre-filtered to rank ≤ k), so there is no skew for a window to
    * absorb — two k-bounded hash aggregations and one k-bounded
    * equi-join, no windows, no driver-side state. Queries absent from
    * `system` (e.g. an LSH probe with no shared bucket) score 0 on all
    * three metrics rather than disappearing.
    *
    * @return (query_id, n_rel: int, n_hits: int, recall, mrr, ndcg)
    */
  def evalRanking(system: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    // micro(r6(1/log2(r+1))) — the identical float path the oracle runs
    def gainMicro(r: Column): Column =
      floor(graft.Num.r6(lit(1.0d) / log2(r.cast("double") + lit(1.0d)))
        * lit(1000000.0d) + lit(0.5d)).cast("long")
    val sys = system.filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), col("rank"))
    val tr = truth.filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"))
    val trg = tr.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
      .withColumn("idcgm", aggregate(sequence(lit(1L), col("n_rel")),
        lit(0L), (acc, i) => acc + gainMicro(i)))
    val hm = sys.join(tr, Seq("query_id", "nn_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"),
        min(col("rank")).as("first_rank"),
        sum(gainMicro(col("rank"))).as("dcgm"))
    trg.join(hm, Seq("query_id"), "left")
      .select(col("query_id"),
        col("n_rel").cast("int").as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).cast("int").as("n_hits"),
        graft.Num.r6(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_rel").cast("double")).as("recall"),
        when(col("first_rank").isNull, lit(0.0d))
          .otherwise(graft.Num.r6(lit(1.0d) / col("first_rank").cast("double"))).as("mrr"),
        when(col("dcgm").isNull, lit(0.0d))
          .otherwise(graft.Num.r6(col("dcgm").cast("double")
            / col("idcgm").cast("double"))).as("ndcg"))
  }
}
