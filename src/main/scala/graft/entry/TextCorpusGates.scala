package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EtlLeaf, EtlObj, EtlSchema}
import graft.ops._
import graft.llm._
import GateSupport._

/** Text analysis and LLM corpus pipeline gates (quality, langid, tfidf, decontamination, packing, mixing, budget selection).
  *
  * One registry entry per operator: (name, spark fn, oracle SQL) —
  * composed into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object TextCorpusGates {

  /** The three literal keyword queries of the BM25 gate, shared
    * verbatim by the Spark input and the oracle's VALUES list.
    */
  private val bm25Queries = Seq(
    ("q1", "spark window join"),
    ("q2", "hash merge sort"),
    ("q3", "customer query table"))

  /** BM25 oracle at the gate parameters (k1=1.2, b=0.75, topK=10) over
    * the three literal queries — shared by `retrieval_bm25` and its
    * ingested-index twin, which is bit-identical by construction (the
    * persisted posting/length/stats tables ARE the per-run tokenizer's
    * output; parquet round-trips the integer counts exactly).
    */
  /** Decontamination oracle over the %37 benchmark slice — shared by
    * the per-run gate and the ingested-index twin (ingest ∪ append of
    * overlapping slices is the same distinct eval hash SET, so both
    * compute identical verdicts).
    */
  private lazy val decontamOracleSql: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents
       |              UNION ALL SELECT 99991, NULL),
       |${tokenShingleCte(8, "docs")},
       |h0 AS (SELECT DISTINCT doc, ${rhSql("sh")} AS h FROM sh0),
       |ev AS (SELECT DISTINCT h FROM h0 WHERE doc % 37 = 0),
       |hits AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_hits
       |         FROM h0 JOIN ev USING (h) GROUP BY doc)
       |SELECT doc_id AS doc, COALESCE(n_hits, 0) AS n_hits,
       |       COALESCE(n_hits, 0) < 1 AS keep
       |FROM docs LEFT JOIN hits ON doc_id = hits.doc""".stripMargin

  /** The DSIR importance-weight CTE chain (hashed uni+bigram features,
    * 64 buckets, target = doc_id % 7) ending in `dw(doc_id, logw)` —
    * shared by `corpus_dsir` and the Gumbel sampling gate built on it.
    */
  private lazy val dsirCtes: String = {
    val lamExpr = Num.r6Sql(
      "ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))"
        + " - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 64 AS DOUBLE))")
    s"""tkz AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |                                   t -> t <> '') AS tk
       |        FROM documents WHERE text IS NOT NULL),
       |gr AS (SELECT doc_id, unnest(tk) AS g FROM tkz
       |       UNION ALL
       |       SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
       |                                            i -> tk[i] || ' ' || tk[i + 1])) AS g
       |       FROM tkz),
       |fb AS (SELECT doc_id, (${rhSql("g")}) % 64 AS b FROM gr),
       |rc AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
       |tc AS (SELECT b, count(*) AS ct FROM fb WHERE doc_id % 7 = 0 GROUP BY b),
       |tot AS (SELECT (SELECT count(*) FROM fb) AS tr,
       |               (SELECT count(*) FROM fb WHERE doc_id % 7 = 0) AS tt),
       |lam AS (SELECT rc.b,
       |          CAST(floor(($lamExpr) * 1000000.0 + 0.5) AS BIGINT) AS lam
       |        FROM rc LEFT JOIN tc USING (b), tot),
       |db AS (SELECT doc_id, b, count(*) AS c FROM fb GROUP BY doc_id, b),
       |dw AS (SELECT doc_id, ${Num.r6Sql("CAST(sum(c * lam) AS DOUBLE) / 1000000.0")} AS logw
       |       FROM db JOIN lam USING (b) GROUP BY doc_id)""".stripMargin
  }

  private lazy val bm25OracleSql: String = bm25OracleSqlOver("TRUE")

  /** [[bm25OracleSql]] with a corpus predicate — the deleted-index twin
    * passes the survivor slice: BM25's state is pure per-row (postings
    * + the exactly-adjusted stats sidecar; df derives from the filtered
    * postings at probe time), so `ingest(A∪B); delete(B)` shares the
    * A-only oracle outright — the hash match IS the retraction proof.
    */
  private def bm25OracleSqlOver(docsWhere: String): String = {
    val qvals = bm25Queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => s"('$qid', '$t')")
    }.mkString(", ")
    s"""WITH ${bm25RankCtes(docsWhere, qvals, topK = 10, p = "")}
       |SELECT query_id, doc, score, CAST(rank AS INT) AS rank FROM rk""".stripMargin
  }

  /** The BM25 oracle body as a reusable CTE chain ending in
    * `<p>rk(query_id, doc, score, rank ≤ topK)` — prefix `p` renames
    * every CTE so the chain composes into larger WITHs (the retrieval
    * capstone). Arithmetic identical to [[Retrieval.bm25TopK]]'s
    * scoring half (k1 = 1.2, b = 0.75, micro-unit sums, r6'd idf/term).
    */
  private def bm25RankCtes(docsWhere: String, qvals: String, topK: Int,
                           p: String): String = {
    val k1 = 1.2d; val b = 0.75d
    val K1 = Retrieval.litSql(k1); val K1P1 = Retrieval.litSql(k1 + 1.0d)
    val B = Retrieval.litSql(b); val OMB = Retrieval.litSql(1.0d - b)
    val idf = Num.r6Sql(
      "ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + CAST(1 AS DOUBLE))")
    val avgdl = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"
    val term = Num.r6Sql(
      s"idf * (CAST(tf AS DOUBLE) * $K1P1) / (CAST(tf AS DOUBLE) + $K1 * ($OMB + $B * CAST(dl AS DOUBLE) / $avgdl))")
    s"""${p}toks AS (SELECT doc, term FROM (
       |    SELECT doc_id AS doc, unnest(string_split_regex(lower(text), '\\s+')) AS term
       |    FROM documents WHERE text IS NOT NULL AND ($docsWhere)) WHERE term <> ''),
       |${p}tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM ${p}toks GROUP BY doc, term),
       |${p}dlr AS (SELECT doc, CAST(count(*) AS BIGINT) AS dl FROM ${p}toks GROUP BY doc),
       |${p}st AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(dl) AS sumdl FROM ${p}dlr),
       |${p}dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM ${p}tf GROUP BY term),
       |${p}qt AS (SELECT DISTINCT * FROM (VALUES $qvals) v(query_id, term)),
       |${p}idfr AS (SELECT term, $idf AS idf FROM ${p}dfq, ${p}st),
       |${p}mic AS (SELECT qt.query_id, tf.doc,
       |          CAST(floor($term * 1000000.0 + 0.5) AS BIGINT) AS micro
       |        FROM ${p}tf tf JOIN ${p}qt qt ON tf.term = qt.term
       |                JOIN ${p}idfr idfr ON tf.term = idfr.term
       |                JOIN ${p}dlr dlr ON tf.doc = dlr.doc, ${p}st),
       |${p}sc AS (SELECT query_id, doc,
       |         ${Num.r6Sql("CAST(sum(micro) AS DOUBLE) / 1000000.0")} AS score
       |       FROM ${p}mic GROUP BY query_id, doc),
       |${p}rk AS (SELECT query_id, doc, score, rank
       |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rank FROM ${p}sc)
       |       WHERE rank <= $topK)""".stripMargin
  }

  /** The retrieval-capstone oracle (BM25 → PRF-ANN → RRF → MMR → pack
    * over the embedded-docs corpus) — shared VERBATIM by the per-run
    * composition and its persisted-index twin: every stage twin is
    * bit-identical to its per-run operator by the existing parity
    * proofs (BM25's persisted postings, the exact-parameter IVF-PQ
    * probe, the ingested-vectors MMR, the `_dl` token counts), so one
    * oracle pins both compositions.
    */
  private lazy val contextFullOracleSql: String =
    contextFullOracleSqlOver("TRUE", "TRUE")

  /** [[contextFullOracleSql]] restricted to a corpus slice — the as-of
    * twin's oracle: `docsWhere` (over doc_id) cuts the BM25 corpus and
    * the token-count relation, `vecsWhere` (over vec_id) cuts the ANN /
    * MMR vector pool — together they ARE the snapshot: every stage of
    * the asOf-0 probe serves exactly the batch-0 slice (BM25's df
    * derives from the filtered postings, the ANN leg runs at exactness
    * parameters so training slices cannot matter, MMR and pack read the
    * sliced sidecars), so the first-batch-only capstone oracle pins the
    * whole snapshot DAG.
    */
  private def contextFullOracleSqlOver(docsWhere: String,
                                       vecsWhere: String): String = {
    val qvals = Seq((9001L, "spark window join"),
      (9002L, "hash merge sort"), (9003L, "customer query table"))
      .flatMap { case (qid, text) =>
        // CAST pins BIGINT — a bare literal would come out INT32 and
        // fail the driver's schema compare against Spark's LongType
        text.split(" ").distinct.map(tok => s"(CAST($qid AS BIGINT), '$tok')")
      }.mkString(", ")
    val annScore = Num.r6Sql(dotSql("c.v", "q.v"))
    val recipMicro = s"CAST(floor(${Num.r6Sql("CAST(1 AS DOUBLE) / (60 + CAST(rank AS DOUBLE))")} * 1000000.0 + 0.5) AS BIGINT)"
    val embedded =
      s"doc_id IN (SELECT vec_id FROM embeddings) AND ($docsWhere)"
    s"""WITH ${bm25RankCtes(embedded, qvals, topK = 20, p = "b")},
       |nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings
       |       WHERE ($vecsWhere)),
       |seed AS (SELECT query_id, doc FROM brk WHERE rank = 1),
       |sq AS (SELECT s.query_id, nv.v FROM seed s JOIN nv ON nv.id = s.doc),
       |asc0 AS (SELECT q.query_id, c.id AS nn_id, $annScore AS score
       |         FROM nv c JOIN sq q ON c.id <> q.query_id),
       |ark AS (SELECT query_id, nn_id, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM asc0)
       |  WHERE rank <= 20),
       |rmic AS (SELECT query_id, doc, $recipMicro AS micro FROM brk
       |         UNION ALL SELECT query_id, nn_id, $recipMicro FROM ark),
       |fs AS (SELECT query_id, doc, ${Num.r6Sql("CAST(sum(micro) AS DOUBLE) / 1000000.0")} AS score
       |       FROM rmic GROUP BY query_id, doc),
       |frk AS (SELECT query_id, doc, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rank FROM fs)
       |  WHERE rank <= 10),
       |cv AS (SELECT f.query_id, f.doc AS nn_id, f.score,
       |              CAST(floor(f.score * 1000000.0 + 0.5) AS BIGINT) AS relm, nv.v
       |       FROM frk f JOIN nv ON nv.id = f.doc),
       |${mmrSelCtes(5, 500000L)},
       |ntk AS (SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS BIGINT) AS nt
       |        FROM documents WHERE text IS NOT NULL AND $embedded),
       |selt AS (SELECT s.query_id, s.nn_id, s.score, s.rk, n.nt
       |         FROM sel5 s JOIN ntk n ON n.doc_id = s.nn_id),
       |pk AS (SELECT *, CAST(coalesce(sum(nt) OVER (PARTITION BY query_id ORDER BY rk
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM selt)
       |SELECT query_id, nn_id, score, CAST(rk AS INT) AS rank, nt AS n_toks, start_offset,
       |  CAST(start_offset // 256 AS BIGINT) AS seq_first,
       |  CAST(CASE WHEN nt > 0 THEN (start_offset + nt - 1) // 256 ELSE start_offset // 256 END AS BIGINT) AS seq_last
       |FROM pk""".stripMargin
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(

    ("text_pmi_bigrams",
      (s: SparkSession, dir: String) =>
        // top bigram collocations by PMI — multi-word-expression /
        // boilerplate-phrase detection: one tokenized scan feeds both
        // count relations, totals ride as a 1-row broadcast scalar,
        // minCount filters rare-pair noise before any join
        TextAnalysis.pmiBigrams(
          t(s, dir, "documents").select(col("text")), "text",
          minCount = 5L, topN = 20),
      {
        val pmi = Num.r6Sql(
          "ln((CAST(c_ab AS DOUBLE) * CAST(t_tot AS DOUBLE) * CAST(t_tot AS DOUBLE)) / " +
            "(CAST(b_tot AS DOUBLE) * CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))")
        s"""WITH tkr AS (SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS tk
           |             FROM documents WHERE text IS NOT NULL),
           |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c
           |        FROM (SELECT unnest(tk) AS t FROM tkr) GROUP BY t),
           |bg AS (SELECT split_part(bgs, ' ', 1) AS a, split_part(bgs, ' ', 2) AS b,
           |         CAST(count(*) AS BIGINT) AS c_ab
           |       FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
           |                             i -> tk[i] || ' ' || tk[i + 1])) AS bgs
           |             FROM tkr WHERE len(tk) >= 2)
           |       GROUP BY 1, 2),
           |tt AS (SELECT sum(c) AS t_tot FROM uni),
           |bt AS (SELECT sum(c_ab) AS b_tot FROM bg),
           |f AS (SELECT bg.a, bg.b, bg.c_ab, ua.c AS ca, ub.c AS cb, t_tot, b_tot
           |      FROM bg JOIN uni ua ON bg.a = ua.t
           |              JOIN uni ub ON bg.b = ub.t, tt, bt
           |      WHERE c_ab >= 5)
           |SELECT a, b, c_ab, $pmi AS pmi FROM f
           |ORDER BY $pmi DESC, a, b LIMIT 20""".stripMargin
      }),

    ("retrieval_bm25",
      (s: SparkSession, dir: String) => {
        // keyword retrieval over the corpus — the exact lexical
        // complement to the embedding ANN gates: posting-list join
        // (query terms broadcast onto the tokenized corpus), corpus
        // stats as a 1-row broadcast scalar, per-(query, doc) scores
        // summed in exact micro-units so aggregation order can never
        // move a hash-gated float
        import s.implicits._
        Retrieval.bm25TopK(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text",
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext",
          topK = 10)
      },
      bm25OracleSql),

    ("retrieval_bm25_ingested",
      (s: SparkSession, dir: String) => {
        // same ranking, PRODUCTION layout: the corpus is tokenized ONCE
        // at ingest into a term-bucketed posting table + doc-bucketed
        // length table + 1-row stats sidecar, and the probe serves
        // against those tables without ever scanning documents.parquet
        // (PlanSpec asserts it) — at 100 TB tokenization is the
        // dominant per-query cost this twin pays once. Table names
        // carry the SHA-256 dir digest (concurrent-suite discipline).
        import s.implicits._
        val table = s"graft_bm25_postings_${dirSuffix(dir)}"
        Bm25.ingest(
          t(s, dir, "documents").select(col("doc_id"), col("text")), table)
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10)
      },
      bm25OracleSql),

    ("retrieval_bm25_appended",
      (s: SparkSession, dir: String) => {
        // the APPEND maintenance half of the pay-once index: ingest the
        // even-id half, append the odd-id half (batch tokenization +
        // bucketed file appends + exact-integer stats refresh — never
        // a corpus re-scan), probe the combined index. ingest(A);
        // append(B) is row-identical to ingest(A∪B) for disjoint doc
        // ids, so this gate SHARES the whole-corpus BM25 oracle — the
        // hash match IS the equivalence proof.
        import s.implicits._
        val table = s"graft_bm25_app_${dirSuffix(dir)}"
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        builtAppended(s, table, Bm25, d)
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10)
      },
      bm25OracleSql),

    ("retrieval_bm25_streamed",
      (s: SparkSession, dir: String) => {
        // the full maintenance loop under streaming delivery semantics:
        // the corpus arrives as four foreachBatch deliveries with batch
        // 1 RE-delivered (at-least-once replay after failure) — batch 0
        // ingests, later batches append, the replay is a commit-log
        // no-op. A doubled batch would shift tf, df, dl, N and avgdl at
        // once, so sharing the whole-corpus BM25 oracle makes the gate
        // a sharp exactly-once check, not just a smoke test.
        import s.implicits._
        val table = s"graft_bm25_str_${dirSuffix(dir)}"
        builtStreamed(s, table, Bm25,
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10)
      },
      bm25OracleSql),

    ("retrieval_bm25_deleted",
      (s: SparkSession, dir: String) => {
        // the DELETE lifecycle verb for the lexical index: ingest the
        // full corpus, tombstone the odd doc ids (takedown-list-sized —
        // postings are never rewritten; the (n, sumdl) sidecar is
        // RECOUNTED from the tombstone-filtered _dl relation, so the
        // rewrite is self-healing and idempotent), probe. Because df
        // derives from
        // the FILTERED posting lists at probe time, ingest(A∪B);
        // delete(B) is bit-identical to ingest(A): N, avgdl, df, tf and
        // every score match the even-half oracle — the hash match IS
        // the retraction proof. Physical drop is compaction's job.
        import s.implicits._
        val table = s"graft_bm25_del_${dirSuffix(dir)}"
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        builtDeleted(s, table, Bm25, d)()
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10)
      },
      bm25OracleSqlOver("doc_id % 2 = 0")),

    ("retrieval_bm25_asof",
      (s: SparkSession, dir: String) => {
        // SNAPSHOT (as-of) reads for the lexical index — the audit/repro
        // verb: ingest is batch 0, each append stamps batch 1, 2, …
        // (one long column per row; parquet min/max prunes newer batch
        // files), and a probe pinned to batch 1 serves the index exactly
        // as it stood then — reproducible no matter how many batches
        // landed since. BM25's state is pure per-row and the snapshot
        // derives (n, avgdl) from its own length relation, so asOf(1)
        // over batches {0,1,2} is BIT-IDENTICAL to an ingest that never
        // saw batch 2 — the gate shares the first-two-thirds oracle.
        import s.implicits._
        val table = s"graft_bm25_asof_${dirSuffix(dir)}"
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        builtThirds(s, table, Bm25, d)
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10,
          asOf = Some(1L))
      },
      bm25OracleSqlOver("doc_id % 3 < 2")),

    ("probe_bm25_ingested",
      (s: SparkSession, dir: String) => {
        // PROBE-ONLY bench twin of retrieval_bm25_ingested: the index
        // builds only if absent (the session keeps it across Bench's
        // warm + timed passes), so from the second timed run on the
        // measured work is the serving path alone — tokenize 4 query
        // strings, term-pruned posting join, top-k. A probe-path
        // regression shows as THIS line instead of hiding inside the
        // build-inclusive composite. Same full-corpus oracle: builds
        // are deterministic, so cached-vs-fresh answers are identical.
        import s.implicits._
        val table = s"graft_prb_bm25_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table))
          Bm25.ingest(t(s, dir, "documents").select(col("doc_id"), col("text")),
            table)
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10)
      },
      bm25OracleSql),

    ("probe_bm25_asof",
      (s: SparkSession, dir: String) => {
        // the snapshot SERVING path as its own bench line: a two-batch
        // index probed at batch 0 — the asOf overheads (batch-file
        // pruning, sidecar semi-join, snapshot-sliced (n, avgdl)
        // recompute) are exactly what this line times, steady-state
        import s.implicits._
        val table = s"graft_prb_bm25_b2_${dirSuffix(dir)}"
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        if (!s.catalog.tableExists(table)) {
          Bm25.ingest(d.filter(col("doc_id") % 2 === 0), table)
          Bm25.append(s, table, d.filter(col("doc_id") % 2 =!= 0))
        }
        Retrieval.bm25TopKIngested(s, table,
          bm25Queries.toDF("qid", "qtext"), "qid", "qtext", topK = 10,
          asOf = Some(0L))
      },
      bm25OracleSqlOver("doc_id % 2 = 0")),

    ("retrieval_context_full",
      (s: SparkSession, dir: String) => {
        // the RETRIEVAL CAPSTONE — the serving path a RAG pipeline runs
        // per query batch, in ONE DataFrame DAG: BM25 retrieve (top-20)
        // → pseudo-relevance-feedback ANN leg (the rank-1 hit's
        // embedding retrieves semantic neighbors — the standard PRF
        // bridge when queries have no embeddings) → reciprocal-rank
        // fusion (top-10) → greedy MMR diversification (top-5, λ=0.5)
        // → per-query context assembly via packSequences (stream =
        // query, order = MMR rank, capacity 256 tokens). The corpus is
        // restricted to EMBEDDED documents (what a vector-backed store
        // actually serves) and is tokenized ONCE: the spread +
        // localCheckpoint relation feeds BM25 and the token counts —
        // PlanSpec asserts no documents.parquet re-scan. Every stage is
        // individually oracle-gated elsewhere; this pins the
        // COMPOSITION.
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .join(emb.select(col("vec_id")), col("doc_id") === col("vec_id"),
            "left_semi")
        val toked = graft.Partitioning.spread(docs)
          .withColumn("tk", filter(TextAnalysis.tokens(col("text")),
            tok => tok =!= lit("")))
          .localCheckpoint()
        val queries = Seq((9001L, "spark window join"),
          (9002L, "hash merge sort"), (9003L, "customer query table"))
          .toDF("qid", "qtext")
        // every rank list is (queries × k)-bounded — ≤ 60 rows — and has
        // several eager downstream consumers (the ANN leg's query-side
        // pin count, MMR's contract counts, the pack join-back), so each
        // is materialized ONCE; without this the whole retrieve tail
        // re-evaluates per consumer (measured 29 s vs 8 s at sf0.1)
        val bm = Retrieval.bm25TopK(toked, "doc_id", "text",
          queries, "qid", "qtext", topK = 20).localCheckpoint()
        val seed = bm.filter(col("rank") === 1)
          .select(col("query_id"), col("doc"))
        val seedVecs = emb.join(seed, emb("vec_id") === seed("doc"))
          .select(col("query_id").as("vec_id"), col("embedding"))
        val ann = Similarity.topK(emb, seedVecs, "vec_id", "embedding", k = 20)
          .localCheckpoint()
        val fused = Retrieval.rrfFuse(Seq(
          bm.select(col("query_id"), col("doc"), col("rank")),
          ann.select(col("query_id"), col("nn_id").as("doc"), col("rank"))),
          topK = 10)
        val mmr = Similarity.diversifyMmr(
          fused.select(col("query_id"), col("doc").as("nn_id"), col("score")),
          emb, "vec_id", "embedding", k = 5, lambda = 0.5).localCheckpoint()
        val toks = toked.select(col("doc_id").as("nn_id"),
          size(col("tk")).cast("long").as("doc_toks"))
        val sel = mmr.join(toks, Seq("nn_id"))
        val packed = Corpus.packSequences(
          sel.select(col("query_id"), col("rank"), col("doc_toks")),
          idCol = "rank", tokensCol = "doc_toks", capacity = 256,
          streamCol = Some("query_id"))
        packed.select(col("stream").as("query_id"), col("doc").as("rank"),
            col("n_toks"), col("start_offset"), col("seq_first"),
            col("seq_last"))
          .join(mmr, Seq("query_id", "rank"))
          .select(col("query_id"), col("nn_id"), col("score"),
            col("rank").cast("int").as("rank"), col("n_toks"),
            col("start_offset"), col("seq_first"), col("seq_last"))
      },
      contextFullOracleSql),

    ("retrieval_context_full_ingested",
      (s: SparkSession, dir: String) => {
        // the PERSISTED-INDEX capstone twin — production RAG serves
        // from persisted tables, not per-request corpus scans: BM25
        // retrieves from the ingested posting/length/stats tables
        // (bit-identical to the per-run tokenizer), the PRF-ANN leg
        // probes the ingested IVF-PQ index at EXACTNESS parameters
        // (nProbe = nCentroids probes every cell; nCandidates ≥ corpus
        // rescores every candidate exactly — chosen so the stage is
        // bit-identical to the per-run brute leg and the twin SHARES
        // the capstone oracle; a production probe tunes both down and
        // trades recall), MMR diversifies against the index's persisted
        // normalized vectors, and the pack stage takes its token counts
        // from BM25's `_dl` length table (dl IS the whitespace token
        // count — same tokenizer). The documents corpus is scanned
        // ZERO times in the probe DAG (PlanSpec asserts it); the only
        // raw-parquet touch is the embeddings seed lookup, an id-keyed
        // fetch a production deployment serves from an id-bucketed
        // store. Same materialize-once discipline as the per-run
        // capstone (each k-bounded rank list has several eager
        // consumers).
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .join(emb.select(col("vec_id")), col("doc_id") === col("vec_id"),
            "left_semi")
        val bmT = s"graft_ctx_bm25_${dirSuffix(dir)}"
        val annT = s"graft_ctx_ivfpq_${dirSuffix(dir)}"
        builtOnce(s, bmT) {
          Bm25.ingest(docs, bmT)
          IvfPq.ingest(emb, annT)
        }
        val queries = Seq((9001L, "spark window join"),
          (9002L, "hash merge sort"), (9003L, "customer query table"))
          .toDF("qid", "qtext")
        val bm = Retrieval.bm25TopKIngested(s, bmT, queries, "qid", "qtext",
          topK = 20).localCheckpoint()
        val seed = bm.filter(col("rank") === 1)
          .select(col("query_id"), col("doc"))
        val seedVecs = emb.join(seed, emb("vec_id") === seed("doc"))
          .select(col("query_id").as("vec_id"), col("embedding"))
        val ann = Similarity.topKIvfPqIngested(s, annT, seedVecs,
          "vec_id", "embedding", k = 20, nProbe = 16, nCandidates = 1 << 20)
          .localCheckpoint()
        val fused = Retrieval.rrfFuse(Seq(
          bm.select(col("query_id"), col("doc"), col("rank")),
          ann.select(col("query_id"), col("nn_id").as("doc"), col("rank"))),
          topK = 10)
        val mmr = Similarity.diversifyMmrIngested(s, s"${annT}_vectors",
          fused.select(col("query_id"), col("doc").as("nn_id"), col("score")),
          k = 5, lambda = 0.5).localCheckpoint()
        val toks = graft.ops.Snapshots.readAsOf(s, s"${bmT}_dl", bmT, None)
          .select(col("doc").as("nn_id"), col("dl").as("doc_toks"))
        val sel = mmr.join(toks, Seq("nn_id"))
        val packed = Corpus.packSequences(
          sel.select(col("query_id"), col("rank"), col("doc_toks")),
          idCol = "rank", tokensCol = "doc_toks", capacity = 256,
          streamCol = Some("query_id"))
        packed.select(col("stream").as("query_id"), col("doc").as("rank"),
            col("n_toks"), col("start_offset"), col("seq_first"),
            col("seq_last"))
          .join(mmr, Seq("query_id", "rank"))
          .select(col("query_id"), col("nn_id"), col("score"),
            col("rank").cast("int").as("rank"), col("n_toks"),
            col("start_offset"), col("seq_first"), col("seq_last"))
      },
      contextFullOracleSql),

    ("retrieval_context_full_asof",
      (s: SparkSession, dir: String) => {
        // the capstone's AS-OF twin — the audit/repro question asked at
        // the SERVING-PATH level: both indexes ingest the even-id half
        // (batch 0) and append the odd half (batch 1), and the whole
        // RAG DAG — BM25 retrieval, the exactness-parameter PRF-ANN
        // probe, MMR over the persisted vectors, `_dl` token counts for
        // packing — serves at asOf = 0. Every stage's snapshot read is
        // exactly the batch-0 slice (BM25's df derives from the
        // filtered postings; the ANN leg probes every cell and rescores
        // every candidate, so frozen-quantizer details cannot leak), so
        // the gate shares a first-batch-only capstone oracle — the hash
        // match pins the END-TO-END snapshot, not one index at a time.
        // Zero documents scans in the probe DAG, as on the ingested
        // twin (PlanSpec asserts it).
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .join(emb.select(col("vec_id")), col("doc_id") === col("vec_id"),
            "left_semi")
        val bmT = s"graft_ctxa_bm25_${dirSuffix(dir)}"
        val annT = s"graft_ctxa_ivfpq_${dirSuffix(dir)}"
        builtOnce(s, bmT) {
          Bm25.ingest(docs.filter(col("doc_id") % 2 === 0), bmT)
          Bm25.append(s, bmT, docs.filter(col("doc_id") % 2 =!= 0))
          IvfPq.ingest(emb.filter(col("vec_id") % 2 === 0), annT)
          IvfPq.append(s, annT, emb.filter(col("vec_id") % 2 =!= 0))
        }
        val asOf0 = Some(0L)
        val queries = Seq((9001L, "spark window join"),
          (9002L, "hash merge sort"), (9003L, "customer query table"))
          .toDF("qid", "qtext")
        val bm = Retrieval.bm25TopKIngested(s, bmT, queries, "qid", "qtext",
          topK = 20, asOf = asOf0).localCheckpoint()
        val seed = bm.filter(col("rank") === 1)
          .select(col("query_id"), col("doc"))
        val seedVecs = emb.join(seed, emb("vec_id") === seed("doc"))
          .select(col("query_id").as("vec_id"), col("embedding"))
        val ann = Similarity.topKIvfPqIngested(s, annT, seedVecs,
          "vec_id", "embedding", k = 20, nProbe = 16, nCandidates = 1 << 20,
          asOf = asOf0).localCheckpoint()
        val fused = Retrieval.rrfFuse(Seq(
          bm.select(col("query_id"), col("doc"), col("rank")),
          ann.select(col("query_id"), col("nn_id").as("doc"), col("rank"))),
          topK = 10)
        val mmr = Similarity.diversifyMmrIngested(s, s"${annT}_vectors",
          fused.select(col("query_id"), col("doc").as("nn_id"), col("score")),
          k = 5, lambda = 0.5, asOf = Some((annT, 0L))).localCheckpoint()
        val toks = graft.ops.Snapshots.readAsOf(s, s"${bmT}_dl", bmT, asOf0)
          .select(col("doc").as("nn_id"), col("dl").as("doc_toks"))
        val sel = mmr.join(toks, Seq("nn_id"))
        val packed = Corpus.packSequences(
          sel.select(col("query_id"), col("rank"), col("doc_toks")),
          idCol = "rank", tokensCol = "doc_toks", capacity = 256,
          streamCol = Some("query_id"))
        packed.select(col("stream").as("query_id"), col("doc").as("rank"),
            col("n_toks"), col("start_offset"), col("seq_first"),
            col("seq_last"))
          .join(mmr, Seq("query_id", "rank"))
          .select(col("query_id"), col("nn_id"), col("score"),
            col("rank").cast("int").as("rank"), col("n_toks"),
            col("start_offset"), col("seq_first"), col("seq_last"))
      },
      contextFullOracleSqlOver("doc_id % 2 = 0", "vec_id % 2 = 0")),
    // ---- text analysis ----------------------------------------------------
    ("text_quality",
      (s: SparkSession, dir: String) =>
        TextAnalysis.quality(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"),
            col("avg_token_len"), col("punct_ratio"), col("stopword_ratio"),
            col("quality_score")),
      s"""WITH $textBCte,
         |$qualityCtes
         |SELECT doc_id, n_chars_calc, n_tokens, avg_token_len, punct_ratio,
         |       stopword_ratio, quality_score FROM qual""".stripMargin),

    ("text_repetition",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // degenerate-text fixture rows ride along so the gate PINS their
        // semantics: NULL text (NULL n_tokens + metrics), empty text and
        // whitespace-only text (n_tokens = 0, NULL metrics — an
        // untrimmed split would score them maximally repetitive), and
        // padded text (trim must not create empty-string tokens)
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq(
            (99991L, Option.empty[String]),
            (99990L, Some("")),
            (99989L, Some(" \t  ")),
            (99988L, Some("  pad pad\t"))).toDF("doc_id", "text"))
        TextAnalysis.repetitionStats(d, "doc_id", "text")
      },
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              UNION ALL SELECT 99991, NULL
         |              UNION ALL SELECT 99990, ''
         |              UNION ALL SELECT 99989, ' ' || chr(9) || '  '
         |              UNION ALL SELECT 99988, '  pad pad' || chr(9)),
         |${repetitionCtes("docs")}
         |SELECT doc_id, rep_n_tokens AS n_tokens, top_word_frac,
         |       top_bigram_frac, distinct_frac
         |FROM rep""".stripMargin),

    ("text_langid",
      (s: SparkSession, dir: String) =>
        TextAnalysis.langId(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("lang_pred")),
      s"""WITH $textBCte,
         |$langCtes
         |SELECT doc_id, lang_pred FROM lang""".stripMargin),

    ("text_tokenstats",
      (s: SparkSession, dir: String) =>
        TextAnalysis.tokenStats(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("ws_tokens"), col("bpeish_tokens"), col("chars")),
      raw"""SELECT doc_id,
           |  CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS ws_tokens,
           |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS bpeish_tokens,
           |  CAST(length(text) AS INT) AS chars
           |FROM documents""".stripMargin),

    ("text_fingerprint",
      (s: SparkSession, dir: String) =>
        TextAnalysis.fingerprint(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("fingerprint")),
      s"SELECT doc_id, ${rhSql("text")} AS fingerprint FROM documents"),

    ("text_chunk",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // a NULL-text document must survive chunking as one
        // (doc, 0, NULL, NULL) row, not silently vanish
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
        TextAnalysis.chunk(d, "doc_id", "text", chunkTokens = 16, stride = 8)
      },
      // the CASE keeps one (doc, 0, NULL, NULL) row for a NULL text,
      // mirroring TextAnalysis.chunk — generate_series(0, NULL) would
      // emit nothing and silently drop the document
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              UNION ALL SELECT 99991, NULL),
         |b AS (SELECT doc_id AS doc, string_split_regex(lower(text), '\\s+') AS tk FROM docs),
         |c AS (SELECT doc, unnest(generate_series(0, CASE WHEN tk IS NULL THEN 0 ELSE greatest((len(tk) - 1) // 8, 0) END)) AS chunk_idx, tk FROM b),
         |sl AS (SELECT doc, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |              tk[chunk_idx * 8 + 1 : chunk_idx * 8 + 16] AS ck FROM c)
         |SELECT doc, chunk_idx, array_to_string(ck, ' ') AS chunk_text,
         |       CAST(len(ck) AS BIGINT) AS n_tokens
         |FROM sl""".stripMargin),

    ("text_normalize",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // Unicode NFC edge matrix with LITERAL inputs (the
        // corpus_pack_edges pattern): combining-mark compositions
        // (acute, ring), an already-precomposed twin, pure ASCII (the
        // zero-copy fast path), Hangul jamo composition, empty, NULL.
        // graft_nfc is the codegen'd java.text.Normalizer expression;
        // the oracle is DuckDB's utf8proc-backed nfc_normalize — two
        // independent implementations of the same Unicode standard.
        // Lengths use byte semantics (octet_length = strlen), the
        // cross-engine-unambiguous count.
        // \u escapes, not raw glyphs: rows 1/2/4 are DECOMPOSED
        // (base + combining mark), row 3 the precomposed twin, row 6 a
        // Hangul jamo pair — visually identical in an editor, which is
        // exactly why the distinction must live in escapes
        val rows = Seq(
          (1L, "cafe\u0301"), (2L, "e\u0301le\u0301phant"),
          (3L, "caf\u00e9"), (4L, "A\u030a"), (5L, "plain"),
          (6L, "\u1100\u1161"), (7L, ""), (8L, null: String))
        rows.toDF("id", "raw")
          .select(col("id"), col("raw"),
            graft.functions.NfcNormalize.nfc(col("raw")).as("nfc"))
          .select(col("id"), col("raw"), col("nfc"),
            (col("raw") =!= col("nfc")).as("changed"),
            octet_length(col("raw")).cast("long").as("n_before"),
            octet_length(col("nfc")).cast("long").as("n_after"))
      },
      """WITH base(id, raw) AS (VALUES
        |  (1, 'cafe' || chr(769)),
        |  (2, 'e' || chr(769) || 'le' || chr(769) || 'phant'),
        |  (3, 'caf' || chr(233)), (4, 'A' || chr(778)), (5, 'plain'),
        |  (6, chr(4352) || chr(4449)), (7, ''), (8, NULL)),
        |n AS (SELECT CAST(id AS BIGINT) AS id, raw,
        |             nfc_normalize(raw) AS nfc FROM base)
        |SELECT id, raw, nfc, raw <> nfc AS changed,
        |       CAST(strlen(raw) AS BIGINT) AS n_before,
        |       CAST(strlen(nfc) AS BIGINT) AS n_after FROM n""".stripMargin),

    ("text_scrub",
      (s: SparkSession, dir: String) =>
        TextAnalysis.scrub(
          // synthesize pii-shaped content deterministically from real rows
          t(s, dir, "documents").select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or https://ex.com/p?id="), col("doc_id"),
              lit(" ref "), col("doc_id")).as("text")), "text")
          .select(col("doc_id"), col("scrubbed")),
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id || '@example.com or https://ex.com/p?id=' || doc_id || ' ref ' || doc_id,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin),

    ("corpus_split",
      (s: SparkSession, dir: String) =>
        TextAnalysis.hashSplit(t(s, dir, "documents"), "text",
          trainPct = 80, valPct = 10)
          .groupBy(col("split")).agg(count(lit(1)).as("n")),
      s"""SELECT CASE WHEN ${rhSql("text")} % 100 < 80 THEN 'train'
         |            WHEN ${rhSql("text")} % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split, CAST(count(*) AS BIGINT) AS n
         |FROM documents GROUP BY 1""".stripMargin),

    ("corpus_filter_neardup",
      (s: SparkSession, dir: String) =>
        Corpus.trainingFilterNearDup(t(s, dir, "documents"), "doc_id", "text",
          minQuality = 0.5, lang = "en",
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20)),
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT d1 AS src, d2 AS dst FROM mh_pairs
         |          UNION SELECT d2, d1 FROM mh_pairs),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
         |cc AS (SELECT node, min(label) AS label FROM walk GROUP BY node),
         |$textBCte,
         |$qualityCtes,
         |$langCtes
         |SELECT d.doc_id, COALESCE(cc.label, d.doc_id) AS cluster,
         |       lang_pred, quality_score
         |FROM documents d
         |LEFT JOIN cc ON d.doc_id = cc.node
         |JOIN qual ON qual.doc_id = d.doc_id JOIN lang ON lang.doc_id = d.doc_id
         |WHERE COALESCE(cc.label, d.doc_id) = d.doc_id
         |  AND lang_pred = 'en' AND quality_score >= 0.5""".stripMargin),

    ("corpus_sample",
      (s: SparkSession, dir: String) =>
        TextAnalysis.hashSample(t(s, dir, "documents"), "text", pct = 30)
          .select(col("doc_id")),
      s"SELECT doc_id FROM documents WHERE ${rhSql("text")} % 100 < 30"),

    ("text_bpe_learn",
      (s: SparkSession, dir: String) =>
        // distributed BPE merge learning (Sennrich et al. 2016) over
        // the documents corpus: 8 merges, each one pair-count groupBy
        // over the DISTINCT-WORD table (O(vocab) per round, not
        // O(corpus)) + a one-scalar argmax + a narrow replace. The
        // oracle unrolls the identical 8 rounds in CTEs
        Bpe.learnMerges(t(s, dir, "documents"), "text", nMerges = 8),
      bpeLearnOracle(8)),

    ("text_bpe_learn_batched",
      (s: SparkSession, dir: String) =>
        // the MERGE-COUNT scaling path: 8 merges in ceil(8/4) = 2
        // rounds — per round ONE pair-count job, a 16-candidate
        // driver list, and a greedy non-interacting selection of up to
        // 4 pairs whose replaces provably commute (job count
        // O(nMerges/T) instead of O(nMerges) — the 30k-vocab fix).
        // The oracle replays the identical rounds: same candidate
        // ranking, same {a, b, a+b} touched-set admissibility as a
        // recursive fold, same in-order replace application — the hash
        // match pins every selection decision of the batched variant
        Bpe.learnMerges(t(s, dir, "documents"), "text", nMerges = 8,
          batchT = 4, candidateCap = 16),
      bpeLearnBatchedOracle(8, 4, 16)),

    ("text_bpe_encode",
      (s: SparkSession, dir: String) => {
        // re-tokenize with the learned merge table: per-document BPE
        // token counts, the number every packing/budget operator
        // downstream consumes. The merge table is vocabulary-sized —
        // collected once, applied as a fold of narrow replaces
        val d = t(s, dir, "documents")
        val merges = Bpe.learnMerges(d, "text", nMerges = 8)
          .orderBy(col("step"))
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        Bpe.encodeTokenCounts(d, "doc_id", "text", merges)
      },
      bpeEncodeOracle(8)),

    ("corpus_weighted_sample",
      (s: SparkSession, dir: String) =>
        // quality-weighted selection without replacement (deterministic
        // Efraimidis-Spirakis, content-hash uniforms): high-quality
        // docs win proportionally more often, membership never
        // re-rolls across runs or shardings
        TextAnalysis.weightedSample(
          TextAnalysis.quality(t(s, dir, "documents"), "text"),
          "doc_id", "text", "quality_score", k = 25)
          .select(col("doc_id"), col("quality_score"), col("wkey")),
      {
        val wkey = Num.r6Sql(
          s"ln((CAST(${rhSql("text")} AS DOUBLE) + 1.0) / 1000000008.0) / quality_score")
        s"""WITH $textBCte,
           |$qualityCtes
           |SELECT doc_id, quality_score, $wkey AS wkey
           |FROM qual JOIN documents USING (doc_id)
           |WHERE text IS NOT NULL AND quality_score > 0.0
           |ORDER BY wkey DESC, doc_id ASC LIMIT 25""".stripMargin
      }),

    ("corpus_stratified_sample",
      (s: SparkSession, dir: String) => {
        // class-balancing: downsample the dominant language hard (20%),
        // keep unidentified docs at 80% — membership is content-hash
        // stable, never re-rolled
        val lang = TextAnalysis.langId(t(s, dir, "documents"), "text")
        TextAnalysis.stratifiedSample(lang, "lang_pred", "text",
          pcts = Map("en" -> 20, "und" -> 80), defaultPct = 50)
          .select(col("doc_id"), col("lang_pred"))
      },
      s"""WITH $textBCte,
         |$langCtes
         |SELECT l.doc_id, l.lang_pred
         |FROM lang l JOIN documents d ON l.doc_id = d.doc_id
         |WHERE ${rhSql("d.text")} % 100 <
         |  CASE l.lang_pred WHEN 'en' THEN 20 WHEN 'und' THEN 80 ELSE 50 END""".stripMargin),

    ("text_vocab",
      (s: SparkSession, dir: String) =>
        Corpus.vocab(t(s, dir, "documents"), "text", topN = 20),
      s"""WITH toks AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token)
         |SELECT token, cnt FROM v ORDER BY cnt DESC, token LIMIT 20""".stripMargin),

    ("text_tfidf",
      (s: SparkSession, dir: String) =>
        Corpus.tfIdf(t(s, dir, "documents"), "doc_id", "text"),
      {
        val w = Num.r6Sql(
          "(CAST(cnt AS DOUBLE) / CAST(dlen AS DOUBLE)) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))")
        s"""WITH toks AS (SELECT doc_id AS doc, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents),
           |tf AS (SELECT doc, token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY doc, token),
           |dl AS (SELECT doc, sum(cnt) AS dlen FROM tf GROUP BY doc),
           |dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
           |SELECT doc, token, cnt, $w AS tf_idf
           |FROM tf JOIN dl USING (doc) JOIN dfr USING (token) CROSS JOIN nn""".stripMargin
      }),

    ("corpus_domain_cap",
      (s: SparkSession, dir: String) => {
        // deterministic URLs synthesized from the id (37 domains) — the
        // web-corpus "no site dominates" admission rule over a salted
        // two-stage rank
        val d = t(s, dir, "documents").select(col("doc_id"),
          concat(lit("https://site"), pmod(col("doc_id"), lit(37)),
            lit(".example.com/p/"), col("doc_id")).as("url"))
        Corpus.domainCap(d, "doc_id", "url", maxPerDomain = 5)
          .select(col("doc_id"), col("domain"), col("rank_in_domain"))
      },
      """WITH u AS (SELECT doc_id,
        |             'https://site' || (doc_id % 37) || '.example.com/p/' || doc_id AS url
        |           FROM documents),
        |d AS (SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS domain FROM u),
        |r AS (SELECT doc_id, domain,
        |        row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rank_in_domain
        |      FROM d)
        |SELECT doc_id, domain, CAST(rank_in_domain AS INT) AS rank_in_domain
        |FROM r WHERE rank_in_domain <= 5""".stripMargin),

    ("corpus_decontaminate",
      (s: SparkSession, dir: String) => {
        // the "benchmark" is a corpus subset (every 37th doc), so eval
        // docs are guaranteed contaminated (they match themselves) and
        // near-duplicates of them get caught through shared 8-grams —
        // the standard n range for decontamination is 8-13. A NULL-text
        // row rides along: it must pass the gate with 0 hits, not vanish
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
        Corpus.decontaminate(docs, docs.filter(col("doc_id") % 37 === 0),
          "doc_id", "text", n = 8)
      },
      decontamOracleSql),

    ("corpus_decontaminate_ingested",
      (s: SparkSession, dir: String) => {
        // decontamination's pay-once index: the eval suite's distinct
        // 8-gram hash set is tokenized ONCE into an h-bucketed table
        // (+n sidecar) and the admission probe reads it exchange-free —
        // at 100 TB the per-run operator re-hashes the eval suite per
        // batch and assumes it broadcasts; this twin does neither.
        // Built as ingest(every-74th) + append(every-37th): the append
        // anti-joins (h, doc) pairs already present, so OVERLAPPING
        // benchmark batches (the %74 set is a subset of the %37 set)
        // land every pair exactly once, and the probe dedups to
        // distinct h (exchange-free — h is the bucket key) before
        // counting, so a shared hash can never double-count n_hits.
        // ingest+append ≡ the per-run operator's eval hash set, so
        // this SHARES its oracle.
        import s.implicits._
        val table = s"graft_decontam_${dirSuffix(dir)}"
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
        builtBatches(s, table, Decontam)(docs.filter(col("doc_id") % 74 === 0),
          docs.filter(col("doc_id") % 37 === 0))
        Corpus.decontaminateIngested(s, table, docs, "doc_id", "text")
      },
      decontamOracleSql),

    ("corpus_decontaminate_asof",
      (s: SparkSession, dir: String) => {
        // SNAPSHOT admission for the decontamination index — "gate this
        // corpus against the eval suite as it stood at batch 0": the
        // %37 benchmarks ingest as batch 0, a later suite appends as
        // batch 1, and the asOf(0) probe must gate against EXACTLY the
        // batch-0 hashes (batch-1 rows are invisible even though they
        // share files and buckets) — so it shares the %37-only oracle,
        // completing the as-of verb across all SEVEN persisted
        // families.
        import s.implicits._
        val table = s"graft_decontam_asof_${dirSuffix(dir)}"
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
        builtBatches(s, table, Decontam)(docs.filter(col("doc_id") % 37 === 0),
          docs.filter(col("doc_id") % 5 === 3 && col("doc_id") % 37 =!= 0))
        Corpus.decontaminateIngested(s, table, docs, "doc_id", "text",
          asOf = Some(0L))
      },
      decontamOracleSql),

    ("corpus_decontaminate_deleted",
      (s: SparkSession, dir: String) => {
        // DELETE for the decontamination index — the benchmark
        // RETRACTION verb: a withdrawn eval suite must stop gating
        // admission without a full re-hash. Ingest the %37 benchmarks
        // PLUS a retractable %5=3 suite (disjointified — docs in both
        // stay), tombstone the retractable docs, probe. Because the
        // index is (h, doc) pairs, a hash SHARED between a retracted
        // and a remaining benchmark keeps gating through the surviving
        // row while hashes only the retracted suite contributed stop —
        // so ingest(A∪B); delete(B) is BIT-IDENTICAL to ingest(A) at
        // probe time and this gate shares the %37-only oracle: the
        // hash match IS the retraction proof. Physical drop rides
        // compactDecontamIndex.
        import s.implicits._
        val table = s"graft_decontam_del_${dirSuffix(dir)}"
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
        val keepSuite = col("doc_id") % 37 === 0
        val retractable = col("doc_id") % 5 === 3 && col("doc_id") % 37 =!= 0
        builtDeleted(s, table, Decontam, docs.filter(keepSuite || retractable))(
          docs.filter(retractable))
        Corpus.decontaminateIngested(s, table, docs, "doc_id", "text")
      },
      decontamOracleSql),

    ("corpus_decontaminate_report",
      (s: SparkSession, dir: String) => {
        // attribution view over the same %37 benchmark slice as the
        // gate; minShared=2 so the report carries evidence-grade pairs
        // (a single shared 8-gram can be coincidence; two begins to
        // look like leakage). Every eval doc attributes to itself with
        // its full distinct-8-gram count — the self-pair is the
        // sanity row that proves the counting is complete
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        Corpus.decontaminateReport(docs, docs.filter(col("doc_id") % 37 === 0),
          "doc_id", "text", n = 8, minShared = 2L)
      },
      s"""WITH ${tokenShingleCte(8, "documents")},
         |h0 AS (SELECT DISTINCT doc, ${rhSql("sh")} AS h FROM sh0),
         |ev AS (SELECT doc AS eval_doc, h FROM h0 WHERE doc % 37 = 0)
         |SELECT ev.eval_doc, h0.doc AS train_doc,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM h0 JOIN ev USING (h)
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    ("corpus_dsir",
      (s: SparkSession, dir: String) => {
        // DSIR importance weights: the every-7th-doc slice plays the
        // target domain, the full table is the raw pool. 64 hash
        // buckets keep the λ table literal-sized at any corpus scale
        // (the hashing trick) while leaving real signal at the fixture
        // size. Target docs themselves score high — the sanity property
        // DsirSpec pins.
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        Corpus.dsirWeights(docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", nBuckets = 64)
          .select(col("id").as("doc_id"), col("logw"))
      },
      s"""WITH $dsirCtes
         |SELECT doc_id, logw FROM dw""".stripMargin),

    ("corpus_sample_gumbel",
      (s: SparkSession, dir: String) => {
        // weighted-without-replacement corpus sampling via the Gumbel
        // top-k trick over the DSIR log-weights — the resampling pass
        // dsirWeights' contract points at. Noise is a pure per-row
        // function of the doc's own id (rolling hash → uniform →
        // −ln(−ln u), r6'd at birth), so the "random" sample is
        // byte-reproducible on any engine and partitioning; the top-k
        // is a TakeOrdered, never a global sort.
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val w = Corpus.dsirWeights(docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", nBuckets = 64)
        Corpus.gumbelTopK(w, "id", "logw", k = 100)
          .select(col("id").as("doc_id"), col("logw"),
            col("gumbel_key"), col("rank"))
      },
      {
        val u = s"((CAST((${rhSql("CAST(doc_id AS VARCHAR)")}) % 1000000 AS DOUBLE) + 0.5) / 1000000.0)"
        val g = Num.r6Sql(s"-ln(-ln($u))")
        s"""WITH $dsirCtes,
           |gk AS (SELECT doc_id, logw, ($g) + logw AS gumbel_key FROM dw)
           |SELECT doc_id, logw, gumbel_key, CAST(rank AS INT) AS rank FROM (
           |  SELECT *, row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS rank FROM gk)
           |WHERE rank <= 100""".stripMargin
      }),

    ("similarity_bitext_margin",
      (s: SparkSession, dir: String) => {
        // margin-based bitext mining (Artetxe & Schwenk): even vec_ids
        // play the source language, odd the target; ratio margin over
        // forward ∪ backward top-4 lists; rank 1 per src is the mined
        // pair. The full ranked candidate table is the gate output so
        // the oracle pins margins and order, not just the argmax.
        val e = t(s, dir, "embeddings")
        Similarity.bitextMine(e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", k = 4)
      },
      {
        val score = Num.r6Sql(dotSql("y.v", "x.v"))
        s"""WITH nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings),
           |fsc AS (SELECT x.id AS src_id, y.id AS tgt_id, $score AS score
           |        FROM nv x JOIN nv y ON x.id % 2 = 0 AND y.id % 2 = 1),
           |frk AS (SELECT src_id, tgt_id, CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS m FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY score DESC, tgt_id) AS rn FROM fsc)
           |  WHERE rn <= 4),
           |brk AS (SELECT src_id, tgt_id, CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS m FROM (
           |  SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY score DESC, src_id) AS rn FROM fsc)
           |  WHERE rn <= 4),
           |sx AS (SELECT src_id, sum(m) AS sxm, count(*) AS nx FROM frk GROUP BY src_id),
           |sy AS (SELECT tgt_id, sum(m) AS sym, count(*) AS ny FROM brk GROUP BY tgt_id),
           |cand AS (SELECT src_id, tgt_id, max(m) AS m FROM (
           |  SELECT src_id, tgt_id, m FROM frk UNION ALL SELECT src_id, tgt_id, m FROM brk)
           |  GROUP BY src_id, tgt_id),
           |mg AS (SELECT c.src_id, c.tgt_id,
           |         ${Num.r6Sql("CAST(c.m AS DOUBLE) / 1000000.0")} AS score,
           |         ${Num.r6Sql("CAST(c.m * 2 * sx.nx * sy.ny AS DOUBLE) / CAST(sx.sxm * sy.ny + sy.sym * sx.nx AS DOUBLE)")} AS margin
           |       FROM cand c JOIN sx ON c.src_id = sx.src_id
           |                   JOIN sy ON c.tgt_id = sy.tgt_id)
           |SELECT src_id, tgt_id, score, margin, CAST(rank AS INT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rank FROM mg)""".stripMargin
      }),

    ("similarity_bitext_margin_ann",
      (s: SparkSession, dir: String) => {
        // the corpus-scale bitext miner: both directional k-NN lists
        // come from LSH band-key equi-joins (never all pairs — the fix
        // for the exact variant's measured 1.9×-linear scaling);
        // count-based margins average each list over its ACTUAL length,
        // so LSH misses shorten lists without biasing the ratio.
        val e = t(s, dir, "embeddings")
        Similarity.bitextMineAnn(e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
          k = 4, nPlanes = 4, nTables = 16)
      },
      bitextAnnOracleSql(nPlanes = 4, nTables = 16, k = 4)),

    ("similarity_bitext_mined",
      (s: SparkSession, dir: String) => {
        // the end-to-end emission twin: the ANN miner's ranked margins
        // pass the CCMatrix-style gate — margin ≥ 1.0 (the ratio's
        // natural "better than its neighborhood average" point), best
        // candidate per src, MUTUAL one-best per tgt — everything
        // k-bounded downstream of the rank lists, no corpus re-access.
        // Yield-vs-threshold on the clustered fixture is measured in
        // SCALING.md; the threshold here exercises a selective cut.
        val e = t(s, dir, "embeddings")
        Similarity.bitextMinedPairs(
          Similarity.bitextMineAnn(e.filter(col("vec_id") % 2 === 0),
            e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
            k = 4, nPlanes = 4, nTables = 16),
          threshold = 1.0)
      },
      bitextMinedOracleSql(nPlanes = 4, nTables = 16, k = 4, threshold = 1.0)),

    ("corpus_select_budget",
      (s: SparkSession, dir: String) => {
        // quality-prioritized token-budget cut over the standard scorer;
        // budget 20k bytes is selective at the verify SF and above and
        // exceeds the corpus at sf0.001 (pinning the admit-everything
        // edge); byte counts as the engine-safe token stand-in
        val scored = TextAnalysis.quality(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("quality_score"),
            octet_length(col("text")).cast("long").as("nb"))
        Corpus.selectByTokenBudget(scored, "doc_id", "quality_score", "nb",
          budget = 20000L, nBins = 1000)
      },
      s"""WITH $textBCte,
         |$qualityCtes,
         |sb_d AS (SELECT q.doc_id, q.quality_score,
         |        greatest(COALESCE(CAST(strlen(dd.text) AS BIGINT), 0), 0) AS n
         |      FROM qual q JOIN documents dd USING (doc_id)),
         |sb_b AS (SELECT doc_id, quality_score, n,
         |        CAST(least(999, greatest(0,
         |          CAST(floor(COALESCE(quality_score, 0.0) * 1000) AS BIGINT))) AS INT) AS bin
         |      FROM sb_d),
         |sb_hist AS (SELECT bin, sum(n) AS toks FROM sb_b GROUP BY bin),
         |sb_cum AS (SELECT bin, toks,
         |          COALESCE(sum(toks) OVER (ORDER BY bin DESC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
         |        FROM sb_hist),
         |sb_sel AS (SELECT bin, toks, above,
         |          CASE WHEN above + toks <= 20000 THEN 2
         |               WHEN above <= 20000 THEN 1 ELSE 0 END AS cls
         |        FROM sb_cum),
         |sb_bd AS (SELECT bin AS tbin,
         |         CAST(CAST(20000 - above AS HUGEINT) * 1000000 // toks AS BIGINT) AS ppm
         |       FROM sb_sel WHERE cls = 1)
         |SELECT sb_b.doc_id, sb_b.quality_score, sb_b.n AS n_toks, sb_b.bin
         |FROM sb_b JOIN sb_sel ON sb_b.bin = sb_sel.bin
         |LEFT JOIN sb_bd ON sb_b.bin = sb_bd.tbin
         |WHERE sb_sel.cls = 2
         |   OR (sb_sel.cls = 1 AND ${rhSql("CAST(sb_b.doc_id AS VARCHAR)")} % 1000000 < sb_bd.ppm)""".stripMargin),

    ("corpus_gopher",
      (s: SparkSession, dir: String) =>
        Corpus.gopherFilter(t(s, dir, "documents"), "doc_id", "text"),
      s"""WITH $textBCte,
         |$qualityCtes,
         |${repetitionCtes("documents")}
         |SELECT q.doc_id, q.n_tokens, q.avg_token_len, q.stopword_ratio,
         |       r.top_word_frac, r.distinct_frac
         |FROM qual q JOIN rep r ON q.doc_id = r.doc_id
         |WHERE q.n_tokens BETWEEN 40 AND 100000
         |  AND q.avg_token_len BETWEEN 3.0 AND 10.0
         |  AND q.stopword_ratio >= 0.05
         |  AND r.top_word_frac <= 0.2
         |  AND r.distinct_frac >= 0.3""".stripMargin),

    ("corpus_quality_model",
      (s: SparkSession, dir: String) => {
        // TRAINED quality classifier: logistic model over hashed
        // uni+bigram counts (64 buckets + bias — the weight vector is
        // literal-sized at any corpus scale), weak labels from the
        // Gopher rules (the standard bootstrap when no human labels
        // exist), 2 deterministic full-batch gradient steps whose
        // arithmetic the oracle replays verbatim (integer micro-units,
        // r6'd sigmoid, truncating integer division). The corpus is
        // tokenized + hashed ONCE; each step works on the bucket-count
        // relation, never the text.
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val pass = Corpus.gopherFilter(d, "doc_id", "text").select(col("doc_id"))
        val labels = d.select(col("doc_id"))
          .join(pass.withColumn("label", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("label"), lit(0)).as("label"))
        Corpus.qualityModel(d, "doc_id", "text", labels,
          nBuckets = 64, steps = 2)
          .select(col("id").as("doc_id"), col("score"), col("pred"))
      },
      {
        val sig = Num.r6Sql("1.0 / (1.0 + exp(-CAST(zm AS DOUBLE) / 1000000.0))")
        val pm = s"CAST(floor(($sig) * 1000000.0 + 0.5) AS BIGINT)"
        def step(i: Int) =
          s"""z$i AS (SELECT doc_id, sum(c * wm) AS zm
             |       FROM db2 JOIN w$i USING (b) GROUP BY doc_id),
             |e$i AS (SELECT z$i.doc_id, $pm - ym AS errm
             |       FROM z$i JOIN lbl USING (doc_id)),
             |g$i AS (SELECT b, sum(errm * c) AS g
             |       FROM db2 JOIN e$i USING (doc_id) GROUP BY b),
             |w${i + 1} AS (SELECT w.b, w.wm - coalesce(g.g, 0) // (2 * (SELECT n FROM nn)) AS wm
             |       FROM w$i w LEFT JOIN g$i g USING (b))""".stripMargin
        s"""WITH $textBCte,
           |$qualityCtes,
           |${repetitionCtes("documents")},
           |lbl AS (SELECT q.doc_id,
           |          CASE WHEN q.n_tokens BETWEEN 40 AND 100000
           |                AND q.avg_token_len BETWEEN 3.0 AND 10.0
           |                AND q.stopword_ratio >= 0.05
           |                AND r.top_word_frac <= 0.2
           |                AND r.distinct_frac >= 0.3
           |               THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ym
           |        FROM qual q JOIN rep r ON q.doc_id = r.doc_id),
           |tkz AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
           |                                   t -> t <> '') AS tk
           |        FROM documents WHERE text IS NOT NULL),
           |gr AS (SELECT doc_id, unnest(tk) AS g FROM tkz
           |       UNION ALL
           |       SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
           |                                            i -> tk[i] || ' ' || tk[i + 1])) AS g
           |       FROM tkz),
           |fb AS (SELECT doc_id, (${rhSql("g")}) % 64 AS b FROM gr),
           |db2 AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM fb GROUP BY doc_id, b
           |        UNION ALL
           |        SELECT DISTINCT doc_id, CAST(64 AS BIGINT), CAST(1 AS BIGINT) FROM fb),
           |nn AS (SELECT count(DISTINCT doc_id) AS n FROM fb),
           |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wm FROM db2),
           |${step(0)},
           |${step(1)},
           |zf AS (SELECT doc_id, sum(c * wm) AS zm
           |       FROM db2 JOIN w2 USING (b) GROUP BY doc_id)
           |SELECT doc_id, $sig AS score, ($sig) >= 0.5 AS pred FROM zf""".stripMargin
      }),

    ("corpus_quality_streamed",
      (s: SparkSession, dir: String) => {
        // exactly-once STREAMED training of the quality classifier —
        // the online-learning twin: the labeled corpus arrives as three
        // foreachBatch deliveries (doc_id % 3), each continuing the
        // persisted weight vector with 2 gradient steps over ITS OWN
        // docs; the hashing (64 buckets) froze at ingest via the meta
        // sidecar; batch 1 is RE-delivered and must be a commit-log
        // no-op — a doubled gradient step would shift every score, and
        // this oracle (which replays the three batch updates exactly
        // once each, in order) would catch it. Scores serve from the
        // persisted weights over the full corpus.
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val pass = Corpus.gopherFilter(d, "doc_id", "text").select(col("doc_id"))
        // materialized ONCE: the labeled relation feeds every delivery's
        // feature build, label join and batch-size count (4 deliveries ×
        // 3 consumers — without this the Gopher scorer re-evaluates ~12×)
        val labeled = d
          .join(pass.withColumn("label", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("label"), lit(0)).as("label"))
          .localCheckpoint()
        val table = s"graft_qm_str_${dirSuffix(dir)}"
        Seq(table, s"${table}_meta", s"${table}_commits")
          .foreach(graft.ops.Bucketing.dropManaged(s, _))
        val deliver = Corpus.qualityModelSink(table, "doc_id", "text",
          nBuckets = 64, steps = 2)
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 0), 0L)
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 1), 1L)
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 1), 1L) // replayed
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 2), 2L)
        Corpus.qualityScoreIngested(s, table, d, "doc_id", "text")
          .select(col("id").as("doc_id"), col("score"), col("pred"))
      },
      qualityStreamedOracleSql(nBatches = 3)),

    ("corpus_quality_asof",
      (s: SparkSession, dir: String) => {
        // the AS-OF verb for the eighth persisted family — the one
        // whose state is a trained VECTOR, not rows: the batch-keyed
        // weights log scores with the vector as of a training batch
        // ("what did the quality gate say when this doc was admitted").
        // Same three deliveries + replay as the streamed gate; scoring
        // pins asOf = 1, so the oracle threads only batches 0 and 1
        // through the gradient chain — batch 2's gradient must be
        // invisible, and a doubled replay of batch 1 would shift w4.
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val table = s"graft_qm_asof_${dirSuffix(dir)}"
        builtOnce(s, table) {
          val pass = Corpus.gopherFilter(d, "doc_id", "text").select(col("doc_id"))
          val labeled = d
            .join(pass.withColumn("label", lit(1)), Seq("doc_id"), "left")
            .select(col("doc_id"), col("text"),
              coalesce(col("label"), lit(0)).as("label"))
            .localCheckpoint()
          Seq(table, s"${table}_meta", s"${table}_commits")
            .foreach(graft.ops.Bucketing.dropManaged(s, _))
          val deliver = Corpus.qualityModelSink(table, "doc_id", "text",
            nBuckets = 64, steps = 2)
          deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 0), 0L)
          deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 1), 1L)
          deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 1), 1L) // replayed
          deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 2), 2L)
        }
        Corpus.qualityScoreIngested(s, table, d, "doc_id", "text",
          asOf = Some(1L))
          .select(col("id").as("doc_id"), col("score"), col("pred"))
      },
      qualityStreamedOracleSql(nBatches = 2)),

    ("corpus_quality_asof_compacted",
      (s: SparkSession, dir: String) => {
        // RETENTION lifecycle for the weights-log family under the
        // driver's hash — the [[Corpus.compactQualityModelLog]] twin of
        // `similarity_lsh_asof_compacted`: three deliveries + a replay,
        // then compact(keepLast = 2) drops batch 0's vector rows from
        // the log (staged publish, never read-from-self). Both
        // surviving reads serve from the rewritten log: the CURRENT
        // view (batch 2's vector carries all three gradients — the
        // oracle replays the full 3-batch chain and must still match)
        // and asOf = 1 (retained). asOf = 0 sits below the retention
        // horizon and must FAIL LOUDLY rather than serve a wrong
        // vector; the gate proves it by catching the construction-time
        // IllegalStateException and riding the verdict into the hashed
        // result (`below_horizon_fails` — the oracle pins TRUE, so a
        // silently-served vector OR a lost loud-failure flips the hash).
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val pass = Corpus.gopherFilter(d, "doc_id", "text").select(col("doc_id"))
        val labeled = d
          .join(pass.withColumn("label", lit(1)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("label"), lit(0)).as("label"))
          .localCheckpoint()
        val table = s"graft_qm_cmp_${dirSuffix(dir)}"
        Seq(table, s"${table}_meta", s"${table}_commits")
          .foreach(graft.ops.Bucketing.dropManaged(s, _))
        val deliver = Corpus.qualityModelSink(table, "doc_id", "text",
          nBuckets = 64, steps = 2)
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 0), 0L)
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 1), 1L)
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 1), 1L) // replayed
        deliver(labeled.filter(pmod(col("doc_id"), lit(3)) === 2), 2L)
        Corpus.compactQualityModelLog(s, table, keepLast = 2)
        val belowHorizonFails =
          try {
            Corpus.qualityScoreIngested(s, table, d, "doc_id", "text",
              asOf = Some(0L))
            false
          } catch { case _: IllegalStateException => true }
        val cur = Corpus.qualityScoreIngested(s, table, d, "doc_id", "text")
          .select(col("id").as("doc_id"), col("score"), col("pred"))
          .withColumn("view", lit("current"))
        val at1 = Corpus.qualityScoreIngested(s, table, d, "doc_id", "text",
          asOf = Some(1L))
          .select(col("id").as("doc_id"), col("score"), col("pred"))
          .withColumn("view", lit("asof1"))
        cur.unionByName(at1)
          .withColumn("below_horizon_fails", lit(belowHorizonFails))
      },
      s"""SELECT q1.*, 'current' AS view, TRUE AS below_horizon_fails FROM (
         |${qualityStreamedOracleSql(nBatches = 3)}
         |) q1
         |UNION ALL
         |SELECT q2.*, 'asof1' AS view, TRUE AS below_horizon_fails FROM (
         |${qualityStreamedOracleSql(nBatches = 2)}
         |) q2""".stripMargin),

    ("corpus_perplexity",
      (s: SparkSession, dir: String) => {
        // CCNet-style: the clean "reference" slice is doc_id % 10 = 0
        // (deterministic), the LM is pruned to 100 bigrams so the
        // backoff path is exercised at every SF, and the whole corpus
        // is scored against it
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val (bg, uni) = Corpus.bigramLm(docs.filter(col("doc_id") % 10 === 0),
          "text", topM = 100)
        Corpus.perplexityScore(docs, "doc_id", "text", bg, uni)
      },
      s"WITH $perplexityCtes SELECT doc_id, ppl FROM ppl"),

    ("corpus_perplexity_streamed",
      (s: SparkSession, dir: String) => {
        // the JOIN-PATH LM serving lifecycle under the driver's hash —
        // [[graft.streaming.EventStream.perplexityScoredSink]] was the
        // one lifecycle verb with spec-only coverage: the pruned LM
        // persists as CLUSTER TABLES (never driver-collected — the
        // above-cap escape hatch of perplexityStream's literal path),
        // the corpus arrives as three foreachBatch deliveries
        // (doc_id % 3) with batch 1 RE-delivered (commit-log no-op — a
        // doubled append would duplicate those rows and flip the
        // driver's hash), and the sink scores each micro-batch
        // RELATIONALLY (broadcastLm=false: AQE broadcasts the small
        // batch into the LM join). Docs the batch scorer drops
        // (< 2 tokens / unscorable) come back ppl=null, keep=false via
        // the sink's left join. The oracle replays the batch scorer
        // over the full corpus: exactly-once delivery of a disjoint
        // partition IS the batch result.
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val (bg, uni) = Corpus.bigramLm(docs.filter(col("doc_id") % 10 === 0),
          "text", topM = 100)
        val pre = s"graft_ppl_str_${dirSuffix(dir)}"
        val (bgT, uniT, outT) = (s"${pre}_bg", s"${pre}_uni", s"${pre}_out")
        Seq(bgT, uniT, outT, s"${outT}_commits")
          .foreach(graft.ops.Bucketing.dropManaged(s, _))
        bg.write.format("parquet").saveAsTable(bgT)
        uni.write.format("parquet").saveAsTable(uniT)
        val deliver = graft.streaming.EventStream.perplexityScoredSink(
          bgT, uniT, maxScore = 4.2, outTable = outT)
        def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === r)
          .as[graft.streaming.EventStream.DocText]
        deliver(slice(0), 0L)
        deliver(slice(1), 1L)
        deliver(slice(1), 1L) // replayed — must be a commit-log no-op
        deliver(slice(2), 2L)
        s.table(outT).select(col("doc_id"), col("ppl"), col("keep"))
      },
      s"""WITH $perplexityCtes
         |SELECT d.doc_id, p.ppl, coalesce(p.ppl <= 4.2, FALSE) AS keep
         |FROM documents d LEFT JOIN ppl p USING (doc_id)""".stripMargin),

    ("corpus_admission_full",
      (s: SparkSession, dir: String) => {
        // the CAPSTONE composite: the full pretraining admission
        // pipeline in ONE DataFrame DAG — near-dup cluster canonicality
        // (MinHash+LSH + connected components) + language gate +
        // quality gate + benchmark decontamination (8-gram overlap vs
        // the doc_id%37 slice) + CCNet perplexity gate (bigram LM on
        // the doc_id%10 reference slice, cut at 4.2). Every stage is
        // individually oracle-gated elsewhere; this query pins their
        // COMPOSITION — join order, gate precedence, and the fact that
        // one DAG can express the whole admission path
        // ONE corpus scan feeds every token consumer: the relation is
        // spread (BEFORE the checkpoint — spread's scan-metadata gate
        // no-ops on in-memory plans), tokenized once, and materialized;
        // near-dup shingling, decontamination 8-grams, the bigram LM
        // and perplexity scoring all read the shared `tk` column
        // instead of re-scanning + re-tokenizing per stage (at 100 TB:
        // N-1 corpus scans saved)
        // the materialization is corpus-sized: localCheckpoint is the
        // local-mode stand-in for cluster storage (persist DISK / a
        // staged write) — same disclosed policy as the minhash family's
        // shingleRelation
        val toked = graft.Partitioning.spread(
            t(s, dir, "documents").select(col("doc_id"), col("text")))
          .withColumn("tk", graft.llm.TextAnalysis.tokens(col("text")))
          .localCheckpoint()
        val (bg, uni) = Corpus.bigramLm(toked.filter(col("doc_id") % 10 === 0),
          "text", topM = 100, tokensCol = Some("tk"))
        val admitted = Corpus.trainingFilterNearDup(toked, "doc_id", "text",
          minQuality = 0.5, lang = "en",
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20),
          tokensCol = Some("tk"))
        val clean = Corpus.decontaminate(toked,
          toked.filter(col("doc_id") % 37 === 0), "doc_id", "text", n = 8,
          tokensCol = Some("tk"))
          .filter(col("keep")).select(col("doc").as("doc_id"))
        val scores = Corpus.perplexityScore(toked, "doc_id", "text", bg, uni,
          tokensCol = Some("tk"))
        admitted.join(clean, Seq("doc_id"), "left_semi")
          .join(scores, Seq("doc_id"))
          .filter(col("ppl") <= 4.2)
          .select(col("doc_id"), col("cluster"), col("lang_pred"),
            col("quality_score"), col("ppl"))
      }, {
        val gram8 = (0 until 8).map(j => if (j == 0) "tk2[i]" else s"tk2[i + $j]")
          .mkString(" || ' ' || ")
        s"""WITH RECURSIVE $minhashCtes,
           |edges AS (SELECT d1 AS src, d2 AS dst FROM mh_pairs
           |          UNION SELECT d2, d1 FROM mh_pairs),
           |walk(node, label) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
           |cc AS (SELECT node, min(label) AS label FROM walk GROUP BY node),
           |$textBCte,
           |$qualityCtes,
           |$langCtes,
           |dtoks AS (SELECT doc_id AS doc,
           |            string_split_regex(lower(text), '\\s+') AS tk2 FROM documents),
           |dsh0 AS (SELECT DISTINCT doc,
           |           unnest(list_transform(generate_series(1, len(tk2) - 7),
           |             i -> $gram8)) AS sh
           |         FROM dtoks WHERE len(tk2) >= 8),
           |dh0 AS (SELECT DISTINCT doc, ${rhSql("sh")} AS h FROM dsh0),
           |dev AS (SELECT DISTINCT h FROM dh0 WHERE doc % 37 = 0),
           |contaminated AS (SELECT DISTINCT doc FROM dh0 JOIN dev USING (h)),
           |$perplexityCtes
           |SELECT d.doc_id, COALESCE(cc.label, d.doc_id) AS cluster,
           |       lang_pred, quality_score, ppl
           |FROM documents d
           |LEFT JOIN cc ON d.doc_id = cc.node
           |JOIN qual ON qual.doc_id = d.doc_id JOIN lang ON lang.doc_id = d.doc_id
           |JOIN ppl ON ppl.doc_id = d.doc_id
           |WHERE COALESCE(cc.label, d.doc_id) = d.doc_id
           |  AND lang_pred = 'en' AND quality_score >= 0.5
           |  AND d.doc_id NOT IN (SELECT doc FROM contaminated)
           |  AND ppl <= 4.2""".stripMargin
      }),

    ("text_strip_html",
      (s: SparkSession, dir: String) => {
        // fixture: wrap each doc in crawl-shaped HTML — style + script
        // subtrees (content must VANISH, not just lose tags), comments,
        // attributes, entities, a self-closing tag; NULL text rides
        // through as NULL via concat's null propagation
        val d = t(s, dir, "documents").select(col("doc_id"), concat(
          lit("<html><head><style>p { color: red }</style>" +
            "<!-- nav --><script type=\"text/js\">var x = 1 < 2;</script>" +
            "</head><body><p class=\"a\">"),
          col("text"),
          lit("</p><br/>&amp; <b>tail</b>&nbsp;&#39;q&#39;</body></html>"))
          .as("text"))
        TextAnalysis.stripHtml(d, "text").select(col("doc_id"), col("clean"))
      },
      s"""WITH raw AS (SELECT doc_id,
         |    '<html><head><style>p { color: red }</style><!-- nav --><script type="text/js">var x = 1 < 2;</script></head><body><p class="a">'
         |    || text ||
         |    '</p><br/>&amp; <b>tail</b>&nbsp;&#39;q&#39;</body></html>' AS t
         |  FROM documents),
         |s1 AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
         |      '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
         |      '(?is)<noscript\\b[^>]*>.*?</noscript\\s*>', ' ', 'g') AS t
         |  FROM raw),
         |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
         |s4 AS (SELECT doc_id,
         |    replace(replace(replace(replace(replace(replace(t,
         |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', ''''), '&amp;', '&') AS t
         |  FROM s3)
         |SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean
         |FROM s4""".stripMargin),

    ("text_script_profile",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // documents are ASCII — append fixtures per script block, a
        // digits/punct-only doc (no script chars -> 'none'), a Greek/
        // Latin tie (latin precedence wins) and a NULL text
        val extra = Seq(
          (90101L, "Привет мир это тест кириллицы"),
          (90102L, "你好世界 これは テスト です"),
          (90103L, "مرحبا بالعالم هذا اختبار"),
          (90104L, "αβγ abc"),
          (90105L, "1234 !!! ???"),
          (90106L, null)).toDF("doc_id", "text")
        TextAnalysis.scriptProfile(
          t(s, dir, "documents").select(col("doc_id"), col("text")).union(extra),
          "text")
          .select(col("doc_id") +: col("n_script_chars") +: col("script_pred") +:
            TextAnalysis.scriptBlocks.flatMap(b =>
              Seq(col(s"n_${b._1}"), col(s"ratio_${b._1}"))): _*)
      }, {
        val blocks = TextAnalysis.scriptBlocks
        val counts = blocks.map { case (n, r) =>
          s"CAST(len(regexp_extract_all(text, '[$r]')) AS BIGINT) AS n_$n"
        }.mkString(", ")
        val tot = blocks.map(b => s"n_${b._1}").mkString(" + ")
        val ratios = blocks.map { case (n, _) =>
          s"CASE WHEN n_script_chars > 0 THEN ${graft.Num.r6Sql(
            s"CAST(n_$n AS DOUBLE) / CAST(n_script_chars AS DOUBLE)")} ELSE 0.0 END AS ratio_$n"
        }.mkString(", ")
        val names = blocks.map(_._1)
        val cases = names.map { n =>
          val beats = (s"n_$n > 0" +: names.filterNot(_ == n)
            .map(o => s"n_$n >= n_$o")).mkString(" AND ")
          s"WHEN $beats THEN '$n'"
        }.mkString(" ")
        s"""WITH docs AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT 90101, 'Привет мир это тест кириллицы'
           |  UNION ALL SELECT 90102, '你好世界 これは テスト です'
           |  UNION ALL SELECT 90103, 'مرحبا بالعالم هذا اختبار'
           |  UNION ALL SELECT 90104, 'αβγ abc'
           |  UNION ALL SELECT 90105, '1234 !!! ???'
           |  UNION ALL SELECT 90106, NULL),
           |c AS (SELECT doc_id, $counts FROM docs),
           |tt AS (SELECT *, $tot AS n_script_chars FROM c)
           |SELECT doc_id, n_script_chars,
           |       CASE $cases ELSE 'none' END AS script_pred,
           |       ${blocks.map(b => s"n_${b._1}").mkString(", ")}, $ratios
           |FROM tt""".stripMargin
      }),

    ("corpus_url_dedup",
      (s: SparkSession, dir: String) => {
        // deterministic MESSY urls: mixed-case scheme/host, default
        // ports, tracking params, fragments, trailing slashes. The
        // canonical identity is doc_id % 50 (10 domains x 50 paths),
        // while the NOISE branches key on doc_id % 2/3/4 — so the ~10
        // docs behind each canonical key carry DIFFERENT noise, and the
        // group counts are right only if canonicalization collapses all
        // of it
        val d = t(s, dir, "documents").select(col("doc_id"),
          concat(
            when(col("doc_id") % 2 === 0, "HTTPS://Site").otherwise("https://site"),
            pmod(col("doc_id"), lit(10)),
            when(col("doc_id") % 4 === 0, ".Example.COM:443/p/").otherwise(".example.com/p/"),
            pmod(col("doc_id"), lit(50)),
            when(col("doc_id") % 3 === 0, lit("/?utm_source=x&q=1"))
              .when(col("doc_id") % 3 === 1, lit("?q=1&utm_campaign=z#frag"))
              .otherwise(lit("?q=1"))).as("url"))
        Corpus.urlDedup(d, "doc_id", "url")
      },
      // the same regexp chain, step for step ('g' = replace ALL — Spark's
      // regexp_replace default); RE2-compatible patterns only
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Site' ELSE 'https://site' END)
        |  || (doc_id % 10)
        |  || (CASE WHEN doc_id % 4 = 0 THEN '.Example.COM:443/p/' ELSE '.example.com/p/' END)
        |  || (doc_id % 50)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&q=1'
        |           WHEN doc_id % 3 = 1 THEN '?q=1&utm_campaign=z#frag'
        |           ELSE '?q=1' END) AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM u),
        |c2 AS (SELECT doc_id, regexp_replace(u, '(utm_[a-z]+|gclid|fbclid)=[^&]*&?', '', 'g') AS u FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '', 'g') AS u FROM c2),
        |c4 AS (SELECT doc_id,
        |         regexp_replace(lower(regexp_extract(u, '^[a-zA-Z]+://[^/?#]*', 0)), ':(80|443)$', '', 'g')
        |         || regexp_replace(u, '^[a-zA-Z]+://[^/?#]*', '', 'g') AS u FROM c3),
        |c5 AS (SELECT doc_id, regexp_replace(u, '/+$', '', 'g') AS canonical_url FROM c4)
        |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_dups
        |FROM c5 GROUP BY canonical_url""".stripMargin),

    ("corpus_curriculum",
      (s: SparkSession, dir: String) => {
        val scored = TextAnalysis.quality(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("quality_score"))
        Corpus.curriculumBins(scored, "doc_id", "quality_score", nBins = 4)
      },
      // quantile_cont == Spark percentile (same (n-1)*p interpolation
      // over identical r6-rounded scores); bin = 1 + #cuts strictly below
      s"""WITH $textBCte,
         |$qualityCtes,
         |sc AS (SELECT doc_id, quality_score FROM qual),
         |cuts AS (SELECT quantile_cont(quality_score, [0.25, 0.5, 0.75]) AS c FROM sc)
         |SELECT doc_id, quality_score,
         |  CAST(1 + len(list_filter(c, x -> quality_score > x)) AS INT) AS bin
         |FROM sc, cuts""".stripMargin),

    ("corpus_mix_weighted",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // quality bucket from the standard scorer; the weight table
        // covers a few cells explicitly — including an explicit-zero
        // drop and a full-admission 1e6 cell — and everything else
        // falls to the 250000-ppm default, so the hit, miss, zero and
        // saturate paths are all inside the gate
        val scored = TextAnalysis.quality(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("source"),
            when(col("quality_score") >= 0.5, "high").otherwise("low").as("bucket"))
        val weights = Seq(
          ("src1", "high", 900000L), ("src1", "low", 100000L),
          ("src2", "high", 600000L), ("src3", "low", 0L),
          ("src4", "high", 1000000L)).toDF("source", "bucket", "weight_ppm")
        Corpus.mixWeightedSample(scored, "doc_id", "source", "bucket", weights,
          defaultPpm = 250000L)
      },
      s"""WITH $textBCte,
         |$qualityCtes,
         |sc AS (SELECT q.doc_id, d.source,
         |         CASE WHEN q.quality_score >= 0.5 THEN 'high' ELSE 'low' END AS bucket
         |       FROM qual q JOIN documents d USING (doc_id)),
         |w(source, bucket, weight_ppm) AS (VALUES
         |  ('src1', 'high', 900000), ('src1', 'low', 100000),
         |  ('src2', 'high', 600000), ('src3', 'low', 0), ('src4', 'high', 1000000)),
         |m AS (SELECT sc.doc_id, sc.source, sc.bucket,
         |        CAST(COALESCE(w.weight_ppm, 250000) AS BIGINT) AS weight_ppm
         |      FROM sc LEFT JOIN w ON sc.source = w.source AND sc.bucket = w.bucket)
         |SELECT doc_id, source, bucket, weight_ppm FROM m
         |WHERE ${rhSql("CAST(doc_id AS VARCHAR)")} % 1000000 < weight_ppm""".stripMargin),

    ("corpus_mix_temperature",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the sources in testdata are uniform, so the gate synthesizes a
        // SKEWED domain from doc_id: k = floor((sqrt(8*(doc_id%45)+1)-1)/2)
        // gives domains s0..s8 with per-45-block counts 1..9 — integer
        // sqrt inputs whose boundary cases (8j+1 a perfect square) are
        // IEEE-exact in both engines. A NULL-domain fixture row pins the
        // documented exclusion path (unattributed rows have no mixture
        // cell). tau=0.5 upweights the small domains; nTarget=200 is
        // selective at the verify SF and above
        val base = t(s, dir, "documents").select(col("doc_id"),
          concat(lit("s"),
            floor((sqrt(((col("doc_id") % 45) * 8 + 1).cast("double")) - lit(1.0))
              / lit(2.0)).cast("int").cast("string")).as("mix_domain"))
          .union(Seq((99993L, Option.empty[String])).toDF("doc_id", "mix_domain"))
        Corpus.temperatureSample(base, "doc_id", "mix_domain",
          tau = 0.5, nTarget = 200L)
      },
      s"""WITH base AS (
         |  SELECT doc_id, 's' || CAST(CAST(FLOOR((sqrt(CAST((doc_id % 45) * 8 + 1 AS DOUBLE)) - 1) / 2) AS INT) AS VARCHAR) AS mix_domain
         |  FROM documents
         |  UNION ALL SELECT 99993, NULL),
         |attr AS (SELECT * FROM base WHERE mix_domain IS NOT NULL),
         |counts AS (SELECT mix_domain, CAST(count(*) AS BIGINT) AS c
         |           FROM attr GROUP BY mix_domain),
         |tot AS (SELECT sum(pow(c, 0.5)) AS t FROM counts),
         |quotas AS (SELECT mix_domain,
         |             least(c, CAST(floor(${Num.r6Sql("200.0 * " + Num.r6Sql("pow(c, 0.5) / t"))}) AS BIGINT)) AS quota
         |           FROM counts, tot),
         |ranked AS (SELECT a.doc_id, a.mix_domain, q.quota,
         |             row_number() OVER (PARTITION BY a.mix_domain
         |               ORDER BY ${rhSql("CAST(a.doc_id AS VARCHAR)")}, a.doc_id) AS rank_in_mix
         |           FROM attr a JOIN quotas q USING (mix_domain))
         |SELECT doc_id, mix_domain, quota, CAST(rank_in_mix AS INTEGER) AS rank_in_mix
         |FROM ranked WHERE rank_in_mix <= quota""".stripMargin),

    ("corpus_mix_temperature_edges",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // quota-formula edge matrix with LITERAL inputs (the
        // corpus_pack_edges pattern): a dominant domain (cap NOT
        // binding), a cap-binding small domain, a single-doc domain
        // whose share floors its quota to zero (absent from output),
        // and a NULL-domain row (excluded by contract). Counts: a=12,
        // b=4, c=1; tau=0.5, nTarget=6 -> shares ~0.536/0.309/0.155,
        // quotas floor(3.21)=3 / min(4, floor(1.85))=1 / floor(0.92)=0
        val rows = ((1L to 12L).map(i => (i, Option("a")))
          ++ (21L to 24L).map(i => (i, Option("b")))
          ++ Seq((31L, Option("c")), (40L, Option.empty[String])))
        val d = rows.toDF("doc_id", "mix_domain")
        Corpus.temperatureSample(d, "doc_id", "mix_domain",
          tau = 0.5, nTarget = 6L)
      }, {
        val ids = ((1L to 12L).map(i => s"($i, 'a')")
          ++ (21L to 24L).map(i => s"($i, 'b')")
          ++ Seq("(31, 'c')", "(40, NULL)")).mkString(", ")
        s"""WITH base(doc_id, mix_domain) AS (VALUES $ids),
           |attr AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, mix_domain
           |         FROM base WHERE mix_domain IS NOT NULL),
           |counts AS (SELECT mix_domain, CAST(count(*) AS BIGINT) AS c
           |           FROM attr GROUP BY mix_domain),
           |tot AS (SELECT sum(pow(c, 0.5)) AS t FROM counts),
           |quotas AS (SELECT mix_domain,
           |             least(c, CAST(floor(${Num.r6Sql("6.0 * " + Num.r6Sql("pow(c, 0.5) / t"))}) AS BIGINT)) AS quota
           |           FROM counts, tot),
           |ranked AS (SELECT a.doc_id, a.mix_domain, q.quota,
           |             row_number() OVER (PARTITION BY a.mix_domain
           |               ORDER BY ${rhSql("CAST(a.doc_id AS VARCHAR)")}, a.doc_id) AS rank_in_mix
           |           FROM attr a JOIN quotas q USING (mix_domain))
           |SELECT doc_id, mix_domain, quota, CAST(rank_in_mix AS INTEGER) AS rank_in_mix
           |FROM ranked WHERE rank_in_mix <= quota""".stripMargin
      }),

    ("corpus_pack",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // a NULL-text row rides along: octet_length(NULL) is NULL and the
        // operator's documented contract is NULL-packs-as-0 — the gate
        // pins that path, it doesn't just trust the scaladoc.
        // n = UTF-8 BYTE length, not a regex token count: `\s` class
        // membership (\x0B) and string_split_regex edge behavior vary
        // across regex engines and DuckDB releases, while byte length is
        // the same number everywhere — the operator under test packs
        // counts, it doesn't care where they came from
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
          .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        Corpus.packSequences(d, "doc_id", "n", capacity = 256, nStreams = 8)
          .orderBy(col("doc"))
      },
      // same rolling-hash stream routing + per-stream running sum over
      // ne = greatest(coalesce(n,0),0) — the operator's NULL/negative
      // clamp; // is DuckDB integer division (Spark side uses `div`);
      // CAST(... AS BIGINT) on the window-sum-derived columns is
      // load-bearing: DuckDB's sum(BIGINT) OVER returns HUGEINT and //
      // preserves it, so uncast output hash-mismatches Spark's BIGINT
      // even when every value is equal (the rounds-8/9 red rows);
      // strlen = DuckDB byte length (octet_length only binds to BLOB);
      // canonical ORDER BY on BOTH sides defuses any order-sensitive
      // comparison downstream
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              UNION ALL SELECT 99991, NULL),
         |d AS (SELECT doc_id,
         |        greatest(COALESCE(CAST(strlen(text) AS BIGINT), 0), 0) AS ne
         |      FROM docs),
         |st AS (SELECT doc_id, ne, ${rhSql("CAST(doc_id AS VARCHAR)")} % 8 AS stream FROM d),
         |o AS (SELECT *, COALESCE(sum(ne) OVER (PARTITION BY stream ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset FROM st)
         |SELECT doc_id AS doc, ne AS n_toks, stream,
         |       CAST(start_offset AS BIGINT) AS start_offset,
         |       CAST(start_offset // 256 AS BIGINT) AS seq_first,
         |       CAST(CASE WHEN ne > 0 THEN (start_offset + ne - 1) // 256
         |            ELSE start_offset // 256 END AS BIGINT) AS seq_last
         |FROM o ORDER BY doc""".stripMargin),

    ("corpus_pack_bestfit",
      (s: SparkSession, dir: String) => {
        // BEST-FIT-DECREASING packing — the no-straddling alternative
        // to concat-and-chunk: within each stream, docs sort (tokens
        // DESC, id ASC) and each takes the open bin with the smallest
        // sufficient remainder; no fit opens a new bin; an oversize doc
        // (n = byte length here, frequently > 256) gets its own bin.
        // The fold is one deterministic JVM fold per stream over
        // (rank, tokens) longs (doc ids join back on rank) — the
        // oracle replays it as a recursive CTE folding doc-by-doc over
        // the identical order, so the hash match pins every placement
        // decision, not just aggregate waste. Same NULL-rides-along +
        // byte-length conventions as corpus_pack.
        import s.implicits._
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
          .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        Corpus.packBestFit(d, "doc_id", "n", capacity = 256, nStreams = 8)
          .orderBy(col("doc"))
      },
      s"""$bestFitFoldCtes
         |SELECT doc, n_toks, stream, bin, bin_offset
         |FROM pl ORDER BY doc""".stripMargin),

    ("corpus_pack_bestfit_segments",
      (s: SparkSession, dir: String) => {
        // the WRITER view over the best-fit placements — one manifest
        // row per (stream, bin): docs in placement order (offsets
        // strictly increase for token-bearing docs; the zero-token
        // fixture row reconstructs by id among equal offsets), fill,
        // zero-clamped waste, and the overfull flag for
        // longer-than-capacity single-doc bins. Same fixture (byte
        // lengths, NULL row) as corpus_pack_bestfit; the oracle runs
        // the identical recursive-CTE fold and re-derives the manifest
        // with plain SQL aggregation, so the hash match pins the
        // fill/waste arithmetic AND the emission order per bin.
        import s.implicits._
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
          .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        // `docs` serializes to one comma-joined STRING: the driver's
        // pandas comparator sorts rows before hashing and a LIST cell
        // is unhashable there (r17's one red row) — the manifest
        // content and order are identical, only the encoding is scalar
        Corpus.packBestFitBins(
          Corpus.packBestFit(d, "doc_id", "n", capacity = 256, nStreams = 8),
          capacity = 256)
          .withColumn("docs", array_join(col("docs").cast("array<string>"), ","))
          .orderBy(col("stream"), col("bin"))
      },
      s"""$bestFitFoldCtes
         |SELECT stream, bin, count(*) AS n_docs,
         |       array_to_string(list(doc ORDER BY bin_offset, n_toks DESC, doc), ',') AS docs,
         |       CAST(sum(n_toks) AS BIGINT) AS fill,
         |       CAST(greatest(256 - sum(n_toks), 0) AS BIGINT) AS waste,
         |       sum(n_toks) > 256 AS overfull
         |FROM pl GROUP BY stream, bin ORDER BY stream, bin""".stripMargin),

    ("corpus_pack_edges",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // operator edge matrix with LITERAL counts — no derived n at
        // all, so no engine pair can disagree about the input: NULL and
        // negative pack as 0 tokens (tape never rewinds), a doc exactly
        // at capacity ends in its own window, capacity+1 straddles two,
        // and a multi-window doc spans proportionally
        val d = Seq(
          (1L, Option(5L)), (2L, Option(0L)), (3L, Option.empty[Long]),
          (4L, Option(-7L)), (5L, Option(256L)), (6L, Option(257L)),
          (7L, Option(1L)), (8L, Option(1000L)), (9L, Option(255L)),
          (10L, Option(512L))).toDF("doc_id", "n")
        Corpus.packSequences(d, "doc_id", "n", capacity = 256, nStreams = 3)
          .orderBy(col("doc"))
      },
      s"""WITH v(doc_id, n) AS (VALUES (1, 5), (2, 0), (3, NULL), (4, -7),
         |  (5, 256), (6, 257), (7, 1), (8, 1000), (9, 255), (10, 512)),
         |d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |        greatest(COALESCE(CAST(n AS BIGINT), 0), 0) AS ne FROM v),
         |st AS (SELECT doc_id, ne, ${rhSql("CAST(doc_id AS VARCHAR)")} % 3 AS stream FROM d),
         |o AS (SELECT *, COALESCE(sum(ne) OVER (PARTITION BY stream ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset FROM st)
         |SELECT doc_id AS doc, ne AS n_toks, stream,
         |       CAST(start_offset AS BIGINT) AS start_offset,
         |       CAST(start_offset // 256 AS BIGINT) AS seq_first,
         |       CAST(CASE WHEN ne > 0 THEN (start_offset + ne - 1) // 256
         |            ELSE start_offset // 256 END AS BIGINT) AS seq_last
         |FROM o ORDER BY doc""".stripMargin),

    ("corpus_pack_segments",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // the writer view over the same pack plumbing as corpus_pack
        // (byte-length counts, NULL fixture row — which must vanish
        // here: zero-token docs occupy no window); integer-only
        // arithmetic, canonical ORDER BY on both sides
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
          .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        Corpus.packedSegments(
          Corpus.packSequences(d, "doc_id", "n", capacity = 256, nStreams = 8),
          capacity = 256)
          .orderBy(col("doc"), col("seq"))
      },
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              UNION ALL SELECT 99991, NULL),
         |d AS (SELECT doc_id,
         |        greatest(COALESCE(CAST(strlen(text) AS BIGINT), 0), 0) AS ne
         |      FROM docs),
         |st AS (SELECT doc_id, ne, ${rhSql("CAST(doc_id AS VARCHAR)")} % 8 AS stream FROM d),
         |o AS (SELECT *, COALESCE(sum(ne) OVER (PARTITION BY stream ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset FROM st),
         |p AS (SELECT doc_id AS doc, ne AS n_toks, stream,
         |        CAST(start_offset AS BIGINT) AS start_offset,
         |        CAST(start_offset // 256 AS BIGINT) AS seq_first,
         |        CAST((start_offset + ne - 1) // 256 AS BIGINT) AS seq_last
         |      FROM o WHERE ne > 0),
         |seg AS (SELECT stream, unnest(generate_series(seq_first, seq_last)) AS seq,
         |          doc, start_offset, n_toks
         |        FROM p)
         |SELECT stream, seq, doc,
         |       greatest(0, start_offset - seq * 256) AS seg_off,
         |       least((seq + 1) * 256, start_offset + n_toks)
         |         - greatest(seq * 256, start_offset) AS seg_len
         |FROM seg ORDER BY doc, seq""".stripMargin),

    ("corpus_batch_by_length",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // SFT batch assembly over byte-length counts (same engine-safe
        // n as corpus_pack); the NULL fixture row clamps to 0 and must
        // land in bucket 0, position 0 of some batch — not vanish
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .union(Seq((99991L, Option.empty[String])).toDF("doc_id", "text"))
          .select(col("doc_id"), octet_length(col("text")).cast("long").as("n"))
        Corpus.batchByLength(d, "doc_id", "n",
          bucketBounds = Seq(128L, 256L, 512L), batchSize = 4, nStreams = 8)
          .orderBy(col("doc"))
      },
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              UNION ALL SELECT 99991, NULL),
         |d AS (SELECT doc_id,
         |        COALESCE(CAST(strlen(text) AS BIGINT), 0) AS n FROM docs),
         |b AS (SELECT doc_id, n,
         |        CASE WHEN n < 128 THEN 0 WHEN n < 256 THEN 1
         |             WHEN n < 512 THEN 2 ELSE 3 END AS bucket,
         |        ${rhSql("CAST(doc_id AS VARCHAR)")} % 8 AS stream FROM d),
         |r AS (SELECT *, row_number() OVER (PARTITION BY bucket, stream
         |        ORDER BY doc_id) AS rn FROM b)
         |SELECT doc_id AS doc, n AS n_toks, bucket, stream,
         |       CAST((rn - 1) // 4 AS INT) AS batch_idx,
         |       CAST((rn - 1) % 4 AS INT) AS pos_in_batch
         |FROM r ORDER BY doc""".stripMargin),

    ("corpus_filter",
      (s: SparkSession, dir: String) =>
        Corpus.trainingFilter(t(s, dir, "documents"), "doc_id", "text",
          minQuality = 0.5, lang = "en"),
      s"""WITH $textBCte,
         |$qualityCtes,
         |$langCtes,
         |k AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |             CAST(count(*) AS BIGINT) AS n_dups FROM documents GROUP BY text)
         |SELECT d.doc_id, lang_pred, quality_score, n_dups
         |FROM documents d JOIN k ON d.text IS NOT DISTINCT FROM k.text AND d.doc_id = k.keep_id
         |JOIN qual ON qual.doc_id = d.doc_id JOIN lang ON lang.doc_id = d.doc_id
         |WHERE lang_pred = 'en' AND quality_score >= 0.5""".stripMargin),
  )

  /** DuckDB oracle for the streamed quality model: the weak-label +
    * hashed-feature CTEs, then `2 × nBatches` gradient steps threading
    * the weight chain w0..w(2·nBatches) through the first `nBatches`
    * deliveries in order (delivery slices are doc_id % 3 = 0/1/2, 2
    * steps each — the sink's gate parameters). Shared by the streamed
    * gate (all 3 batches) and the as-of gate (the chain CUT at the
    * pinned batch — scoring with w4 is exactly "the vector as of batch
    * 1", so the hash match pins the time-travel semantics).
    */
  private def qualityStreamedOracleSql(nBatches: Int): String = {
    require(nBatches >= 1 && nBatches <= 3, "gate delivers 3 batches")
    val sig = Num.r6Sql("1.0 / (1.0 + exp(-CAST(zm AS DOUBLE) / 1000000.0))")
    val pm = s"CAST(floor(($sig) * 1000000.0 + 0.5) AS BIGINT)"
    // one gradient step over batch `db` dividing by batch size `nn`
    // — the per-run gate's step CTE with the relation names
    // parameterized
    def step(i: Int, db: String, nn: String) =
      s"""z$i AS (SELECT doc_id, sum(c * wm) AS zm
         |       FROM $db JOIN w$i USING (b) GROUP BY doc_id),
         |e$i AS (SELECT z$i.doc_id, $pm - ym AS errm
         |       FROM z$i JOIN lbl USING (doc_id)),
         |g$i AS (SELECT b, sum(errm * c) AS g
         |       FROM $db JOIN e$i USING (doc_id) GROUP BY b),
         |w${i + 1} AS (SELECT w.b, w.wm - coalesce(g.g, 0) // (2 * (SELECT n FROM $nn)) AS wm
         |       FROM w$i w LEFT JOIN g$i g USING (b))""".stripMargin
    val chain = Seq(("dba", "nna"), ("dbb", "nnb"), ("dbc", "nnc"))
      .take(nBatches).zipWithIndex.flatMap { case ((db, nn), bi) =>
        Seq(step(2 * bi, db, nn), step(2 * bi + 1, db, nn))
      }.mkString(",\n")
    s"""WITH $textBCte,
       |$qualityCtes,
       |${repetitionCtes("documents")},
       |lbl AS (SELECT q.doc_id,
       |          CASE WHEN q.n_tokens BETWEEN 40 AND 100000
       |                AND q.avg_token_len BETWEEN 3.0 AND 10.0
       |                AND q.stopword_ratio >= 0.05
       |                AND r.top_word_frac <= 0.2
       |                AND r.distinct_frac >= 0.3
       |               THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS ym
       |        FROM qual q JOIN rep r ON q.doc_id = r.doc_id),
       |tkz AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |                                   t -> t <> '') AS tk
       |        FROM documents WHERE text IS NOT NULL),
       |gr AS (SELECT doc_id, unnest(tk) AS g FROM tkz
       |       UNION ALL
       |       SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
       |                                            i -> tk[i] || ' ' || tk[i + 1])) AS g
       |       FROM tkz),
       |fb AS (SELECT doc_id, (${rhSql("g")}) % 64 AS b FROM gr),
       |db2 AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM fb GROUP BY doc_id, b
       |        UNION ALL
       |        SELECT DISTINCT doc_id, CAST(64 AS BIGINT), CAST(1 AS BIGINT) FROM fb),
       |dba AS (SELECT * FROM db2 WHERE doc_id % 3 = 0),
       |dbb AS (SELECT * FROM db2 WHERE doc_id % 3 = 1),
       |dbc AS (SELECT * FROM db2 WHERE doc_id % 3 = 2),
       |nna AS (SELECT greatest(count(DISTINCT doc_id), 1) AS n FROM fb WHERE doc_id % 3 = 0),
       |nnb AS (SELECT greatest(count(DISTINCT doc_id), 1) AS n FROM fb WHERE doc_id % 3 = 1),
       |nnc AS (SELECT greatest(count(DISTINCT doc_id), 1) AS n FROM fb WHERE doc_id % 3 = 2),
       |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wm FROM db2),
       |$chain,
       |zf AS (SELECT doc_id, sum(c * wm) AS zm
       |       FROM db2 JOIN w${2 * nBatches} USING (b) GROUP BY doc_id)
       |SELECT doc_id, $sig AS score, ($sig) >= 0.5 AS pred FROM zf""".stripMargin
  }

  /** The [[graft.llm.Corpus.packBestFit]] oracle: the shared fixture
    * (byte lengths over documents plus the NULL row) and the recursive
    * CTE that replays the best-fit-decreasing fold doc-by-doc over the
    * identical (tokens DESC, id ASC) order — ending at the placements
    * relation `pl (doc, n_toks, stream, bin, bin_offset)`. Shared by
    * the placement gate and the per-bin manifest gate, so both hash
    * matches pin the same fold.
    */
  private def bestFitFoldCtes: String = {
    val cand = "list_filter(list_transform(f.bins, (l, i) -> " +
      "struct_pack(l := l, i := CAST(i - 1 AS INT))), c -> c.l + b.ne <= 256)"
    val pick = s"list_reduce($cand, (a, c) -> CASE WHEN c.l > a.l THEN c ELSE a END)"
    s"""WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents
       |              UNION ALL SELECT 99991, NULL),
       |d AS (SELECT doc_id,
       |        greatest(COALESCE(CAST(strlen(text) AS BIGINT), 0), 0) AS ne
       |      FROM docs),
       |st AS (SELECT doc_id, ne, ${rhSql("CAST(doc_id AS VARCHAR)")} % 8 AS stream FROM d),
       |base AS (SELECT doc_id, ne, stream,
       |           CAST(row_number() OVER (PARTITION BY stream ORDER BY ne DESC, doc_id) AS BIGINT) AS rn
       |         FROM st),
       |f(stream, rn, bins, doc, n, bin, off) AS (
       |  SELECT DISTINCT stream, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
       |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS INT), CAST(NULL AS BIGINT) FROM base
       |  UNION ALL
       |  SELECT b.stream, f.rn + 1,
       |         CASE WHEN len($cand) = 0 THEN list_append(f.bins, b.ne)
       |              ELSE list_transform(f.bins, (l, i) ->
       |                CASE WHEN i - 1 = ($pick).i THEN l + b.ne ELSE l END) END,
       |         b.doc_id, b.ne,
       |         CASE WHEN len($cand) = 0 THEN CAST(len(f.bins) AS INT)
       |              ELSE ($pick).i END,
       |         CASE WHEN len($cand) = 0 THEN CAST(0 AS BIGINT)
       |              ELSE ($pick).l END
       |  FROM f JOIN base b ON b.stream = f.stream AND b.rn = f.rn + 1
       |),
       |pl AS (SELECT doc, n AS n_toks, stream, bin, off AS bin_offset
       |       FROM f WHERE rn > 0)""".stripMargin
  }

  /** DuckDB CTE chain `wt → w0 → (p1,m1,w1) … (pN,mN,wN)` mirroring
    * [[graft.llm.Bpe.learnMerges]]: the distinct `[a-z]+` word table
    * with `|s1||s2||…|` encodings, then per round the weighted
    * adjacent-pair counts, the (cnt DESC, a, b) argmax, and the greedy
    * left-to-right `replace` merge. Shared by the learn and encode
    * oracles.
    */
  private def bpeCtes(n: Int): String = {
    val step = (i: Int) =>
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
      // four scalar m$i references inside w$i would otherwise expand the
      // whole w-chain 4^n times (observed as a file-handle explosion)
      s"""p$i AS MATERIALIZED (SELECT p.a AS a, p.b AS b, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
         |             k -> struct_pack(a := s[k], b := s[k + 1]))) AS p
         |    FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), '||') AS s, freq
         |          FROM w${i - 1})
         |    WHERE len(s) >= 2)
         |  GROUP BY p.a, p.b),
         |m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |w$i AS MATERIALIZED (SELECT w, freq, replace(enc,
         |    '|' || (SELECT a FROM m$i) || '||' || (SELECT b FROM m$i) || '|',
         |    '|' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '|') AS enc
         |  FROM w${i - 1})""".stripMargin
    s"""WITH wt AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
       |w0 AS MATERIALIZED (SELECT w, freq,
       |    substr('|' || regexp_replace(w, '(.)', '\\1||', 'g'), 1, 3 * length(w)) AS enc
       |  FROM wt),
       |${(1 to n).map(step).mkString(",\n")}""".stripMargin
  }

  private def bpeLearnOracle(n: Int): String =
    s"""${bpeCtes(n)}
       |${(1 to n).map(i =>
      s"""SELECT CAST($i AS INT) AS step, a AS "left", b AS "right", CAST(cnt AS BIGINT) AS cnt FROM m$i""")
      .mkString("\nUNION ALL\n")}""".stripMargin

  /** DuckDB replay of [[graft.llm.Bpe.learnMerges]] with `batchT = t`:
    * ceil(n/t) unrolled ROUNDS, each one pair-count CTE + a ranked
    * cap-`c` candidate list + a RECURSIVE greedy fold that selects up
    * to the round's quota of non-interacting pairs (admissible iff none
    * of {a, b, a+b} was touched by an earlier pick — the engine's rule
    * verbatim, same (cnt DESC, a, b) visit order) + one `list_reduce`
    * applying the round's replaces in selection order. Steps number
    * globally across rounds. The recursion depth is the candidate cap
    * `c` per round — literal-bounded, never vocabulary-sized.
    */
  private def bpeBatchedCtes(n: Int, t: Int, c: Int): String = {
    val rounds = (n + t - 1) / t
    val round = (r: Int) => {
      val quota = math.min(t, n - (r - 1) * t)
      val adm = s"len(s.taken) < $quota AND NOT (list_contains(s.touched, c.a)" +
        s" OR list_contains(s.touched, c.b)" +
        s" OR list_contains(s.touched, c.a || c.b))"
      s"""p$r AS MATERIALIZED (SELECT p.a AS a, p.b AS b, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
         |             k -> struct_pack(a := s[k], b := s[k + 1]))) AS p
         |    FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), '||') AS s, freq
         |          FROM w${r - 1})
         |    WHERE len(s) >= 2)
         |  GROUP BY p.a, p.b),
         |c$r AS MATERIALIZED (SELECT * FROM (
         |    SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rk
         |    FROM p$r) WHERE rk <= $c),
         |s$r(rk, taken, touched) AS (
         |  SELECT CAST(0 AS BIGINT), CAST([] AS STRUCT(a VARCHAR, b VARCHAR, cnt BIGINT)[]),
         |         CAST([] AS VARCHAR[])
         |  UNION ALL
         |  SELECT c.rk,
         |    CASE WHEN $adm
         |      THEN list_append(s.taken, struct_pack(a := c.a, b := c.b, cnt := c.cnt))
         |      ELSE s.taken END,
         |    CASE WHEN $adm
         |      THEN s.touched || [c.a, c.b, c.a || c.b] ELSE s.touched END
         |  FROM s$r s JOIN c$r c ON c.rk = s.rk + 1),
         |sel$r AS MATERIALIZED (SELECT taken FROM s$r ORDER BY rk DESC LIMIT 1),
         |w$r AS MATERIALIZED (SELECT w, freq,
         |    list_reduce(
         |      list_prepend(enc, (SELECT list_transform(taken,
         |        x -> '|' || x.a || '||' || x.b || '|') FROM sel$r)),
         |      (acc, pat) -> replace(acc, pat, replace(pat, '||', ''))) AS enc
         |  FROM w${r - 1})""".stripMargin
    }
    s"""WITH RECURSIVE wt AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
       |w0 AS MATERIALIZED (SELECT w, freq,
       |    substr('|' || regexp_replace(w, '(.)', '\\1||', 'g'), 1, 3 * length(w)) AS enc
       |  FROM wt),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  private def bpeLearnBatchedOracle(n: Int, t: Int, c: Int): String = {
    val rounds = (n + t - 1) / t
    val perRound = (1 to rounds).map(r =>
      s"""SELECT $r AS rnd, u.pos AS pos, u.x.a AS a, u.x.b AS b, u.x.cnt AS cnt
         |FROM (SELECT unnest(taken) AS x,
         |        unnest(generate_series(1, len(taken))) AS pos
         |      FROM sel$r) u""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""${bpeBatchedCtes(n, t, c)},
       |allm AS ($perRound)
       |SELECT CAST(row_number() OVER (ORDER BY rnd, pos) AS INT) AS step,
       |       a AS "left", b AS "right", CAST(cnt AS BIGINT) AS cnt
       |FROM allm""".stripMargin
  }

  private def bpeEncodeOracle(n: Int): String =
    s"""${bpeCtes(n)},
       |syms AS (SELECT w, CAST(len(string_split(substr(enc, 2, length(enc) - 2), '||')) AS BIGINT) AS n_syms
       |         FROM w$n),
       |dw AS (SELECT doc_id, w, count(*) AS n FROM (
       |         SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |         FROM documents)
       |       WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY doc_id, w),
       |tok AS (SELECT dw.doc_id, sum(dw.n * syms.n_syms) AS t
       |        FROM dw JOIN syms ON dw.w = syms.w GROUP BY dw.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(tok.t, 0) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN tok ON d.doc_id = tok.doc_id""".stripMargin
}
