package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EtlLeaf, EtlObj, EtlSchema}
import graft.ops._
import graft.llm._
import GateSupport._

/** Deduplication family (exact, spans, winnow, n-gram, minhash/LSH, simhash, clusters, embedding) and similarity search gates.
  *
  * One registry entry per operator: (name, spark fn, oracle SQL) —
  * composed into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object DedupGates {

  /** Cosine-IVF top-k oracle at the gate parameters (16 centroids, 2
    * Lloyd's rounds, nProbe 4, k 5) — shared by `similarity_topk_ivf`
    * and its ingested-index twin, which is bit-identical by
    * construction (the persisted centroids/assignments ARE the
    * per-run quantizer's output, parquet round-trips doubles exactly).
    */
  /** `serveWhere` (predicate over alias a) restricts the SERVED index
    * rows — the deleted-index twin: the quantizer stays trained on the
    * asgCtes' corpus, tombstoned rows leave the probe.
    */
  private def ivfProbeOracleSql(asgCtes: String,
                                serveWhere: String = "TRUE"): String = {
    val score = Num.r6Sql(dotSql("a.cv", "p.qv"))
    s"""WITH $asgCtes,
       |probes AS (SELECT id AS query_id, v AS qv, cid AS cluster FROM (
       |  SELECT q.id, q.v, c.cid,
       |         row_number() OVER (PARTITION BY q.id ORDER BY ${dotSql("q.v", "c.cv")} DESC, c.cid ASC) AS rn
       |  FROM nv q CROSS JOIN cent c WHERE q.id < 20) WHERE rn <= 4),
       |sc AS (SELECT p.query_id, a.nn_id, $score AS score
       |       FROM asg a JOIN probes p ON a.cluster = p.cluster AND a.nn_id <> p.query_id
       |       WHERE ($serveWhere))
       |SELECT query_id, nn_id, score, CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM sc)
       |WHERE rank <= 5""".stripMargin
  }

  private lazy val ivfTopKOracleSql: String = ivfProbeOracleSql(ivfAsgCtes(16, 2))

  /** The ingest-then-append IVF oracle: quantizer trained on the
    * EVEN-id half (the ingested corpus), assignment over the full
    * corpus — exactly `ingestIvf(even); appendIvf(odd)`'s frozen-
    * centroid semantics. Probe half identical to [[ivfTopKOracleSql]].
    */
  private lazy val ivfTopKAppendedOracleSql: String = ivfProbeOracleSql(
    ivfAsgCtesTrainOn(
      s"nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings)",
      "id % 2 = 0", 16, 2))

  /** Per-cluster membership counts of the ingest-then-append index —
    * the drift monitor's oracle replays the frozen-centroid assignment
    * (k-means over the even half, assignment over the union) and
    * counts members per centroid, emptied cells as 0.
    */
  private lazy val ivfStatsOracleSql: String =
    s"""WITH ${ivfAsgCtesTrainOn(
      s"nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings)",
      "id % 2 = 0", 16, 2)}
       |SELECT c.cid AS cluster, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_members
       |FROM cent c LEFT JOIN (SELECT cluster, count(*) AS n FROM asg
       |                       GROUP BY cluster) cnt
       |  ON c.cid = cnt.cluster""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    // ---- dedup family -----------------------------------------------------
    ("dedup_exact",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        Dedup.exact(d.union(d.select(col("doc_id") + 10000, col("text"))), "doc_id", "text")
      },
      """WITH dup AS (SELECT doc_id, text FROM documents
        |             UNION ALL SELECT doc_id + 10000, text FROM documents)
        |SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
        |FROM dup GROUP BY text""".stripMargin),

    ("dedup_exact_hash",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        // duplicate the corpus under shifted ids so dup groups exist, and
        // add two NULL-text rows so the null-handling path is EXERCISED,
        // not just written: they must land in one keeper group
        val nulls = Seq((20001L, Option.empty[String]), (20002L, Option.empty[String]))
          .toDF("doc_id", "text")
        Dedup.exactByFingerprint(
          d.union(d.select(col("doc_id") + 10000, col("text"))).union(nulls),
          "doc_id", "text")
      },
      // IS NOT DISTINCT FROM mirrors the Spark side's explicit null-text
      // group (exactByFingerprint routes NULL texts into one keeper
      // group; a plain `=` join would silently drop them)
      """WITH dup AS (SELECT doc_id, text FROM documents
        |             UNION ALL SELECT doc_id + 10000, text FROM documents
        |             UNION ALL SELECT 20001, NULL
        |             UNION ALL SELECT 20002, NULL),
        |g AS (SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |             CAST(count(*) AS BIGINT) AS n_dups FROM dup GROUP BY text)
        |SELECT d.doc_id AS doc, g.keep_id, g.n_dups
        |FROM dup d JOIN g ON d.text IS NOT DISTINCT FROM g.text""".stripMargin),

    ("line_dedup",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // words-as-lines (spaces -> newlines) makes cross-document
        // repeated lines ubiquitous, and a per-doc unique trailing line
        // keeps every document alive so the gate checks reassembly for
        // all 500 docs (not just the few with first-occurrence words);
        // fixture rows pin the within-doc-repeat, fully-deduped-doc and
        // NULL-text paths
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            concat(translate(col("text"), " ", "\n"),
              lit("\nuid-"), col("doc_id")).as("text"))
          .union(Seq(
            (99991L, Option.empty[String]),
            (99992L, Some("zz_alpha\nzz_beta\nzz_alpha")),
            (99993L, Some("zz_alpha\nzz_beta"))).toDF("doc_id", "text"))
        Dedup.lineDedup(d, "doc_id", "text")
      },
      // global first occurrence per line = row_number over (doc, pos);
      // docs whose every line was seen earlier vanish from the GROUP BY,
      // NULL-text docs re-enter with 0 lines kept — both mirror Spark
      """WITH docs AS (SELECT doc_id, replace(text, ' ', chr(10)) || chr(10) || 'uid-' || doc_id AS text
        |              FROM documents
        |              UNION ALL SELECT 99991, NULL
        |              UNION ALL SELECT 99992, 'zz_alpha' || chr(10) || 'zz_beta' || chr(10) || 'zz_alpha'
        |              UNION ALL SELECT 99993, 'zz_alpha' || chr(10) || 'zz_beta'),
        |lines AS (SELECT doc_id AS doc,
        |            unnest(string_split(text, chr(10))) AS line,
        |            unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
        |          FROM docs WHERE text IS NOT NULL),
        |keep AS (SELECT doc, pos, line FROM (
        |           SELECT doc, pos, line,
        |                  row_number() OVER (PARTITION BY line ORDER BY doc, pos) AS rn
        |           FROM lines) WHERE rn = 1)
        |SELECT doc, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
        |       CAST(count(*) AS BIGINT) AS n_lines_kept
        |FROM keep GROUP BY doc
        |UNION ALL
        |SELECT doc_id, NULL, CAST(0 AS BIGINT) FROM docs WHERE text IS NULL""".stripMargin),

    ("dedup_duplicate_spans",
      (s: SparkSession, dir: String) => {
        // the CORE operator over real data: raw documents plus shifted
        // whole-doc copies of every 10th doc (one maximal span per pair
        // at diag -3, derived from the table — not fixture synthesis).
        // The fixture edge battery lives in dedup_duplicate_spans_edges
        // so this query benches the operator, not the fixtures
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val shifted = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(lit("spanprefix pad pad "), col("text")).as("text"))
        Dedup.duplicateSpans(d.union(shifted), "doc_id", "text", k = 8)
      },
      // windows via zipped unnests (generate_series positions are
      // 0-based to match Spark's posexplode); dup restriction groups
      // by window TEXT — and so does the Spark side ((h, w) stats
      // keys): hash-only grouping would let a collision merge a
      // flood-capped boilerplate window with a real passage and
      // suppress its spans; islands = p1 - row_number per (d1,d2,diag)
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, 'spanprefix pad pad ' || text
        |    FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id AS doc, string_split_regex(lower(text), '\s+') AS tk
        |         FROM docs WHERE text IS NOT NULL),
        |wins AS (SELECT doc,
        |           unnest(generate_series(0, len(tk) - 8)) AS pos,
        |           unnest(list_transform(generate_series(0, len(tk) - 8),
        |                    i -> array_to_string(tk[i + 1:i + 8], ' '))) AS w
        |         FROM toks WHERE len(tk) >= 8),
        |stats AS (SELECT w, count(DISTINCT doc) AS nd, count(*) AS n FROM wins GROUP BY w),
        |cand AS (SELECT doc, pos, w FROM wins
        |         WHERE w IN (SELECT w FROM stats WHERE nd > 1 AND n <= 100)),
        |hits AS (SELECT a.doc AS d1, a.pos AS p1, b.doc AS d2, b.pos AS p2,
        |                a.pos - b.pos AS diag
        |         FROM cand a JOIN cand b ON a.w = b.w AND a.doc < b.doc),
        |isl AS (SELECT d1, d2, diag, p1, p2,
        |               p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS g
        |        FROM hits)
        |SELECT d1, d2, CAST(min(p1) AS BIGINT) AS start1, CAST(min(p2) AS BIGINT) AS start2,
        |       CAST(count(*) + 7 AS BIGINT) AS n_tokens
        |FROM isl GROUP BY d1, d2, diag, g""".stripMargin),

    ("dedup_duplicate_spans_edges",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // edge battery over a 124-row INLINE relation (sub-second by
        // construction): the same 10-token passage at TWO alignments in
        // one doc (= two spans at distinct diagonals, never merged), a
        // 120-doc boilerplate window (> maxOcc=100 -> flood-capped,
        // zero pairs), a doc shorter than k (no windows) and a NULL
        // text (no rows, no NPE)
        val fixtures = Seq(
          (90001L, Some("alpha beta gamma delta epsilon zeta eta theta iota kappa")),
          (90002L, Some("one two three alpha beta gamma delta epsilon zeta eta theta" +
            " iota kappa four five alpha beta gamma delta epsilon zeta eta theta iota kappa")),
          (90003L, Some("short doc")),
          (90004L, Option.empty[String])).toDF("doc_id", "text")
        val flood = s.range(120).select((col("id") + 80000).as("doc_id"),
          lit("common header boilerplate shared across many docs exactly").as("text"))
        Dedup.duplicateSpans(fixtures.union(flood), "doc_id", "text", k = 8)
      },
      """WITH docs AS (
        |  SELECT 90001 AS doc_id, 'alpha beta gamma delta epsilon zeta eta theta iota kappa' AS text
        |  UNION ALL SELECT 90002, 'one two three alpha beta gamma delta epsilon zeta eta theta iota kappa four five alpha beta gamma delta epsilon zeta eta theta iota kappa'
        |  UNION ALL SELECT 90003, 'short doc'
        |  UNION ALL SELECT 90004, NULL
        |  UNION ALL SELECT 80000 + i, 'common header boilerplate shared across many docs exactly'
        |    FROM generate_series(0, 119) t(i)),
        |toks AS (SELECT doc_id AS doc, string_split_regex(lower(text), '\s+') AS tk
        |         FROM docs WHERE text IS NOT NULL),
        |wins AS (SELECT doc,
        |           unnest(generate_series(0, len(tk) - 8)) AS pos,
        |           unnest(list_transform(generate_series(0, len(tk) - 8),
        |                    i -> array_to_string(tk[i + 1:i + 8], ' '))) AS w
        |         FROM toks WHERE len(tk) >= 8),
        |stats AS (SELECT w, count(DISTINCT doc) AS nd, count(*) AS n FROM wins GROUP BY w),
        |cand AS (SELECT doc, pos, w FROM wins
        |         WHERE w IN (SELECT w FROM stats WHERE nd > 1 AND n <= 100)),
        |hits AS (SELECT a.doc AS d1, a.pos AS p1, b.doc AS d2, b.pos AS p2,
        |                a.pos - b.pos AS diag
        |         FROM cand a JOIN cand b ON a.w = b.w AND a.doc < b.doc),
        |isl AS (SELECT d1, d2, diag, p1, p2,
        |               p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS g
        |        FROM hits)
        |SELECT d1, d2, CAST(min(p1) AS BIGINT) AS start1, CAST(min(p2) AS BIGINT) AS start2,
        |       CAST(count(*) + 7 AS BIGINT) AS n_tokens
        |FROM isl GROUP BY d1, d2, diag, g""".stripMargin),

    ("dedup_winnow",
      (s: SparkSession, dir: String) =>
        Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4),
      s"""WITH ${winnowCtes(5, 4)}
         |SELECT DISTINCT doc, f.pos AS pos, f.h AS h FROM wsel""".stripMargin),

    ("dedup_winnow_pairs",
      (s: SparkSession, dir: String) =>
        Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, w = 4, minShared = 2L, maxOcc = Some(100L)),
      // stats/cap/join keyed on the (h, h2) hash pair, mirroring the
      // Spark side's collision hardening
      s"""WITH ${winnowCtes(5, 4, confirm = true)},
         |wdh AS (SELECT DISTINCT doc, f.h AS h, f.h2 AS h2 FROM wsel),
         |wok AS (SELECT h, h2 FROM (SELECT h, h2, count(DISTINCT doc) AS nd
         |                           FROM wdh GROUP BY h, h2)
         |        WHERE nd > 1 AND nd <= 100),
         |wc AS (SELECT w.doc, w.h, w.h2 FROM wdh w
         |       JOIN wok o ON w.h = o.h AND w.h2 = o.h2)
         |SELECT a.doc AS d1, b.doc AS d2, CAST(count(*) AS BIGINT) AS n_shared
         |FROM wc a JOIN wc b ON a.h = b.h AND a.h2 = b.h2 AND a.doc < b.doc
         |GROUP BY a.doc, b.doc HAVING count(*) >= 2""".stripMargin),

    ("dedup_prefix_filter",
      (s: SparkSession, dir: String) =>
        // EXACT token-Jaccard pairs via prefix filtering (PPJoin
        // family), recall 1.0: only each doc's n−⌈t·n⌉+1 RAREST tokens
        // are indexed, so candidates never flow through stopword
        // posting lists. The oracle is the unfiltered shared-token
        // join — exact semantics the filter must reproduce verbatim.
        // t=0.9 because this synthetic corpus is template-generated and
        // heavily self-similar (86% of doc pairs share Jaccard >= 0.4);
        // the selectivity demonstration lives in DedupSimilaritySpec on
        // a diverse fixture — on near-identical data no exact filter
        // prunes, which is a property of the data, not the algorithm
        Dedup.prefixFilterJoin(
          t(s, dir, "documents").filter(col("doc_id") <= 300),
          "doc_id", "text", threshold = 0.9),
      {
        val jac = Num.r6Sql(
          "CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE)")
        s"""WITH tkb AS (SELECT doc_id AS doc,
           |         unnest(list_distinct(list_filter(
           |           string_split_regex(lower(text), '\\s+'), t -> t <> ''))) AS tok
           |       FROM documents WHERE text IS NOT NULL AND doc_id <= 300),
           |szs AS (SELECT doc, count(*) AS sz FROM tkb GROUP BY doc),
           |inter AS (SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
           |          FROM tkb a JOIN tkb b ON a.tok = b.tok AND a.doc < b.doc
           |          GROUP BY a.doc, b.doc)
           |SELECT d1, d2, $jac AS jaccard
           |FROM inter JOIN szs s1 ON inter.d1 = s1.doc
           |           JOIN szs s2 ON inter.d2 = s2.doc
           |WHERE $jac >= 0.9""".stripMargin
      }),

    ("dedup_ngram_jaccard",
      (s: SparkSession, dir: String) =>
        Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.3, maxDocFreq = Some(20)),
      s"""WITH ${shingleCte(3, 20)},
         |inter AS (SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
         |          FROM sh1 a JOIN sizes s1 ON a.doc = s1.doc
         |               JOIN sh1 b ON a.sh = b.sh JOIN sizes s2 ON b.doc = s2.doc
         |          WHERE a.doc < b.doc
         |            AND CAST(least(s1.sz, s2.sz) AS DOUBLE) >= 0.3 * CAST(greatest(s1.sz, s2.sz) AS DOUBLE)
         |          GROUP BY a.doc, b.doc)
         |${jaccardSql("inter", 0.3)}""".stripMargin),

    ("dedup_minhash_lsh",
      (s: SparkSession, dir: String) =>
        Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20)),
      s"WITH $minhashCtes SELECT d1, d2, jaccard FROM mh_pairs"),

    ("dedup_clusters",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20))
        Dedup.clusterAssignments(docs, "doc_id", pairs)
      },
      // recursive min-reachable-label walk == the fixpoint the Spark
      // label propagation converges to
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT d1 AS src, d2 AS dst FROM mh_pairs
         |          UNION SELECT d2, d1 FROM mh_pairs),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
         |cc AS (SELECT node, min(label) AS label FROM walk GROUP BY node)
         |SELECT doc_id AS doc, COALESCE(cc.label, doc_id) AS cluster,
         |       COALESCE(cc.label, doc_id) = doc_id AS is_canonical
         |FROM documents LEFT JOIN cc ON doc_id = cc.node""".stripMargin),

    ("corpus_split_leakage_safe",
      (s: SparkSession, dir: String) => {
        // leakage-safe held-out split: the split unit is the NEAR-DUP
        // CLUSTER (a per-document hash split would put paraphrases on
        // both sides and contaminate the eval by construction). 20%
        // eval share; the side is a pure function of the cluster label,
        // so growing the corpus never moves an existing cluster's side
        // unless new documents bridge clusters.
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20))
        Corpus.splitByCluster(docs, "doc_id", pairs, evalPpm = 200000L)
      },
      s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT d1 AS src, d2 AS dst FROM mh_pairs
         |          UNION SELECT d2, d1 FROM mh_pairs),
         |walk(node, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
         |cc AS (SELECT node, min(label) AS label FROM walk GROUP BY node),
         |asgn AS (SELECT doc_id AS doc, COALESCE(cc.label, doc_id) AS cluster
         |         FROM documents LEFT JOIN cc ON doc_id = cc.node)
         |SELECT doc, cluster,
         |  CASE WHEN (${rhSql("CAST(cluster AS VARCHAR)")}) % 1000000 < 200000
         |       THEN 'eval' ELSE 'train' END AS split
         |FROM asgn""".stripMargin),

    ("dedup_simhash",
      (s: SparkSession, dir: String) =>
        // 60-bit signature, 6 chunks, hamming <= 4: bands key on 2-chunk
        // combinations (20 bits, Manku-style) so buckets stay tiny at
        // corpus scale; completeness enforced by simhashPairs' require
        Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 4, nBits = 60, nChunks = 6)
          .select(col("d1"), col("d2"), col("hamming").cast("long").as("hamming")),
      {
        // bits < 30 sample the base-131 hash; 30..59 the base-137 hash
        // (the rolling hash is < 2^30, so higher bits of one hash would
        // be dead zeros) — mirrors Dedup.simhash exactly
        val sums = (0 until 60).map { b =>
          val src = if (b < 30) s"(h1 >> $b)" else s"(h2 >> ${b - 30})"
          s"sum(CASE WHEN $src % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
        }.mkString(", ")
        val sig = (0 until 60).map(b =>
          s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
          .mkString(" + ")
        // bands = 2-chunk combinations of 6 chunks of width ceil(60/6)=10,
        // enumerated by the SAME function simhashPairs bands with; band
        // key packs the two 10-bit chunk values into one 20-bit integer
        val combos = Dedup.simhashBandCombos(nChunks = 6, maxHamming = 4)
        val comboVals = combos.zipWithIndex
          .map { case (cs, g) => s"($g, ${cs(0)}, ${cs(1)})" }.mkString(", ")
        s"""WITH tk AS (SELECT doc_id AS doc, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents),
           |hh AS (SELECT doc, ${rhSql("tok")} AS h1, ${rhSql("tok", 137L)} AS h2 FROM tk),
           |sums AS (SELECT doc, $sums FROM hh GROUP BY doc),
           |sig AS (SELECT doc, $sig AS simhash FROM sums),
           |ch AS (SELECT doc, simhash, g,
           |         ((simhash >> (c1 * 10)) % 1024) + ((simhash >> (c2 * 10)) % 1024) * 1024 AS ck
           |       FROM sig CROSS JOIN (VALUES $comboVals) AS t(g, c1, c2)),
           |cand AS (SELECT DISTINCT l.doc AS d1, r.doc AS d2, l.simhash AS h1, r.simhash AS h2
           |         FROM ch l JOIN ch r ON l.g = r.g AND l.ck = r.ck WHERE l.doc < r.doc)
           |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(xor(h1, h2)) <= 4""".stripMargin
      }),

    ("dedup_embedding_lsh",
      (s: SparkSession, dir: String) =>
        Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.2, useLsh = true),
      {
        val cos = Num.r6Sql(dotSql("a.v", "b.v"))
        s"""WITH nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings),
           |bk AS (SELECT id, v, ${bucketSql("v", 8)} AS bucket FROM nv)
           |SELECT a.id AS d1, b.id AS d2, $cos AS cos
           |FROM bk a JOIN bk b USING (bucket) WHERE a.id < b.id AND $cos >= 0.2""".stripMargin
      }),

    ("dedup_embedding_exact",
      (s: SparkSession, dir: String) =>
        Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.25, useLsh = false),
      {
        val cos = Num.r6Sql(dotSql("a.v", "b.v"))
        s"""WITH nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings)
           |SELECT a.id AS d1, b.id AS d2, $cos AS cos
           |FROM nv a JOIN nv b ON a.id < b.id WHERE $cos >= 0.25""".stripMargin
      }),

    ("dedup_semantic",
      (s: SparkSession, dir: String) =>
        Dedup.semanticNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.25, nCentroids = 16, kmeansIters = 2),
      {
        val cos = Num.r6Sql(dotSql("a.cv", "b.cv"))
        // pairs only WITHIN a k-means cell — the SemDeDup candidate rule
        s"""WITH ${ivfAsgCtes(16, 2)}
           |SELECT a.nn_id AS d1, b.nn_id AS d2, $cos AS cos
           |FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.nn_id < b.nn_id
           |WHERE $cos >= 0.25""".stripMargin
      }),

    // ---- similarity search ------------------------------------------------
    ("embedding_quantize",
      (s: SparkSession, dir: String) =>
        Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
          .select(col("id"), col("scale"),
            array_join(col("q").cast("array<string>"), ",").as("q"),
            col("max_err")),
      {
        val scale = "(ma / 127.0)"
        s"""WITH v AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d FROM embeddings),
           |m AS (SELECT id, d, list_reduce(list_prepend(0.0, list_transform(d, x -> abs(x))), (a, b) -> greatest(a, b)) AS ma FROM v),
           |qv AS (SELECT id, d, ma, CASE WHEN ma = 0 THEN list_transform(d, x -> CAST(0 AS BIGINT))
           |         ELSE list_transform(d, x -> CAST(greatest(-127, least(127, floor(x / $scale + 0.5))) AS BIGINT)) END AS q FROM m)
           |SELECT id, ${Num.r6Sql(scale)} AS scale, array_to_string(q, ',') AS q,
           |       ${Num.r6Sql(s"list_reduce(list_prepend(0.0, list_transform(d, (x, i) -> abs(x - q[i] * $scale))), (a, b) -> greatest(a, b))")} AS max_err
           |FROM qv""".stripMargin
      }),

    ("embedding_cluster_assign",
      (s: SparkSession, dir: String) => {
        // deterministic k-means clustering as a FIRST-CLASS product
        // (topical grouping for corpus curation — the SemDeDup/IVF
        // front half exposed): lowest-id seeds + 2 exact-integer
        // Lloyd's rounds, assignment by literal-centroid argmax — a
        // narrow corpus scan, zero per-vector exchange
        val e = t(s, dir, "embeddings")
        val (c, cent) = Similarity.quantizedCorpus(e, "vec_id", "embedding",
          nCentroids = 16, kmeansIters = 2)
        Similarity.assignClusters(c, cent)
          .select(col("nn_id").as("vec_id"), col("cluster"))
      },
      s"""WITH ${ivfAsgCtes(16, 2)}
         |SELECT nn_id AS vec_id, cluster FROM asg""".stripMargin),

    ("embedding_random_project",
      (s: SparkSession, dir: String) =>
        // deterministic JL random projection 32→8: the dim-reduction
        // front half of the ANN family — per-row folds against
        // literal-seeded LCG components, zero shuffle, no RNG state,
        // so the projection is a stable cross-engine storage format
        Similarity.randomProject(t(s, dir, "embeddings"),
          "vec_id", "embedding", outDim = 8)
          .select(col("id").as("vec_id"), col("dim"), col("value")),
      {
        val scale = Retrieval.litSql(math.sqrt(12.0d / 8.0d))
        val dims = (0 until 8).map { j =>
          val comp = s"((((${Similarity.ProjectPlaneBase + j} * 4096 + (i - 1)) * 1103515245 + 12345) % 2147483648) / 2147483648.0 - 0.5)"
          val proj = s"list_reduce(list_transform(v, (x, i) -> x * $comp), (p_, q_) -> p_ + q_)"
          s"SELECT id, CAST($j AS INT) AS dim, ${Num.r6Sql(s"$scale * $proj")} AS value FROM rv"
        }.mkString("\nUNION ALL ")
        s"""WITH rv AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |            FROM embeddings WHERE embedding IS NOT NULL)
           |SELECT id AS vec_id, dim, value FROM ($dims)""".stripMargin
      }),

    ("similarity_topk",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        Similarity.topK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", k = 5)
      },
      {
        val score = Num.r6Sql(dotSql("c.v", "q.v"))
        s"""WITH nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings),
           |sc AS (SELECT q.id AS query_id, c.id AS nn_id, $score AS score
           |       FROM nv c JOIN nv q ON q.id < 20 AND c.id <> q.id)
           |SELECT query_id, nn_id, score, CAST(rank AS INT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM sc)
           |WHERE rank <= 5""".stripMargin
      }),

    ("similarity_topk_mips",
      (s: SparkSession, dir: String) => {
        // max-INNER-PRODUCT neighbors: raw vectors, no normalization —
        // magnitude participates in the ranking (the recommendation
        // head semantics), in contrast to similarity_topk's cosine
        val e = t(s, dir, "embeddings")
        Similarity.topKMips(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      },
      {
        val raw = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
        val score = Num.r6Sql(dotSql("c.v", "q.v"))
        s"""WITH rv AS (SELECT vec_id AS id, $raw AS v FROM embeddings),
           |sc AS (SELECT q.id AS query_id, c.id AS nn_id, $score AS score
           |       FROM rv c JOIN rv q ON q.id < 20 AND c.id <> q.id)
           |SELECT query_id, nn_id, score, CAST(rank AS INT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM sc)
           |WHERE rank <= 5""".stripMargin
      }),

    ("similarity_topk_mips_ann",
      (s: SparkSession, dir: String) => {
        // SUBLINEAR MIPS: the norm-augmentation reduction (append
        // √(M²−‖x‖²) to corpus vectors, 0 to queries) turns max-inner-
        // product search into cosine ANN; candidates come only through
        // shared (table, bucket) keys over the augmented vectors, then
        // exact raw-inner-product rescoring. 4 planes × 16 tables —
        // recall@10 = 0.700 at candidate rate 0.464 measured
        // (AnnRecallSpec pins BOTH at exactly these parameters, the
        // same operating point as similarity_topk_lsh: these
        // embeddings have near-constant norms, so the augmented
        // geometry matches the cosine one)
        val e = t(s, dir, "embeddings")
        Similarity.topKMipsAnn(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nPlanes = 4, nTables = 16)
      },
      mipsAnnOracleSql(nPlanes = 4, nTables = 16)),

    ("retrieval_hybrid_rrf",
      (s: SparkSession, dir: String) => {
        // hybrid retrieval: reciprocal-rank fusion of the cosine and
        // inner-product top-10 rankings (a pure function of RANKS, so
        // the incomparable score scales never matter); reciprocals are
        // r6'd and summed in exact micro-units — aggregation-order
        // independent, the repo-wide float-sum discipline
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
        val cos = Similarity.topK(e, q, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("nn_id").as("doc"), col("rank"))
        val mips = Similarity.topKMips(e, q, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("nn_id").as("doc"), col("rank"))
        Retrieval.rrfFuse(Seq(cos, mips), topK = 5)
      },
      {
        val recipMicro = s"CAST(floor(${Num.r6Sql("CAST(1 AS DOUBLE) / (60 + CAST(rank AS DOUBLE))")} * 1000000.0 + 0.5) AS BIGINT)"
        def rankChain(p: String, vecExpr: String) = {
          val score = Num.r6Sql(dotSql("c.v", "q.v"))
          s"""${p}v AS (SELECT vec_id AS id, $vecExpr AS v FROM embeddings),
             |${p}sc AS (SELECT q.id AS query_id, c.id AS doc, $score AS score
             |       FROM ${p}v c JOIN ${p}v q ON q.id < 20 AND c.id <> q.id),
             |${p}rk AS (SELECT query_id, doc, rank FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rank FROM ${p}sc)
             |  WHERE rank <= 10)""".stripMargin
        }
        s"""WITH ${rankChain("c", nvSql("embedding"))},
           |${rankChain("m", "list_transform(embedding, x -> CAST(x AS DOUBLE))")},
           |mic AS (SELECT query_id, doc, $recipMicro AS micro FROM crk
           |        UNION ALL SELECT query_id, doc, $recipMicro FROM mrk),
           |fs AS (SELECT query_id, doc,
           |         ${Num.r6Sql("CAST(sum(micro) AS DOUBLE) / 1000000.0")} AS score
           |       FROM mic GROUP BY query_id, doc)
           |SELECT query_id, doc, score, CAST(rank AS INT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc) AS rank FROM fs)
           |WHERE rank <= 5""".stripMargin
      }),

    ("similarity_topk_mips_ivf",
      (s: SparkSession, dir: String) => {
        // MIPS through the IVF quantizer: the same norm-augmentation
        // reduction, but candidates come from the query's nProbe
        // nearest k-means cells over the normalized augmented vectors
        // (constant norm M — normalization is a pure rescale, so the
        // quantizer sees the cosine geometry it expects), rescored
        // with the exact raw inner product. Mirrors similarity_topk_ivf's
        // parameters; AnnRecallSpec pins the recall floor
        val e = t(s, dir, "embeddings")
        Similarity.topKMipsAnnIvf(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
          kmeansIters = 2)
      },
      mipsIvfOracleSql(nCentroids = 16, iters = 2, nProbe = 4)),

    ("similarity_topk_lsh",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        // SELECTIVITY-leaning config: 4 planes x 16 OR-amplified
        // tables — recall@10 = 0.700 at candidate rate 0.464 measured
        // (AnnRecallSpec pins BOTH at exactly these parameters). The
        // round-10 2x4 config reached recall 0.800 only by examining
        // ~60% of ALL pairs — brute force in ANN clothing at corpus
        // scale; these embeddings are near-random (the adversarial
        // case for random projections), so this is the measured
        // recall>=0.7-at-bounded-candidate-volume operating point, not
        // a free lunch. The single-table CODE path stays covered by
        // AnnRecallSpec's monotonicity test
        Similarity.topKLsh(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nPlanes = 4, nTables = 16)
      },
      mlshOracleSql(nPlanes = 4, nTables = 16)),

    ("similarity_topk_lsh_ingested",
      (s: SparkSession, dir: String) => {
        // same neighbors as similarity_topk_lsh, PRODUCTION layout:
        // the corpus is normalized and band-key-exploded ONCE at
        // ingest (the dominant per-batch cost — nTables × nPlanes ×
        // dim fused-loop work per vector), written bucketed by bucket
        // with a (nplanes, ntables) sidecar so probes can never hash
        // queries with mismatched planes; the probe hashes only the
        // 20-query batch and reads the banded scan
        val e = t(s, dir, "embeddings")
        val table = s"graft_lsh_bands_${dirSuffix(dir)}"
        Lsh.ingest(e, table)
        Similarity.topKLshIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      },
      mlshOracleSql(nPlanes = 4, nTables = 16)),

    ("similarity_topk_mlsh",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        // RECALL-leaning config: 3 planes x 8 tables — recall@10 =
        // 0.775 at candidate rate 0.528 measured (AnnRecallSpec pins
        // both) — pins the cross-table candidate UNION, dedup, and
        // rank parity. The round-9/10 2x12 "quality" config (recall
        // 0.920) cost candidate rate 0.821 — on near-random data
        // recall>=0.9 via LSH is indistinguishable from brute force;
        // a quality-sensitive user should run IVF nProbe=8 (recall
        // 0.915, cluster-bounded cost) or exact topK instead, per the
        // AnnRecallSpec landscape
        Similarity.topKLsh(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nPlanes = 3, nTables = 8)
      },
      mlshOracleSql(nPlanes = 3, nTables = 8)),

    ("retrieval_eval_ann",
      (s: SparkSession, dir: String) => {
        // the retrieval-QA harness as a first-class operator: evaluate
        // the production ANN ranking (LSH 4×16 — the similarity_topk_lsh
        // operating point) against the exact cosine ranking with
        // recall@5 / MRR / nDCG@5 per query. This is what a pipeline
        // runs after every index build, on a SAMPLED query set — truth
        // is exact brute-force over the corpus, affordable because the
        // query batch (not the corpus) is the small side; the metric
        // aggregation itself is k-bounded per query with no windows.
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
        val sys = Similarity.topKLsh(e, q, "vec_id", "embedding",
          k = 5, nPlanes = 4, nTables = 16)
        val tr = Similarity.topK(e, q, "vec_id", "embedding", k = 5)
        Retrieval.evalRanking(sys, tr, k = 5)
      },
      {
        val score = Num.r6Sql(dotSql("c.v", "q.v"))
        def g(e: String) = s"CAST(floor((${Num.r6Sql(s"1.0 / log2(CAST($e AS DOUBLE) + 1.0)")}) * 1000000.0 + 0.5) AS BIGINT)"
        s"""WITH ${mlshRankCtes(4, 16, 5)},
           |exsc AS (SELECT q.id AS query_id, c.id AS nn_id, $score AS score
           |         FROM nv c JOIN nv q ON q.id < 20 AND c.id <> q.id),
           |exrk AS (SELECT query_id, nn_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM exsc)
           |  WHERE rank <= 5),
           |trg AS (SELECT query_id, count(*) AS n_rel FROM exrk GROUP BY query_id),
           |idcg AS (SELECT query_id, n_rel,
           |           list_reduce(list_transform(generate_series(1, n_rel), i -> ${g("i")}),
           |                       (a, b) -> a + b) AS idcgm
           |         FROM trg),
           |hits AS (SELECT s.query_id, s.rank FROM lshrk s
           |         JOIN exrk tr ON s.query_id = tr.query_id AND s.nn_id = tr.nn_id),
           |hm AS (SELECT query_id, count(*) AS n_hits, min(rank) AS first_rank,
           |              sum(${g("rank")}) AS dcgm FROM hits GROUP BY query_id)
           |SELECT i.query_id, CAST(i.n_rel AS INT) AS n_rel,
           |  CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
           |  ${Num.r6Sql("CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(i.n_rel AS DOUBLE)")} AS recall,
           |  CASE WHEN h.first_rank IS NULL THEN 0.0 ELSE ${Num.r6Sql("1.0 / CAST(h.first_rank AS DOUBLE)")} END AS mrr,
           |  CASE WHEN h.dcgm IS NULL THEN 0.0 ELSE ${Num.r6Sql("CAST(h.dcgm AS DOUBLE) / CAST(i.idcgm AS DOUBLE)")} END AS ndcg
           |FROM idcg i LEFT JOIN hm h USING (query_id)""".stripMargin
      }),

    ("similarity_topk_sq8",
      (s: SparkSession, dir: String) => {
        // two-tier scalar-quantized search: coarse top-20 per query over
        // the int8-dequantized corpus (the 4×-smaller scan a 100 TB
        // embedding store actually reads), exact rescore of those
        // candidates only. Scores in the output are EXACT cosines; the
        // quantization decides only which candidates reach the rescore.
        val e = t(s, dir, "embeddings")
        Similarity.topKSq8(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nCandidates = 20)
      },
      {
        val exact = Num.r6Sql(dotSql("c.v", "q.v"))
        val coarse = Num.r6Sql(dotSql("c.dv", "q.v"))
        s"""WITH nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings),
           |qz AS (SELECT id, v, list_reduce(list_transform(v, x -> abs(x)),
           |                                 (a, b) -> greatest(a, b)) / 127.0 AS sc FROM nv),
           |dqv AS (SELECT id, list_transform(v, x ->
           |          greatest(-127.0, least(127.0, floor(x / sc + 0.5))) * sc) AS dv FROM qz),
           |csc AS (SELECT q.id AS query_id, c.id AS nn_id, $coarse AS score
           |        FROM dqv c JOIN nv q ON q.id < 20 AND c.id <> q.id),
           |cnd AS (SELECT query_id, nn_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rn FROM csc)
           |  WHERE rn <= 20),
           |rsc AS (SELECT cnd.query_id, cnd.nn_id, $exact AS score
           |        FROM cnd JOIN nv c ON c.id = cnd.nn_id
           |                 JOIN nv q ON q.id = cnd.query_id)
           |SELECT query_id, nn_id, score, CAST(rank AS INT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM rsc)
           |WHERE rank <= 5""".stripMargin
      }),

    ("similarity_hard_negatives",
      (s: SparkSession, dir: String) => {
        // contrastive hard-negative mining: the positive set is "same
        // label" (the supervised-contrastive convention), so the mined
        // negatives are the most-cosine-similar vectors of a DIFFERENT
        // class — exactly the pairs a contrastive loss learns from. The
        // positives relation is built as an explicit (query_id, pos_id)
        // table to exercise the operator's generic anti-join contract.
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
        val pos = q.select(col("vec_id").as("query_id"), col("label"))
          .join(e.select(col("vec_id").as("pos_id"), col("label")), Seq("label"))
          .select(col("query_id"), col("pos_id"))
        Similarity.hardNegatives(e, q, pos, "vec_id", "embedding", k = 5)
      },
      {
        val score = Num.r6Sql(dotSql("c.v", "q.v"))
        s"""WITH nv AS (SELECT vec_id AS id, label, ${nvSql("embedding")} AS v FROM embeddings),
           |sc AS (SELECT q.id AS query_id, c.id AS nn_id, $score AS score
           |       FROM nv c JOIN nv q ON q.id < 20 AND c.id <> q.id AND c.label <> q.label)
           |SELECT query_id, nn_id, score, CAST(rank AS INT) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nn_id) AS rank FROM sc)
           |WHERE rank <= 5""".stripMargin
      }),

    ("similarity_topk_mmr",
      (s: SparkSession, dir: String) => {
        // RAG-context diversification: brute top-20 relevance per query,
        // then 5 greedy MMR rounds at λ=0.5 — the result keeps the most
        // relevant passage and swaps near-duplicates of it for coverage.
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 20)
        val cand = Similarity.topK(e, q, "vec_id", "embedding", k = 20)
        Similarity.diversifyMmr(cand, e, "vec_id", "embedding",
          k = 5, lambda = 0.5)
      },
      mmrTopKSql(n = 20, k = 5, lambdaMicro = 500000L)),

    ("similarity_topk_pq",
      (s: SparkSession, dir: String) => {
        // product-quantized two-tier search: 4 subspaces × 8 codes × 2
        // Lloyd's rounds compress each 64-dim vector to 4 codes (the
        // 64×-smaller scan of a PQ store); coarse top-20 over the
        // reconstructed corpus, exact rescore of those candidates only.
        val e = t(s, dir, "embeddings")
        Similarity.topKPq(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, m = 4, nCodes = 8, kmeansIters = 2, nCandidates = 20)
      },
      pqTopKSql(m = 4, nCodes = 8, iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_topk_pq_ingested",
      (s: SparkSession, dir: String) => {
        // the persisted PQ index: codebooks trained once at ingest, the
        // coarse pass reads the compressed codes table, full vectors
        // only at the candidate-bounded rescore. Shares topKPq's oracle
        // — the hash match IS the bit-parity proof.
        val e = t(s, dir, "embeddings")
        val table = s"graft_pq_${dirSuffix(dir)}"
        Pq.ingest(e, table)
        Similarity.topKPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCandidates = 20)
      },
      pqTopKSql(m = 4, nCodes = 8, iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_pq_appended",
      (s: SparkSession, dir: String) => {
        // APPEND maintenance for the PQ index: codebooks freeze on the
        // even-id ingest half; the odd-id batch is coded against the
        // frozen sidecar with batch-sized work (a pure per-vector
        // function, like the LSH band keys). Oracle trains on the even
        // half and codes the union — exactly the frozen-codebook
        // semantics; codebook drift is the documented rebuild trigger.
        val e = t(s, dir, "embeddings")
        val table = s"graft_pq_app_${dirSuffix(dir)}"
        builtAppended(s, table, Pq, e)
        Similarity.topKPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCandidates = 20)
      },
      pqTopKSqlTrainOn("id % 2 = 0", m = 4, nCodes = 8, iters = 2, dim = 64,
        k = 5, nCand = 20)),

    ("similarity_topk_ivf",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        Similarity.topKIvf(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nCentroids = 16, nProbe = 4, kmeansIters = 2)
      },
      ivfTopKOracleSql),

    ("similarity_topk_ivf_ingested",
      (s: SparkSession, dir: String) => {
        // same neighbors, PRODUCTION layout: the coarse quantizer runs
        // ONCE at ingest — corpus written bucketed by cluster id with
        // the centroid sidecar alongside — and the probe batch serves
        // against the persisted index with no Lloyd's rounds, no
        // assignment pass, no corpus-side exchange (the
        // graph_pagerank_bucketed pattern applied to ANN; at 100 TB
        // the quantizer build is the pay-once cost, not a per-batch
        // one). Table name carries the SHA-256 dir digest so
        // concurrent suites on different fixture dirs never race.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivf_corpus_${dirSuffix(dir)}"
        Ivf.ingest(e, table)
        Similarity.topKIvfIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4)
      },
      ivfTopKOracleSql),

    ("similarity_ivf_appended",
      (s: SparkSession, dir: String) => {
        // the APPEND maintenance half of the pay-once index: ingest the
        // even-id half (quantizer trained there, centroids frozen),
        // append the odd-id half with batch-sized work — assignment
        // against the frozen centroid sidecar only, no Lloyd's rounds,
        // no corpus re-scan — then probe the combined index. The
        // oracle bakes in exactly the frozen-centroid semantics
        // (k-means over the even half, assignment over the union);
        // centroid drift is the documented rebuild trigger.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivf_app_${dirSuffix(dir)}"
        builtAppended(s, table, Ivf, e)
        Similarity.topKIvfIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4)
      },
      ivfTopKAppendedOracleSql),

    ("similarity_lsh_appended",
      (s: SparkSession, dir: String) => {
        // LSH append needs no frozen-state caveats: band keys are a
        // pure per-vector function of the sidecar's (nplanes, ntables),
        // so ingest(even)+append(odd) is ROW-identical to a full ingest
        // and the gate shares the per-run MLSH oracle outright — the
        // hash match IS the equivalence proof. Append work is
        // batch-sized: hash + explode the batch, append bucketed files.
        val e = t(s, dir, "embeddings")
        val table = s"graft_lsh_app_${dirSuffix(dir)}"
        builtAppended(s, table, Lsh, e)
        Similarity.topKLshIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      },
      mlshOracleSql(nPlanes = 4, nTables = 16)),

    ("similarity_lsh_streamed",
      (s: SparkSession, dir: String) => {
        // three deliveries with batch 1 RE-delivered; no frozen state
        // in the banded layout (band keys are a pure function of the
        // sidecar params), so the streamed index is bit-identical to a
        // batch ingest over the union and this gate shares the per-run
        // MLSH oracle outright — a doubled batch would duplicate banded
        // rows and burn probe ranks on duplicate candidates.
        val e = t(s, dir, "embeddings")
        val table = s"graft_lsh_str_${dirSuffix(dir)}"
        builtStreamed(s, table, Lsh, e)
        Similarity.topKLshIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      },
      mlshOracleSql(nPlanes = 4, nTables = 16)),

    ("similarity_ivf_stats",
      (s: SparkSession, dir: String) => {
        // the centroid-drift monitor over the ingest-then-append index:
        // per-cluster membership counts (bounded, nCentroids rows; the
        // aggregation key is the table's bucket key, so the scan feeds
        // the groupBy exchange-free). Emptied cells report 0 — exactly
        // the drift signal that triggers the documented rebuild.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivf_stats_${dirSuffix(dir)}"
        builtAppended(s, table, Ivf, e)
        Similarity.ivfClusterStats(s, table)
      },
      ivfStatsOracleSql),

    ("similarity_pq_stats",
      (s: SparkSession, dir: String) => {
        // the codebook-drift monitor over the ingest-then-append index:
        // per-subspace reconstruction MSE (m rows; the codes⋈vectors
        // join is co-located — both tables bucket by nn_id). Rising MSE
        // after appends is exactly the documented rebuild trigger.
        val e = t(s, dir, "embeddings")
        val table = s"graft_pq_stats_${dirSuffix(dir)}"
        builtAppended(s, table, Pq, e)
        Similarity.pqReconStats(s, table)
      },
      {
        val sse = "list_reduce(list_transform(sv.x, (x, i) -> " +
          "(x - c.centv[i]) * (x - c.centv[i])), (p_, q_) -> p_ + q_)"
        s"""WITH ${pqAsgCtes("id % 2 = 0", m = 4, nCodes = 8, iters = 2, dim = 64)},
           |er AS (SELECT pa.id, pa.s,
           |         CAST(floor(($sse) * 1000000.0 + 0.5) AS BIGINT) AS ssem
           |       FROM pa JOIN kf c ON c.s = pa.s AND c.cid = pa.cid
           |               JOIN sv ON sv.id = pa.id AND sv.s = pa.s)
           |SELECT CAST(s AS INT) AS s, count(*) AS n_vectors,
           |  ${Num.r6Sql("CAST(sum(ssem) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)")} AS mse
           |FROM er GROUP BY s""".stripMargin
      }),

    ("similarity_pq_streamed",
      (s: SparkSession, dir: String) => {
        // streamed PQ maintenance with a replayed delivery: batch 0
        // trains the codebooks (frozen there — the oracle trains on
        // exactly that subset), later batches are coded against the
        // sidecar, the replay is a commit-log no-op. A doubled batch
        // would append duplicate codes+vectors and burn probe ranks on
        // them — the oracle has no duplicates.
        val e = t(s, dir, "embeddings")
        val table = s"graft_pq_str_${dirSuffix(dir)}"
        builtStreamed(s, table, Pq, e)
        Similarity.topKPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCandidates = 20)
      },
      pqTopKSqlTrainOn("id % 3 = 0", m = 4, nCodes = 8, iters = 2, dim = 64,
        k = 5, nCand = 20)),

    ("similarity_ivf_streamed",
      (s: SparkSession, dir: String) => {
        // the corpus arrives as three foreachBatch deliveries with
        // batch 1 RE-delivered: batch 0 trains the quantizer (centroids
        // freeze there — the oracle trains its k-means on exactly that
        // subset), later batches assign against the frozen sidecar, the
        // replay is a commit-log no-op. Sharp by construction: a
        // doubled batch appends duplicate corpus rows and the probe's
        // top-k burns ranks on them — the oracle has no duplicates.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivf_str_${dirSuffix(dir)}"
        builtStreamed(s, table, Ivf, e)
        Similarity.topKIvfIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4)
      },
      ivfProbeOracleSql(ivfAsgCtesTrainOn(
        s"nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings)",
        "id % 3 = 0", 16, 2))),

    ("similarity_topk_ivfpq",
      (s: SparkSession, dir: String) => {
        // the COMPOSED production ANN store (FAISS IVFADC's shape): the
        // coarse quantizer PRUNES (only nProbe=4 of 16 cells are ever
        // scored per query) and product quantization COMPRESSES what the
        // probe reads inside those cells (4 codes per vector, not 64
        // floats), with exact rescore of the top-20 survivors. The two
        // parents' savings multiply — at 100 TB the probe reads
        // nProbe/nCentroids of the corpus at m·log2(nCodes) bits/vector.
        val e = t(s, dir, "embeddings")
        Similarity.topKIvfPq(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
          m = 4, nCodes = 8, kmeansIters = 2, nCandidates = 20)
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_topk_ivfpq_residual",
      (s: SparkSession, dir: String) => {
        // RESIDUAL-coded IVFADC (per-cell codebooks over v − centroid,
        // the LOPQ refinement): same compression budget as the
        // global-codebook gate above — identical (nCentroids, nProbe,
        // m, nCodes, nCand) — but codes quantize each cell's residual
        // distribution, which concentrates near the origin, so the
        // coarse ranking is strictly more faithful per byte.
        // AnnRecallSpec pins this gate's recall floor STRICTLY ABOVE
        // the global-codebook gate's at these parameters. The dual
        // per-(cell, subspace) k-means is replayed verbatim by the
        // oracle — seeds, integer means, empty-code carry-over and all.
        val e = t(s, dir, "embeddings")
        Similarity.topKIvfPqResidual(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4,
          m = 4, nCodes = 8, kmeansIters = 2, nCandidates = 20)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_topk_ivfpq_residual_ingested",
      (s: SparkSession, dir: String) => {
        // the persisted residual index: cluster-bucketed per-cell codes,
        // id-bucketed rescore vectors, centroid + PER-CELL codebook
        // sidecars. Probes bit-identical to the per-run operator — the
        // gate shares its dual-quantizer oracle, the hash match IS the
        // parity proof.
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_${dirSuffix(dir)}"
        Rivfpq.ingest(e, table)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_ivfpq_residual_appended",
      (s: SparkSession, dir: String) => {
        // APPEND under the residual contract: cells AND per-cell books
        // freeze on the even-id half; the odd batch codes its residuals
        // against the frozen sidecars (a residual code is only
        // meaningful WITH its cell — the frozen-centroid contract is
        // what keeps old codes valid). Oracle trains both chains on the
        // even half and serves the union.
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_app_${dirSuffix(dir)}"
        builtAppended(s, table, Rivfpq, e)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20, trainWhere = "id % 2 = 0")),

    ("similarity_ivfpq_residual_streamed",
      (s: SparkSession, dir: String) => {
        // exactly-once streamed maintenance for the SEVENTH index
        // family: batch 0 trains cells + per-cell residual books
        // (frozen there — the oracle trains on exactly that subset),
        // later batches code against the sidecars, the replayed
        // delivery is a commit-log no-op.
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_str_${dirSuffix(dir)}"
        builtStreamed(s, table, Rivfpq, e)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20, trainWhere = "id % 3 = 0")),

    ("similarity_ivfpq_residual_deleted",
      (s: SparkSession, dir: String) => {
        // DELETE for the residual index: tombstoned ids leave the
        // cell-pruned coarse scan AND the rescore fetch; both frozen
        // sidecars stay at full-corpus training (oracle: train on
        // union, serve the surviving even half).
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_del_${dirSuffix(dir)}"
        builtDeleted(s, table, Rivfpq, e)()
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20,
        serveWhere = "c.id % 2 = 0")),

    ("similarity_rivfpq_stats",
      (s: SparkSession, dir: String) => {
        // the drift monitor for the MOST drift-sensitive family: a
        // residual code is only meaningful WITH its cell, so
        // reconstruction MSE is tracked PER CELL — an
        // out-of-distribution append concentrates error in the cells it
        // lands in, and those rows rising is the rebuild trigger
        // appendIvfPqResidual promises (AppendMaintenanceSpec shows the
        // rise on a shifted batch). Ingest evens (both quantizers
        // freeze), append odds, measure: the oracle replays the dual
        // k-means and re-derives every reconstruction, so the hash
        // match pins the MSE arithmetic per cell. Reconstruction goes
        // through the cluster-keyed codebook TABLE join — the monitor
        // never collects books.
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_sts_${dirSuffix(dir)}"
        builtAppended(s, table, Rivfpq, e)
        Similarity.ivfPqResidualCellStats(s, table)
      },
      rivfpqCellStatsSql(nCentroids = 16, m = 4, nCodes = 8,
        iters = 2, dim = 64, trainWhere = "id % 2 = 0")),

    ("similarity_topk_rivfpq_booktable",
      (s: SparkSession, dir: String) => {
        // the PRODUCTION serving form for per-cell codebooks: the probe
        // JOINS the cluster-keyed _cellbooks TABLE (co-bucketed with the
        // codes scan) instead of collecting nCentroids × m × nCodes
        // codewords to a plan literal — the driver-side bottleneck at
        // the cell counts users actually crank. maxLiteralBookRows = 0
        // FORCES the table path; the gate shares the literal-path
        // oracle outright, so the hash match proves the two paths
        // bit-identical (PlanSpec asserts the plan scans _cellbooks and
        // collects nothing book-sized).
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_bt_${dirSuffix(dir)}"
        builtBatches(s, table, Rivfpq)(e)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20, maxLiteralBookRows = 0)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_topk_ivfpq_ingested",
      (s: SparkSession, dir: String) => {
        // the persisted IVFADC index: cluster-bucketed codes table (a
        // probe reads only its probed cells' buckets, m codes per row),
        // id-bucketed rescore vectors, both quantizer sidecars. Probes
        // are bit-identical to the per-run operator at the index
        // parameters — the gate shares one oracle, the hash match IS
        // the parity proof.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivfpq_${dirSuffix(dir)}"
        IvfPq.ingest(e, table)
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20)
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("similarity_ivfpq_appended",
      (s: SparkSession, dir: String) => {
        // APPEND for the composed index: BOTH quantizers (cells and
        // codebooks) freeze on the even-id ingest half; the odd batch
        // is assigned + coded against the frozen sidecars with
        // batch-sized work. The oracle trains both chains on the even
        // half and serves the union — the frozen-sidecar semantics of
        // each parent family, composed.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivfpq_app_${dirSuffix(dir)}"
        builtAppended(s, table, IvfPq, e)
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20)
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20, trainWhere = "id % 2 = 0")),

    ("similarity_ivfpq_streamed",
      (s: SparkSession, dir: String) => {
        // exactly-once streamed maintenance for the sixth family: batch
        // 0 trains both quantizers (frozen there — the oracle trains on
        // exactly that subset), later batches code against the
        // sidecars, the replayed delivery is a commit-log no-op.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivfpq_str_${dirSuffix(dir)}"
        builtStreamed(s, table, IvfPq, e)
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20)
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20, trainWhere = "id % 3 = 0")),

    ("similarity_ivfpq_deleted",
      (s: SparkSession, dir: String) => {
        // DELETE for the composed index: tombstoned ids leave the
        // cell-pruned coarse scan AND the rescore fetch; both quantizer
        // sidecars stay frozen at full-corpus training (oracle: train
        // on union, serve the surviving even half).
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivfpq_del_${dirSuffix(dir)}"
        builtDeleted(s, table, IvfPq, e)()
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20)
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20,
        serveWhere = "a.nn_id % 2 = 0")),

    ("similarity_lsh_deleted",
      (s: SparkSession, dir: String) => {
        // the DELETE lifecycle verb: ingest the full corpus, tombstone
        // the odd ids (takedown-list-sized work — the index is never
        // rewritten), probe. LSH has NO corpus-trained state, so
        // ingest(A∪B); delete(B) is BIT-IDENTICAL to ingest(A) and the
        // gate shares the even-half oracle outright — the hash match IS
        // the retraction proof. Physical drop is compaction's job
        // (TombstoneSpec asserts deleted ids leave the files on disk).
        val e = t(s, dir, "embeddings")
        val table = s"graft_lsh_del_${dirSuffix(dir)}"
        builtDeleted(s, table, Lsh, e)()
        Similarity.topKLshIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
      },
      mlshOracleSql(nPlanes = 4, nTables = 16, corpusWhere = "c.id % 2 = 0")),

    ("similarity_ivf_deleted",
      (s: SparkSession, dir: String) => {
        // DELETE for the IVF index: rows leave the probe immediately;
        // the quantizer stays FROZEN at its full-corpus training — the
        // append contract's mirror, and exactly what the oracle bakes
        // in (k-means over the union, serve only the surviving even
        // half). ivfClusterStats counts LIVE rows, so emptied cells
        // from deletion feed the same rebuild trigger as drift.
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivf_del_${dirSuffix(dir)}"
        builtDeleted(s, table, Ivf, e)()
        Similarity.topKIvfIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4)
      },
      ivfProbeOracleSql(ivfAsgCtes(16, 2), serveWhere = "a.nn_id % 2 = 0")),

    ("similarity_pq_deleted",
      (s: SparkSession, dir: String) => {
        // DELETE for the PQ index: tombstoned ids leave BOTH the coarse
        // codes scan and the rescore vector fetch; codebooks stay
        // frozen at full-corpus training (oracle: train on union,
        // serve the surviving half). pqReconStats reports drift over
        // LIVE rows only.
        val e = t(s, dir, "embeddings")
        val table = s"graft_pq_del_${dirSuffix(dir)}"
        builtDeleted(s, table, Pq, e)()
        Similarity.topKPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCandidates = 20)
      },
      pqTopKSqlTrainOn("TRUE", m = 4, nCodes = 8, iters = 2, dim = 64,
        k = 5, nCand = 20, serveWhere = "c.id % 2 = 0")),

    // ---- snapshot (as-of) probes: ingest %3=0 (batch 0), append %3=1
    // (batch 1), append %3=2 (batch 2), probe AS OF batch 1 — the
    // audit/repro verb ("what did the index serve then"). Trained
    // sidecars freeze at ingest, so the oracle trains on the %3=0 slice
    // and serves %3<2 — the frozen-sidecar append semantics, time-sliced.
    ("similarity_lsh_asof",
      (s: SparkSession, dir: String) => {
        // LSH has NO corpus-trained state, so asOf(1) is BIT-IDENTICAL
        // to ingestLsh over batches 0–1 at any parameters — the gate
        // shares the two-thirds oracle outright
        val e = t(s, dir, "embeddings")
        val table = s"graft_lsh_asof_${dirSuffix(dir)}"
        builtThirds(s, table, Lsh, e)
        Similarity.topKLshIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, asOf = Some(1L))
      },
      mlshOracleSql(nPlanes = 4, nTables = 16, corpusWhere = "c.id % 3 < 2")),

    ("similarity_ivf_asof",
      (s: SparkSession, dir: String) => {
        // centroids froze on the batch-0 slice; the snapshot serves
        // batches 0–1 under them — exactly the appended-index oracle
        // with the serve side cut at the snapshot
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivf_asof_${dirSuffix(dir)}"
        builtThirds(s, table, Ivf, e)
        Similarity.topKIvfIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, asOf = Some(1L))
      },
      ivfProbeOracleSql(ivfAsgCtesTrainOn(
        s"nv AS (SELECT vec_id AS id, ${nvSql("embedding")} AS v FROM embeddings)",
        "id % 3 = 0", 16, 2), serveWhere = "a.nn_id % 3 < 2")),

    ("similarity_pq_asof",
      (s: SparkSession, dir: String) => {
        // codebooks froze on the batch-0 slice; snapshot probes read the
        // codes AND rescore vectors of batches 0–1 only
        val e = t(s, dir, "embeddings")
        val table = s"graft_pq_asof_${dirSuffix(dir)}"
        builtThirds(s, table, Pq, e)
        Similarity.topKPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCandidates = 20, asOf = Some(1L))
      },
      pqTopKSqlTrainOn("id % 3 = 0", m = 4, nCodes = 8, iters = 2, dim = 64,
        k = 5, nCand = 20, serveWhere = "c.id % 3 < 2")),

    ("similarity_ivfpq_asof",
      (s: SparkSession, dir: String) => {
        // the composed index: BOTH quantizers froze on batch 0; the
        // snapshot reads codes and rescore vectors of batches 0–1 only
        val e = t(s, dir, "embeddings")
        val table = s"graft_ivfpq_asof_${dirSuffix(dir)}"
        builtThirds(s, table, IvfPq, e)
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20,
          asOf = Some(1L))
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20,
        trainWhere = "id % 3 = 0", serveWhere = "a.nn_id % 3 < 2")),

    ("similarity_ivfpq_residual_asof",
      (s: SparkSession, dir: String) => {
        // time travel for the LAST family that lacked it — and the one
        // whose codes are only meaningful WITH their frozen cell state:
        // cells AND per-cell residual books froze on batch 0, batches 1
        // and 2 coded against those sidecars, and the asOf=1 snapshot
        // serves codes + rescore vectors of batches 0–1 only. The
        // oracle trains both quantizer chains on the batch-0 slice and
        // serves the first-two-batches union — the hash match proves
        // the snapshot read composes with cell pruning and the
        // per-cell codebook join exactly as the current view does.
        val e = t(s, dir, "embeddings")
        val table = s"graft_rivfpq_asof_${dirSuffix(dir)}"
        builtThirds(s, table, Rivfpq, e)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20, asOf = Some(1L))
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20,
        trainWhere = "id % 3 = 0", serveWhere = "c.id % 3 < 2")),

    ("similarity_lsh_asof_compacted",
      (s: SparkSession, dir: String) => {
        // the full index LIFECYCLE under the driver's hash — ingest,
        // two appends, a takedown, then the ON-DISK REWRITE
        // ([[graft.ops.Tombstones.purgeStampedRange]]: tombstoned rows
        // physically leave every file, the [0,1] horizon merges while
        // batch 2 keeps batch-pure files, tombstones clear) — and BOTH
        // reads served from the rewritten files: the current view and
        // the asOf=1 snapshot, tagged and unioned. The oracle knows
        // nothing of the rewrite: it serves the same two reads from the
        // logical row sets (all-minus-deleted; batches 0–1 minus
        // deleted), so the hash match proves the compaction/purge
        // rewrite changes NOTHING an index reader can observe —
        // TombstoneSpec's on-disk assertions, promoted to the driver's
        // end-to-end gate.
        val e = t(s, dir, "embeddings")
        val table = s"graft_lsh_cmp_${dirSuffix(dir)}"
        builtOnce(s, table) {
          Lsh.ingest(e.filter(col("vec_id") % 3 === 0), table)
          Lsh.append(s, table, e.filter(col("vec_id") % 3 === 1))
          Lsh.append(s, table, e.filter(col("vec_id") % 3 === 2))
          Lsh.index.delete(s, table,
            e.filter(col("vec_id") % 7 === 3).select(col("vec_id").as("nn_id")))
          graft.ops.Tombstones.purgeStampedRange(s, table,
            Seq(table -> "bucket"), "nn_id", bLo = 0L, bHi = 1L)
        }
        val q = e.filter(col("vec_id") < 20)
        Similarity.topKLshIngested(s, table, q, "vec_id", "embedding", k = 5)
          .withColumn("view", lit("current"))
          .unionByName(
            Similarity.topKLshIngested(s, table, q, "vec_id", "embedding",
              k = 5, asOf = Some(1L)).withColumn("view", lit("asof1")))
      },
      s"""SELECT q1.*, 'current' AS view FROM (
         |${mlshOracleSql(nPlanes = 4, nTables = 16,
             corpusWhere = "c.id % 7 <> 3")}
         |) q1
         |UNION ALL
         |SELECT q2.*, 'asof1' AS view FROM (
         |${mlshOracleSql(nPlanes = 4, nTables = 16,
             corpusWhere = "c.id % 3 < 2 AND c.id % 7 <> 3")}
         |) q2""".stripMargin),

    // ---- PROBE-ONLY bench entries: every `*_ingested` composite pays
    // its full index build inside the timed run by design (the honest
    // pay-once disclosure), which means a PROBE-PATH regression hides
    // inside a multi-second build — these twins build the index only
    // if absent (the session keeps it across Bench's warm + timed
    // passes, so from the second timed run on, the measured work is
    // the probe alone — the steady-state number SCALING.md measured
    // out-of-band until round 17). Correctness is un-weakened: each
    // shares its family's full oracle, and builds are deterministic,
    // so first-run-builds vs cached-table answers are bit-identical.
    ("probe_ivf_ingested",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val table = s"graft_prb_ivf_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table))
          Ivf.ingest(e, table)
        Similarity.topKIvfIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4)
      },
      ivfTopKOracleSql),

    ("probe_pq_ingested",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val table = s"graft_prb_pq_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table))
          Pq.ingest(e, table)
        Similarity.topKPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nCandidates = 20)
      },
      pqTopKSql(m = 4, nCodes = 8, iters = 2, dim = 64, k = 5, nCand = 20)),

    ("probe_ivfpq_ingested",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val table = s"graft_prb_ivfpq_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table))
          IvfPq.ingest(e, table)
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20)
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("probe_rivfpq_ingested",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val table = s"graft_prb_rivfpq_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table))
          Rivfpq.ingest(e, table)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("probe_rivfpq_booktable",
      (s: SparkSession, dir: String) => {
        // SHARES probe_rivfpq_ingested's table (build-if-absent in
        // both, so gate order doesn't matter) and forces the
        // cluster-keyed codebook-TABLE serving path — the two probe
        // twins are the literal-vs-table A/B as first-class bench
        // lines, bit-identical by the shared oracle
        val e = t(s, dir, "embeddings")
        val table = s"graft_prb_rivfpq_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table))
          Rivfpq.ingest(e, table)
        Similarity.topKIvfPqResidualIngested(s, table,
          e.filter(col("vec_id") < 20), "vec_id", "embedding",
          k = 5, nProbe = 4, nCandidates = 20, maxLiteralBookRows = 0)
      },
      rivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20)),

    ("probe_ivfpq_asof",
      (s: SparkSession, dir: String) => {
        // the SNAPSHOT probe path as its own bench line: a TWO-batch
        // index (so asOf=0 actually exercises the batch filter +
        // sidecar semi-join instead of degenerating to the full view),
        // built once, probed at batch 0
        val e = t(s, dir, "embeddings")
        val table = s"graft_prb_ivfpq_b2_${dirSuffix(dir)}"
        if (!s.catalog.tableExists(table)) {
          IvfPq.ingest(e.filter(col("vec_id") % 2 === 0), table)
          IvfPq.append(s, table, e.filter(col("vec_id") % 2 =!= 0))
        }
        Similarity.topKIvfPqIngested(s, table, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20,
          asOf = Some(0L))
      },
      ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
        iters = 2, dim = 64, k = 5, nCand = 20,
        trainWhere = "id % 2 = 0", serveWhere = "a.nn_id % 2 = 0")),
  )
}
