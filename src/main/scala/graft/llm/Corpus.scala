package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level text operators — the aggregating counterparts of the
  * per-document maps in [[TextAnalysis]]: global vocabulary /
  * heavy-hitters, TF-IDF weighting, and the composed training-data
  * admission filter.
  */
object Corpus {

  /** Global vocabulary: token -> corpus-wide occurrence count, top
    * `topN` by count (ties broken by token for determinism).
    *
    * Scale shape: explode is narrow; the groupBy(token) shuffles ONCE
    * with map-side partial counts (hot stopword tokens are pre-summed
    * per partition, so no skewed reducer); `orderBy.limit` compiles to
    * `TakeOrderedAndProject` — each partition keeps its local top-N and
    * the driver merges nParts*N rows. No global sort shuffle anywhere.
    */
  def vocab(df: DataFrame, textCol: String, topN: Int): DataFrame =
    graft.Partitioning.spread(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)

  /** TF-IDF per (doc, token): tf = cnt / doc_len, idf = ln(N / df).
    * Three partial-aggregated shuffles (doc+token, doc, token); the
    * corpus size N travels as a broadcast 1-row aggregate, never a
    * driver-side `.count()` action baked into the plan.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col("doc"), col("token")).agg(count(lit(1)).as("cnt"))
    val docLen = tf.groupBy(col("doc")).agg(sum(col("cnt")).as("dlen"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(docLen, Seq("doc")).join(docFreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        graft.Num.r6((col("cnt").cast("double") / col("dlen").cast("double"))
          * log(col("n_docs").cast("double") / col("df").cast("double"))))
      .select(col("doc"), col("token"), col("cnt"), col("tf_idf"))
  }

  /** Near-dup-aware admission filter: like [[trainingFilter]] but the
    * dedup gate is CLUSTER canonicality — a doc is admitted only if it
    * is the minimum id of its near-dup component (from
    * [[Dedup.clusterAssignments]] over MinHash+LSH pairs), so
    * paraphrased/boilerplate variants are removed, not just byte-exact
    * copies. This is the full pretraining admission pipeline in one
    * DataFrame DAG: near-dup clustering + language gate + quality gate.
    */
  def trainingFilterNearDup(df: DataFrame, idCol: String, textCol: String,
                            minQuality: Double, lang: String,
                            n: Int, k: Int, rowsPerBand: Int,
                            threshold: Double,
                            maxDocFreq: Option[Long],
                            tokensCol: Option[String] = None): DataFrame = {
    val spread = graft.Partitioning.spread(df)
    val pairs = Dedup.minhashLsh(spread, idCol, textCol, n, k, rowsPerBand,
      threshold, maxDocFreq, tokensCol = tokensCol)
    trainingFilterNearDup(spread, idCol, textCol, minQuality, lang, pairs,
      tokensCol)
  }

  /** Precomputed-pairs variant of [[trainingFilterNearDup]]: a real
    * pipeline computes the (expensive) near-dup pair relation ONCE —
    * `Dedup.minhashLsh(...).localCheckpoint()` — and feeds the same
    * materialized pairs to clustering, reporting, and this admission
    * filter, instead of re-running shingling + signatures per consumer.
    * `pairs` must have columns (d1, d2) keyed by `idCol` values.
    */
  // tokensCol is non-default here: Scala forbids default arguments on
  // more than one overload, and the composed entry point above is the
  // common call site
  def trainingFilterNearDup(df: DataFrame, idCol: String, textCol: String,
                            minQuality: Double, lang: String,
                            pairs: DataFrame): DataFrame =
    trainingFilterNearDup(df, idCol, textCol, minQuality, lang, pairs, None)

  def trainingFilterNearDup(df: DataFrame, idCol: String, textCol: String,
                            minQuality: Double, lang: String,
                            pairs: DataFrame,
                            tokensCol: Option[String]): DataFrame = {
    val spread = graft.Partitioning.spread(df)
    val clusters = Dedup.clusterAssignments(spread, idCol, pairs)
      .withColumnRenamed("doc", idCol)
    val scored = TextAnalysis.langId(
      TextAnalysis.quality(spread, textCol, tokensCol), textCol, tokensCol)
    scored.join(clusters, Seq(idCol))
      .filter(col("is_canonical")
        && col("lang_pred") === lang && col("quality_score") >= minQuality)
      .select(col(idCol), col("cluster"), col("lang_pred"), col("quality_score"))
  }

  /** Training-corpus admission filter — the composed pipeline a
    * pretraining data run applies per shard: language gate + quality
    * gate + exact-dedup canonical gate, in ONE DataFrame DAG.
    * Quality and language-ID are narrow column adds (no shuffle); the
    * dedup gate rides [[Dedup.exactByFingerprint]] so only (fingerprint,
    * id) longs cross the dedup exchanges and the join back to the scored
    * relation is on the doc id — corpus TEXT never ships through a
    * shuffle anywhere in the admission path (text equality is still
    * verified inside the fingerprint dedup, restricted to dup-candidate
    * groups).
    *
    * Output: the admitted docs with the metrics that admitted them.
    */
  def trainingFilter(df: DataFrame, idCol: String, textCol: String,
                     minQuality: Double, lang: String): DataFrame = {
    val spread = graft.Partitioning.spread(df)
    val scored = TextAnalysis.langId(TextAnalysis.quality(spread, textCol), textCol)
    val keep = Dedup.exactByFingerprint(spread, idCol, textCol)
      .filter(col("doc") === col("keep_id"))
      .select(col("doc").as(idCol), col("n_dups"))
    scored.join(keep, Seq(idCol))
      .filter(col("lang_pred") === lang && col("quality_score") >= minQuality)
      .select(col(idCol), col("lang_pred"), col("quality_score"), col("n_dups"))
  }

  /** Test-set decontamination — the eval-overlap gate every serious
    * pretraining run applies (n-gram overlap against held-out
    * benchmarks, as popularized by the GPT-3 appendix-C methodology):
    * a training document is contaminated when it shares at least
    * `minHits` distinct word `n`-grams with the benchmark set's n-gram
    * UNION (hits against different eval docs accumulate — stricter than
    * a per-eval-doc rule when minHits > 1). Output: every training doc
    * with its distinct shared-n-gram count and the admission verdict
    * (`doc`, `n_hits`, `keep = n_hits < minHits`).
    *
    * Scale shape: both sides reduce to HASHED n-grams
    * ([[Dedup.docShinglesHashed]]) so nothing exchanges n-gram text.
    * The eval side is benchmark-sized by definition (thousands of docs
    * against the corpus's billions): its distinct hash set is
    * BROADCAST, so the contamination probe is a broadcast semi-join —
    * the corpus never shuffles for candidate generation. Only the
    * per-doc hit counts (long, long) and the id-keyed join-back cross
    * an exchange, and the hits side is contaminated-docs-sized, which
    * AQE broadcasts in the common low-contamination case.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int, minHits: Long = 1L,
                    tokensCol: Option[String] = None): DataFrame = {
    require(n > 0 && minHits > 0, "n and minHits must be positive")
    // tokensCol (a precomputed TextAnalysis.tokens column) must be
    // present in BOTH relations when set — the usual caller derives
    // evalSet as a slice of the same tokenized corpus relation
    val trainSh = Dedup.docShinglesHashed(train, idCol, textCol, n,
      tokensCol = tokensCol)
    val evalH = Dedup.docShinglesHashed(evalSet, idCol, textCol, n,
        tokensCol = tokensCol)
      .select(col("h")).distinct()
    val hits = trainSh.join(broadcast(evalH), Seq("h"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_hits"))
    graft.Partitioning.spread(train).select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) < minHits).as("keep"))
  }

  /** Persist the eval suite's n-gram hash relation ONCE —
    * decontamination's pay-once index (the `ingestBm25` pattern applied
    * to eval integrity): the benchmark suite is FIXED while the corpus
    * streams in, so tokenizing and hashing the eval set per admission
    * batch is pure waste, and for a very large eval suite the per-run
    * operator's broadcast assumption stops holding. Rows are
    * `(h, doc)` — the hash WITH its benchmark doc of origin — bucketed
    * by h, exactly the probe's join key, so [[decontaminateIngested]]
    * reads it exchange-free regardless of size (only the batch side
    * shuffles, and it is batch-sized). The provenance column is what
    * makes [[deleteFromDecontamIndex]] possible: a retracted benchmark
    * deletes by doc id, and a hash SHARED with a remaining benchmark
    * keeps gating through the surviving row — a bare hash set cannot
    * retract without that attribution. Probes dedup to distinct h
    * post-filter (h is the bucket key — the dedup is exchange-free), so
    * verdicts are identical to the old set-shaped index. A 1-row `n`
    * sidecar makes probing with a mismatched n-gram order impossible by
    * construction.
    */
  def ingestDecontamIndex(evalSet: DataFrame, idCol: String, textCol: String,
                          n: Int, table: String, nBuckets: Int): Unit = {
    require(n > 0, "n must be positive")
    val spark = evalSet.sparkSession
    import spark.implicits._
    decontamIndex.ingest(spark, table, nBuckets,
      Seq(Dedup.docShinglesHashed(evalSet, idCol, textCol, n)
        .select(col("h"), col("doc"))),
      Seq(Seq(n).toDF("n")))
  }

  /** Fold a NEW benchmark batch into an [[ingestDecontamIndex]] index —
    * eval suites grow too (each new benchmark release must start
    * gating admission immediately, without re-hashing the whole
    * suite). The index is a SET of `(h, doc)` pairs: the batch's pairs
    * anti-join the persisted relation on BOTH columns, so OVERLAPPING
    * eval batches (a re-released benchmark) land every pair exactly
    * once — full per-doc provenance is preserved for
    * [[deleteFromDecontamIndex]] (an h-only anti-join would drop a
    * shared hash's second attribution, and a later retraction of the
    * first benchmark would then silently stop gating a hash this batch
    * still vouches for). `ingest(A); append(B)` is row-identical to
    * `ingest(A ∪ B)` at the (h, doc) granularity, snapshot stamps
    * aside. Tombstoned docs must not re-append (purge or rebuild
    * first — the standard contract).
    */
  def appendDecontamIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, evalBatch: DataFrame,
                          idCol: String, textCol: String): Unit =
    decontamIndex.append(spark, table, evalBatch, idCol, textCol)

  /** [[decontaminate]] against an [[ingestDecontamIndex]] index:
    * bit-identical verdicts (the distinct-h projection of the filtered
    * index IS the per-run operator's eval hash set, parquet round-trips
    * longs exactly — the gate shares the oracle), but the probe never
    * re-tokenizes the eval suite and never assumes it broadcasts: both
    * the tombstone-filtered dedup to distinct h AND the hit join read
    * the h-bucketed scan exchange-free; only the batch side shuffles.
    * n comes from the sidecar — parameter mismatch impossible. `asOf`
    * serves the suite as of an append batch (tombstones still apply —
    * retraction is retroactive).
    */
  def decontaminateIngested(spark: org.apache.spark.sql.SparkSession,
                            table: String, train: DataFrame, idCol: String,
                            textCol: String, minHits: Long = 1L,
                            asOf: Option[Long] = None): DataFrame = {
    require(minHits > 0, "minHits must be positive")
    val (n, _) = decontamIndex.load(spark, table)
    val evalH = decontamIndex.live(spark, table, asOf = asOf)
      .select(col("h")).distinct()
    val trainSh = Dedup.docShinglesHashed(train, idCol, textCol, n)
    val hits = trainSh.join(evalH, Seq("h"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_hits"))
    graft.Partitioning.spread(train).select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) < minHits).as("keep"))
  }

  /** Logically delete benchmark documents from an
    * [[ingestDecontamIndex]] index — the retraction verb the seventh
    * index family was missing: a withdrawn or corrected benchmark must
    * stop gating admission WITHOUT a full suite re-hash. Doc ids
    * tombstone (takedown-list-sized); probes exclude the retracted
    * docs' rows before the distinct-h dedup, so a hash shared with a
    * REMAINING benchmark keeps gating (the provenance column's whole
    * point) while hashes only the retracted benchmark contributed stop.
    * Because the index state is pure per-row, `ingest(A∪B); delete(B)`
    * is BIT-IDENTICAL to `ingest(A)` at probe time — the delete gate
    * shares the A-only oracle. [[compactDecontamIndex]] drops the rows
    * physically.
    */
  def deleteFromDecontamIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, ids: DataFrame): Unit =
    decontamIndex.delete(spark, table, ids)

  /** Physical drop + tombstone clear for a decontamination index (a
    * per-bucket local rewrite of the h-bucketed relation).
    */
  def compactDecontamIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String): Unit =
    decontamIndex.compact(spark, table)

  /** Decontam: the h-bucketed `(h, doc)` eval hash relation plus the
    * n-gram order sidecar. An append is a SET fold: its pairs anti-join
    * the persisted relation on BOTH columns, materialized BEFORE the
    * append (the anti-join's plan READS the very table the append writes
    * into — a mid-write file re-listing would re-read partial output and
    * silently drop pairs).
    */
  private[graft] val decontamIndex =
    graft.ops.PersistedIndex[(Int, DataFrame)]("DecontamIndex", "doc",
      tables = Seq("" -> "h"), sidecars = Seq("_meta" -> None),
      prepare = graft.ops.PersistedIndex.textRows,
      load = (spark, table) => {
        val meta = spark.table(s"${table}_meta").first()
        (meta.getInt(meta.fieldIndex("n")), spark.table(table))
      },
      encode = { case (rows, (n, existing)) =>
        Seq(Dedup.docShinglesHashed(rows, "doc", "text", n)
          .select(col("h"), col("doc"))
          .join(existing, Seq("h", "doc"), "left_anti")
          .localCheckpoint()) })

  /** Contamination ATTRIBUTION report — the auditor view behind
    * [[decontaminate]]: for each (benchmark doc, training doc) pair
    * sharing at least `minShared` distinct word n-grams, the shared
    * count. `decontaminate` answers "is this training doc clean?";
    * this answers "WHICH benchmark leaked into it, and how hard" —
    * the evidence table an eval-integrity review actually reads
    * (GPT-3 appendix C publishes exactly this per-benchmark overlap
    * accounting).
    *
    * Scale shape: identical to the gate — both sides reduce to hashed
    * n-grams, the benchmark side is benchmark-sized and BROADCASTS,
    * and the only exchange is the (eval_doc, train_doc) count
    * aggregation, which is contaminated-pairs-sized. Output:
    * (eval_doc, train_doc, n_shared).
    */
  def decontaminateReport(train: DataFrame, evalSet: DataFrame, idCol: String,
                          textCol: String, n: Int, minShared: Long = 1L,
                          tokensCol: Option[String] = None): DataFrame = {
    require(n > 0 && minShared > 0, "n and minShared must be positive")
    val trainSh = Dedup.docShinglesHashed(train, idCol, textCol, n,
      tokensCol = tokensCol)
    // docShinglesHashed is already distinct per (doc, h), so each
    // shared n-gram counts once per pair
    val evalSh = Dedup.docShinglesHashed(evalSet, idCol, textCol, n,
        tokensCol = tokensCol)
      .select(col("doc").as("eval_doc"), col("h"))
    trainSh.join(broadcast(evalSh), Seq("h"))
      .groupBy(col("eval_doc"), col("doc").as("train_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Gopher-style composite admission rules (Rae et al. 2021 §A1.1):
    * token-count window, mean-word-length window, minimum stopword
    * ratio (symbol-soup rejection), maximum top-word fraction and
    * minimum distinct-token fraction (repetition rejection) — the
    * standard rule battery applied in ONE narrow pass. Both scorers
    * ([[TextAnalysis.quality]], [[TextAnalysis.withRepetitionCols]])
    * are per-row column maps, so the whole gate is scan → filter with
    * zero shuffles; at 100 TB this is a single pass over the corpus.
    * Output: the admitted docs with the metrics that admitted them.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 40, maxTokens: Int = 100000,
                   minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 10.0,
                   minStopwordRatio: Double = 0.05,
                   maxTopWordFrac: Double = 0.2,
                   minDistinctFrac: Double = 0.3): DataFrame = {
    val scored = TextAnalysis.withRepetitionCols(
      TextAnalysis.quality(graft.Partitioning.spread(df), textCol), textCol)
    // Evaluation barrier: filter pushdown would inline the metric
    // aliases into BOTH the admission predicate and the output
    // projection, running every scoring HOF twice per row. A
    // one-element Generate (explode of a single-struct array) pins the
    // metric projection BELOW the filter — a predicate on generator
    // output cannot push through a Generate — so each metric evaluates
    // exactly once. Still a narrow scan → project → filter: zero
    // shuffles, PlanSpec-asserted.
    val m = scored.select(explode(array(struct(
        col(idCol), col("n_tokens"), col("avg_token_len"),
        col("stopword_ratio"), col("top_word_frac"), col("distinct_frac")))).as("m"))
      .select(col("m.*"))
    m.filter(col("n_tokens").between(minTokens, maxTokens)
        && col("avg_token_len").between(minAvgTokenLen, maxAvgTokenLen)
        && col("stopword_ratio") >= minStopwordRatio
        && col("top_word_frac") <= maxTopWordFrac
        && col("distinct_frac") >= minDistinctFrac)
  }

  /** CCNet-style language-model training half (Wenzek et al. 2019,
    * arXiv:1911.00359 §4.3): train a bigram LM on a CLEAN REFERENCE
    * sample (the paper uses Wikipedia; the caller passes any curated
    * slice) and keep only the top `topM` bigrams by count — ties broken
    * by (a, b) for determinism — so the model stays BROADCASTABLE no
    * matter how large the reference grows. Returns (bigrams(a, b, cab),
    * unigrams(b, cb)). The unigram table is kept whole: the reference
    * corpus is a curated sample, bounded by definition (same argument
    * as decontamination's eval-set hashes).
    *
    * Scale shape: two partial-aggregated shuffles over the REFERENCE
    * only (bigram count, unigram count) + one TakeOrderedAndProject for
    * the prune. The 100 TB corpus is never touched here.
    *
    * Both tables stay LAZY by default. Each downstream broadcast —
    * [[perplexityScore]] alone takes four — re-runs the reference
    * aggregation, but broadcast exchanges materialize CONCURRENTLY on
    * the driver's thread pool, and measured end-to-end that redundant
    * parallel work beats serializing two eager localCheckpoint jobs
    * first (corpus_perplexity 1.08 s lazy vs ~2.1 s materialized at
    * sf0.1). A caller that reuses the model across MANY separate
    * actions rather than one composed DAG checkpoints the (bounded:
    * topM + |ref vocab| rows) tables itself.
    */
  def bigramLm(ref: DataFrame, textCol: String,
               topM: Int, tokensCol: Option[String] = None): (DataFrame, DataFrame) = {
    val toks = filter(tokensCol.map(col).getOrElse(
      TextAnalysis.tokens(col(textCol))), t => t =!= "")
    val pairs = graft.Partitioning.spread(ref.filter(col(textCol).isNotNull))
      .select(toks.as("tk"))
    val bigrams = pairs.filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("a"),
          element_at(col("tk"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cab"))
      .orderBy(col("cab").desc, col("a").asc, col("b").asc)
      .limit(topM)
    val unigrams = pairs.select(explode(col("tk")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cb"))
    (bigrams, unigrams)
  }

  /** CCNet-style perplexity scoring: the document-quality signal is how
    * well a clean-reference LM predicts the document. Score = negative
    * mean log-probability over the doc's bigrams (lower = more fluent
    * under the reference distribution); per-bigram probability is
    *   - bigram in the pruned LM:  C(a,b) / C(a)
    *   - else stupid backoff (Brants et al. 2007): 0.4 * (C(b)+1)/(T+V)
    *     — add-one-smoothed unigram, OOV-safe (C(b)=0 for unseen b).
    * Docs with fewer than two tokens have no bigrams and no score —
    * they are absent from the output ([[perplexityFilter]] therefore
    * rejects them, the conservative default).
    *
    * Scale shape: the corpus explodes to bigrams (narrow), probes THREE
    * BROADCAST model tables (pruned bigrams + unigrams twice — C(a) and
    * C(b)) plus a broadcast one-row totals aggregate, then aggregates
    * once on the doc id — the only corpus-keyed shuffle. The corpus is
    * never joined to itself and the model never exceeds topM + |ref
    * vocab| rows.
    */
  def perplexityScore(corpus: DataFrame, idCol: String, textCol: String,
                      bigrams: DataFrame, unigrams: DataFrame,
                      tokensCol: Option[String] = None,
                      broadcastLm: Boolean = true): DataFrame = {
    // broadcastLm=false drops the broadcast() hints so AQE picks the
    // join sides — the huge-LM serving shape ([[bigramLm]] bounds the
    // model by topM + ref vocab, but a web-scale ref vocab can outgrow
    // executor memory; with the hints off, a small scored batch
    // broadcasts INTO the LM instead of the other way around). Default
    // true keeps the historical plan for model-sized LMs.
    def lm(df: DataFrame): DataFrame = if (broadcastLm) broadcast(df) else df
    val toks = filter(tokensCol.map(col).getOrElse(
      TextAnalysis.tokens(col(textCol))), t => t =!= "")
    val totals = unigrams.agg(sum(col("cb")).as("t"), count(lit(1)).as("v"))
    val pairs = graft.Partitioning.spread(corpus.filter(col(textCol).isNotNull))
      .select(col(idCol), toks.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("a"),
          element_at(col("tk"), i + 2).as("b")))).as("p"))
      .select(col(idCol), col("p.a").as("a"), col("p.b").as("b"))
    val lp = when(col("cab").isNotNull,
        log(col("cab").cast("double") / col("ca").cast("double")))
      .otherwise(lit(math.log(0.4)) +
        log((coalesce(col("cb"), lit(0L)) + 1).cast("double")
          / (col("t") + col("v")).cast("double")))
    pairs
      .join(lm(bigrams), Seq("a", "b"), "left")
      .join(lm(unigrams.select(col("b").as("a"), col("cb").as("ca"))),
        Seq("a"), "left")
      .join(lm(unigrams), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(graft.Num.r6(-avg(lp)).as("ppl"))
  }

  /** The admission gate over [[perplexityScore]]: keep documents the
    * reference LM finds fluent (score <= maxScore). Wenzek et al. cut
    * on per-language perplexity terciles; the caller picks the cut.
    */
  def perplexityFilter(corpus: DataFrame, idCol: String, textCol: String,
                       bigrams: DataFrame, unigrams: DataFrame,
                       maxScore: Double): DataFrame =
    corpus.join(
      perplexityScore(corpus, idCol, textCol, bigrams, unigrams)
        .filter(col("ppl") <= maxScore)
        .select(col(idCol)),
      Seq(idCol), "left_semi")

  /** URL canonicalization — the normalization every web-corpus dedup
    * keys on (a crawl sees the same page as `HTTP://X.com/a?utm_s=…#f`
    * and `http://x.com/a`): strip the fragment, strip tracking
    * parameters (`utm_*`, `gclid`, `fbclid`), tidy dangling `?`/`&`,
    * lowercase the scheme+host (NOT the path — paths are
    * case-sensitive), drop default ports (:80/:443), drop trailing
    * slashes. Pure narrow regexp arithmetic, RE2-compatible patterns
    * so the oracle reproduces each step byte-for-byte.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val noTrack = regexp_replace(noFrag, "(utm_[a-z]+|gclid|fbclid)=[^&]*&?", "")
    val tidy = regexp_replace(noTrack, "[?&]+$", "")
    val head = regexp_extract(tidy, "^[a-zA-Z]+://[^/?#]*", 0)
    val tail = regexp_replace(tidy, "^[a-zA-Z]+://[^/?#]*", "")
    val canonHead = regexp_replace(lower(head), ":(80|443)$", "")
    regexp_replace(concat(canonHead, tail), "/+$", "")
  }

  /** Canonical-URL dedup: canonicalize, then keep the lowest doc id per
    * canonical URL. One shuffle on the canonical key with map-side
    * partial agg — the [[Dedup.exact]] shape over URLs instead of text.
    * Output: (canonical_url, keep_id, n_dups).
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    graft.Partitioning.spread(df)
      .select(col(idCol).as("id"), canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Curriculum binning: exact quantile cutpoints over `scoreCol`
    * (`nBins`-iles), then a narrow bin assignment — the
    * easy-to-hard ordering signal a curriculum schedule consumes.
    *
    * Scale shape: the cutpoints are ONE exact-percentile aggregation
    * whose (nBins-1)-row result broadcasts; assignment is a narrow map
    * comparing each score against the literal cut list. The tempting
    * alternative — `ntile() OVER (ORDER BY score)` — is a GLOBAL
    * window: the whole corpus through one task's sort. Ties land in the
    * lower bin on both engines (bin = 1 + #cuts strictly below), so
    * bins can be uneven under heavy ties; that is the deterministic
    * choice, not a defect.
    */
  def curriculumBins(df: DataFrame, idCol: String, scoreCol: String,
                     nBins: Int): DataFrame = {
    require(nBins > 1, "nBins must be at least 2")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val cuts = df.agg(
      percentile(col(scoreCol), typedlit(ps)).as("cuts"))
    df.crossJoin(broadcast(cuts))
      .withColumn("bin",
        (lit(1) + size(filter(col("cuts"), c => col(scoreCol) > c))).cast("int"))
      .select(col(idCol), col(scoreCol), col("bin"))
  }

  /** Importance / mix weighting — the data-mixture step of a pretraining
    * corpus (Pile/DoReMi-style source weights): each (source, quality
    * bucket) cell carries a target admission rate in PARTS PER MILLION
    * from a weight table, and a document is admitted when
    * `rollingHash(id) mod 1e6 < rate_ppm` — deterministic hash
    * admission, so membership is reproducible row-for-row and STABLE as
    * the corpus grows (a seeded `sample()` re-rolls membership every
    * run; this never does). Integer ppm, not a float probability, so
    * the admission predicate is exact in any engine.
    *
    * Scale shape: the weight table is mixture-spec-sized (sources x
    * buckets — tens of rows) and BROADCASTS; admission is then a narrow
    * map over the corpus — no shuffle anywhere. Cells absent from the
    * table fall back to `defaultPpm` (0 = drop unlisted cells, the safe
    * default for a curated mixture). Output: admitted docs with the
    * (source, bucket, weight_ppm) that admitted them.
    */
  def mixWeightedSample(df: DataFrame, idCol: String, sourceCol: String,
                        bucketCol: String, weights: DataFrame,
                        defaultPpm: Long = 0L): DataFrame = {
    require(defaultPpm >= 0L && defaultPpm <= 1000000L, "defaultPpm must be in [0, 1e6]")
    // validate the weight TABLE with the same rigor as defaultPpm — it
    // is mix-config-sized by definition, so one eager collect is cheap:
    // a duplicate (source, bucket) row would fan out every admitted doc
    // through the left join (2x oversampling with no error), and an
    // out-of-range ppm silently means admit-all/drop-all
    val proj = weights.select(col("source").as("_w_source"),
      col("bucket").as("_w_bucket"), col("weight_ppm").cast("long").as("_w_ppm"))
    val wRows = proj.collect()
    val wKeys = wRows.map(r => (r.get(0), r.get(1))).toSeq
    require(wKeys.distinct.length == wKeys.length,
      "duplicate (source, bucket) rows in the weight table")
    require(wRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "null source/bucket in the weight table: === join keys never match null" +
        " — the cell would silently fall back to defaultPpm")
    require(wRows.forall(r => !r.isNullAt(2) && r.getLong(2) >= 0L && r.getLong(2) <= 1000000L),
      "every weight_ppm must be in [0, 1e6]")
    // broadcast the ALREADY-COLLECTED rows — re-using `weights` here
    // would execute its lineage a second time
    val w = broadcast(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(wRows: _*), proj.schema))
    graft.Partitioning.spread(df)
      .join(w, col(sourceCol) === col("_w_source")
        && col(bucketCol) === col("_w_bucket"), "left")
      .withColumn("weight_ppm", coalesce(col("_w_ppm"), lit(defaultPpm)))
      .filter(pmod(TextAnalysis.rollingHash(col(idCol).cast("string")),
        lit(1000000L)) < col("weight_ppm"))
      .drop("_w_source", "_w_bucket", "_w_ppm")
  }

  /** Temperature-based mixture sampling — the multilingual/source
    * rebalancing step of a pretraining mix (XLM-R, Conneau et al. 2020
    * §3.1; mT5): the admission quota of domain d is proportional to
    * c_d^tau, so tau = 1 keeps the natural distribution and tau → 0
    * flattens it toward uniform, upweighting low-resource domains. Per
    * domain the quota is `min(c_d, floor(nTarget * c_d^tau / Σ c^tau))`
    * (never oversample past the domain's own size) and the quota
    * smallest docs by (rollingHash(id), id) are admitted —
    * deterministic, reproducible membership, same hash-admission
    * discipline as [[mixWeightedSample]]. Shares (via [[graft.Num.r6]])
    * float rounding on both the share and the scaled quota so the
    * floor lands identically in any engine.
    *
    * Rows with a NULL domain are EXCLUDED: a mixture rebalance is
    * defined over attributed sources only (contrast [[domainCap]],
    * where a parse-miss must not discard — here an unattributed row
    * has no mixture cell to draw from, the same reason
    * [[mixWeightedSample]]'s weight table forbids null keys).
    *
    * Scale shape: one partial-aggregated count per domain (domain
    * cardinality, join strategy left to AQE — same argument as the
    * n-gram size relation) + a one-row broadcast normalizer; admission
    * ranks run as the salted two-stage [[graft.ops.Reshape.saltedTopN]]
    * with the domain's quota as N, so a crawler-trap domain never sorts
    * through one task. Output:
    * admitted rows as (id, domain, quota, rank_in_mix).
    */
  def temperatureSample(df: DataFrame, idCol: String, domainCol: String,
                        tau: Double, nTarget: Long,
                        nSalts: Int = 16): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(nTarget > 0 && nSalts > 0, "nTarget and nSalts must be positive")
    // fail fast on generated/output name shadowing (the
    // selectByTokenBudget / Xslt.pipeline reserved-name convention,
    // case-insensitive to match Spark's resolution): an idCol or
    // domainCol named e.g. 'quota' would be silently replaced by the
    // generated column in the final select
    require(!Seq(idCol, domainCol).exists(c =>
      Seq("quota", "rank_in_mix", "_h", "_t_dom").exists(c.equalsIgnoreCase)),
      "idCol/domainCol must not be named 'quota', 'rank_in_mix', '_h' or " +
        "'_t_dom' — reserved by temperatureSample")
    val d = graft.Partitioning.spread(df).filter(col(domainCol).isNotNull)
    val counts = d.groupBy(col(domainCol).as("_t_dom"))
      .agg(count(lit(1)).as("_t_c"))
    val tot = counts.agg(sum(pow(col("_t_c"), lit(tau))).as("_t_tot"))
    val quotas = counts.crossJoin(broadcast(tot))
      .withColumn("_t_share",
        graft.Num.r6(pow(col("_t_c"), lit(tau)) / col("_t_tot")))
      .select(col("_t_dom"),
        least(col("_t_c"),
          floor(graft.Num.r6(lit(nTarget.toDouble) * col("_t_share")))
            .cast("long")).as("quota"))
    val withQ = d.join(quotas, col(domainCol) === col("_t_dom"))
      .drop("_t_dom")
      .withColumn("_h", TextAnalysis.rollingHash(col(idCol).cast("string")))
    graft.ops.Reshape.saltedTopN(withQ, Seq(col(domainCol)), Seq(col("_h").asc, col(idCol).asc),
        hash(col(idCol)), col("quota"), nSalts, "rank_in_mix")
      .select(col(idCol), col(domainCol), col("quota"), col("rank_in_mix"))
  }

  /** Sequence packing — the batch-construction step between a cleaned
    * corpus and the training loop: documents are concatenated and the
    * token stream is CHUNKED into fixed-`capacity` context windows
    * (the standard GPT-style pack; a doc may straddle two windows).
    * Output per doc: its pack stream, its start offset in the stream's
    * token tape, and the first/last sequence (chunk) it lands in —
    * enough for a writer to emit the sequences or an auditor to check
    * boundary effects. Sequence ids are stream-local.
    *
    * Deterministic AND parallel: docs hash into `nStreams` independent
    * pack streams via the engine-reproducible [[TextAnalysis.rollingHash]]
    * of the id (a doc's stream never changes as the corpus grows), and
    * the only wide operation is the per-stream running sum — a window
    * partitioned by stream, so parallelism = nStreams regardless of
    * corpus size. Size nStreams to the cluster (default 64 is a
    * local[32] setting; at 100 TB use thousands) — a SINGLE global
    * running sum would serialize the corpus through one partition.
    * `idCol` must be unique: it is the within-stream pack order. NULL
    * and negative token counts pack as 0 tokens (the doc still appears,
    * carrying its offset; a negative count must never rewind the tape —
    * same clamp as [[graft.streaming.EventStream.packStream]]).
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    capacity: Long, nStreams: Int = 64,
                    streamCol: Option[String] = None): DataFrame = {
    require(capacity > 0 && nStreams > 0, "capacity and nStreams must be positive")
    // same reserved-name fail-fast as batchByLength: an idCol or
    // tokensCol named 'stream'/'n_toks'/'start_offset' would be
    // shadowed by the generated withColumn (case-insensitive)
    require(!(Seq(idCol, tokensCol) ++ streamCol).exists(c =>
      Seq("stream", "n_toks", "start_offset", "seq_first", "seq_last").exists(c.equalsIgnoreCase)),
      "idCol/tokensCol/streamCol must not be named 'stream', 'n_toks', 'start_offset', " +
        "'seq_first' or 'seq_last' — reserved by packSequences")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("stream")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.Partitioning.spread(df)
      // streamCol overrides the hash-derived stream: CALLER-KEYED packing
      // (e.g. one context-assembly stream per query, ordered by rerank
      // position) — idCol then only needs uniqueness WITHIN a stream, and
      // nStreams is ignored; parallelism = distinct stream keys
      .withColumn("stream", streamCol.map(col).getOrElse(
        pmod(TextAnalysis.rollingHash(col(idCol).cast("string")), lit(nStreams.toLong))))
      .withColumn("n_toks", greatest(coalesce(col(tokensCol).cast("long"), lit(0L)), lit(0L)))
      .withColumn("start_offset", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col(idCol).as("doc"), col("n_toks"), col("stream"), col("start_offset"),
        expr(s"start_offset div $capacity").as("seq_first"),
        when(col("n_toks") > 0, expr(s"(start_offset + n_toks - 1) div $capacity"))
          .otherwise(expr(s"start_offset div $capacity")).as("seq_last"))
  }

  /** Best-fit-decreasing sequence packing — the bounded-waste BIN-PACKED
    * alternative to [[packSequences]]' concat-and-chunk: documents are
    * NEVER split across context windows (concat-and-chunk straddles a
    * doc over two windows, which truncates attention over its boundary
    * tokens — the padding-vs-straddling trade every training pipeline
    * picks a side of), and padding waste is bounded by the classic FFD
    * guarantee (≤ 11/9·OPT + 6/9 bins per stream). Within each stream,
    * docs sort by (tokens DESC, id ASC) and each places into the open
    * bin with the SMALLEST sufficient remaining capacity (ties to the
    * lowest bin index); no fit opens a new bin. A doc LONGER than
    * `capacity` gets a bin of its own (overfull — the caller's
    * truncation policy applies downstream); zero/NULL-token docs pack
    * into the fullest open bin at zero cost.
    *
    * Scale shape: docs hash into `nStreams` independent streams (the
    * [[packSequences]] sharding — a doc's stream never changes as the
    * corpus grows); the fold itself runs as ONE deterministic JVM fold
    * per stream inside a typed UDF over the stream's sorted
    * `(rank, tokens)` pairs — deliberately NOT a Catalyst
    * higher-order `aggregate`: HOF lambdas evaluate interpreted per
    * element and an array-append accumulator copies O(n) per doc,
    * which measured 43 s on a 5 000-doc fixture (quadratic — a
    * scale-killer); the UDF is the documented last-resort for
    * genuinely sequential imperative per-group logic, and only
    * `(rank, n)` longs pass through it — doc ids never serialize into
    * the UDF, they join back on (stream, rank). The honest trade vs
    * the running-sum pack stands: FFD needs the stream's pairs in one
    * task (collect_list), so per-stream memory is O(docs/nStreams)
    * pairs + O(bins/stream) open-bin state — size nStreams so a
    * stream fits a task (at 100 TB: tens of thousands of streams),
    * where packSequences needs only a running sum. Deterministic and
    * engine-reproducible by construction (pure integer arithmetic,
    * total order).
    *
    * @return (doc, n_toks, stream, bin, bin_offset) — bin is 0-based
    *         per stream; bin_offset is the doc's token offset within
    *         its bin (sum of earlier-placed docs' tokens)
    */
  def packBestFit(df: DataFrame, idCol: String, tokensCol: String,
                  capacity: Long, nStreams: Int = 64,
                  streamCol: Option[String] = None): DataFrame = {
    require(capacity > 0 && nStreams > 0, "capacity and nStreams must be positive")
    require(!(Seq(idCol, tokensCol) ++ streamCol).exists(c =>
      Seq("stream", "n_toks", "bin", "bin_offset").exists(c.equalsIgnoreCase)),
      "idCol/tokensCol/streamCol must not be named 'stream', 'n_toks', " +
        "'bin' or 'bin_offset' — reserved by packBestFit")
    val nTok = greatest(coalesce(col(tokensCol).cast("long"), lit(0L)), lit(0L))
    import org.apache.spark.sql.expressions.Window
    // rank = the FFD visit order (tokens DESC, id ASC) — the fold's
    // input AND the join-back key, so the UDF never sees doc ids
    val w = Window.partitionBy(col("stream"))
      .orderBy(col("n_toks").desc, col(idCol).asc)
    val ranked = graft.Partitioning.spread(df)
      .withColumn("stream", streamCol.map(col).getOrElse(
        pmod(TextAnalysis.rollingHash(col(idCol).cast("string")),
          lit(nStreams.toLong))))
      .withColumn("n_toks", nTok)
      .withColumn("_rn", row_number().over(w))
      .select(col(idCol).as("doc"), col("n_toks"), col("stream"), col("_rn"))
      .localCheckpoint() // two consumers: the fold input and the join-back
    val asg = ranked
      .groupBy(col("stream"))
      .agg(sort_array(collect_list(struct(col("_rn"), col("n_toks")))).as("items"))
      .select(col("stream"),
        explode(bestFitFold(capacity)(col("items"))).as("a"))
      .select(col("stream"), col("a._1").as("_rn"),
        col("a._2").as("bin"), col("a._3").as("bin_offset"))
    ranked.join(asg, Seq("stream", "_rn"))
      .select(col("doc"), col("n_toks"), col("stream"),
        col("bin").cast("int").as("bin"), col("bin_offset"))
  }

  /** The per-stream best-fit-decreasing fold as a deterministic JVM
    * function: input the stream's (rank, tokens) pairs sorted by rank
    * (= tokens DESC, id ASC), output (rank, bin, bin_offset). Best fit
    * = among bins with room, the LARGEST load (smallest remainder),
    * ties to the lowest bin index (strict `>` over an in-order scan);
    * no fit opens a new bin. O(docs × bins) per stream with mutable
    * open-bin state — the imperative shape the interpreted Catalyst
    * fold could not express without quadratic array copying.
    */
  private def bestFitFold(capacity: Long) =
    udf((items: Seq[org.apache.spark.sql.Row]) => {
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      items.map { r =>
        val rn = r.getInt(0); val n = r.getLong(1)
        var best = -1; var bestLoad = -1L
        var i = 0
        while (i < bins.length) {
          if (bins(i) + n <= capacity && bins(i) > bestLoad) {
            best = i; bestLoad = bins(i)
          }
          i += 1
        }
        if (best < 0) { bins += n; (rn, bins.length - 1, 0L) }
        else { val off = bins(best); bins(best) += n; (rn, best, off) }
      }
    })

  /** The per-BIN manifest over [[packBestFit]]'s placements — the
    * writer view ([[packedSegments]]'s sibling for the no-straddling
    * packer): one row per (stream, bin) with the docs IN PLACEMENT
    * ORDER (the artifact a sequence writer consumes — it emits the
    * bin's docs contiguously), the fill, and the padding waste the bin
    * ships. Placement order reconstructs from the placements alone:
    * within a bin offsets strictly increase for token-bearing docs, and
    * zero-token docs (equal offsets) were visited in id order — so
    * (bin_offset ASC, n_toks DESC, doc ASC) IS the order the fold
    * placed them, no rank column needed. Waste is clamped at zero for
    * the overfull single-doc bins (a doc longer than capacity — flagged
    * instead: the caller's truncation policy owns those tokens).
    *
    * One narrow aggregation over the placements, grouped on the same
    * (stream, bin) key the placements already carry — no second fold,
    * no join back to the corpus. Integer-only, engine-reproducible.
    *
    * @return (stream, bin, n_docs, docs, fill, waste, overfull)
    */
  def packBestFitBins(placements: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    placements
      .groupBy(col("stream"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        transform(sort_array(collect_list(struct(col("bin_offset"),
            (-col("n_toks")).as("negn"), col("doc")))),
          e => e.getField("doc")).as("docs"),
        sum(col("n_toks")).as("fill"))
      .select(col("stream"), col("bin"), col("n_docs"), col("docs"),
        col("fill"),
        greatest(lit(capacity) - col("fill"), lit(0L)).as("waste"),
        (col("fill") > lit(capacity)).as("overfull"))
  }

  /** Token-budget corpus selection — the "best N tokens" cut a
    * quality-filtered pretraining run makes when compute (not data) is
    * the constraint: admit the highest-`scoreCol` documents until
    * `budget` tokens are filled. The scalable form is a HISTOGRAM
    * THRESHOLD, not a global sort: scores (in [0,1], NULL scores as
    * 0) bin into `nBins` fixed bins; bins strictly above the
    * threshold bin are admitted whole, bins below are dropped, and
    * the single boundary bin is admitted by deterministic hash at the
    * exact integer rate `ppm = remainder_tokens * 1e6 / bin_tokens`
    * (the [[mixWeightedSample]] admission rule) — so the realized
    * token count meets the budget in expectation with per-bin
    * granularity 1/nBins of the corpus, and no task ever sorts or
    * running-sums more than its own partition.
    *
    * Scale shape: one narrow bin projection + one <= nBins-row
    * aggregation whose collect is bounded by the nBins LITERAL (same
    * bounded-by-construction argument as the mixture weight table);
    * admission is then a narrow filter against driver-computed
    * integer literals. The ppm arithmetic runs in BigInt (oracle:
    * HUGEINT) so a 100 TB boundary bin cannot overflow. Output: the
    * admitted docs as (id, score, n_toks, bin).
    */
  def selectByTokenBudget(df: DataFrame, idCol: String, scoreCol: String,
                          nTokCol: String, budget: Long,
                          nBins: Int = 1000): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(nBins > 1, "nBins must be at least 2")
    // the output schema is EXACTLY (idCol, scoreCol, n_toks, bin) — other
    // input columns are dropped, never silently overwritten; the id and
    // score columns therefore must not shadow the generated names (the
    // Xslt.pipeline reserved-name convention, case-insensitive to match
    // Spark's resolution)
    require(!Seq(idCol, scoreCol).exists(c =>
      Seq("bin", "_sb_n", "n_toks").exists(c.equalsIgnoreCase)),
      "idCol/scoreCol must not be named 'bin', 'n_toks' or '_sb_n' — " +
        "reserved by selectByTokenBudget's output schema")
    // the histogram action and the returned filter both consume this
    // relation: materialize the NARROW (id, score, n, bin) projection
    // once (localCheckpoint — the [[Dedup.ngramJaccard]] shingle
    // policy) so the upstream lineage (often an expensive scorer) runs
    // a single time and both passes provably see the same rows
    val d = graft.Partitioning.spread(df)
      .select(col(idCol), col(scoreCol),
        greatest(coalesce(col(nTokCol).cast("long"), lit(0L)), lit(0L))
          .as("_sb_n"),
        least(lit(nBins - 1), greatest(lit(0L),
          floor(coalesce(col(scoreCol), lit(0.0)) * nBins))).cast("int")
          .as("bin"))
      .localCheckpoint()
    val hist = d.groupBy(col("bin")).agg(sum(col("_sb_n")).as("toks"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cut = budgetCut(hist, budget, nBins)
    val admitFull =
      if (cut.fullBins.isEmpty) lit(false)
      else col("bin").isInCollection(cut.fullBins.toSeq)
    val admit = cut.boundary match {
      case None => admitFull
      case Some((t, ppm)) =>
        admitFull || (col("bin") === t
          && pmod(TextAnalysis.rollingHash(col(idCol).cast("string")),
            lit(1000000L)) < lit(ppm))
    }
    d.filter(admit)
      .select(col(idCol), col(scoreCol), col("_sb_n").as("n_toks"), col("bin"))
  }

  /** The admission policy [[selectByTokenBudget]] derives from its
    * score histogram, as data: bins admitted whole, plus the single
    * boundary bin's exact ppm admission rate. nBins-bounded by
    * construction — broadcastable anywhere, which is the point: a
    * streaming ingest ([[graft.streaming.EventStream.budgetStream]])
    * applies the same cut as a stateless per-doc check.
    */
  final case class BudgetThreshold(nBins: Int, fullBins: Set[Int],
                                   boundary: Option[(Int, Long)]) {
    /** Scalar twin of the batch admission filter: same bin arithmetic,
      * same rolling-hash ppm draw ([[graft.functions.RollingHash]]).
      */
    def admits(id: Long, score: Option[Double]): Boolean = {
      val bin = binOf(score, nBins)
      fullBins.contains(bin) || boundary.exists { case (t, ppm) =>
        bin == t &&
          math.floorMod(graft.functions.RollingHash.hashId(id), 1000000L) < ppm
      }
    }
  }

  /** Scalar mirror of the batch bin column (`least(nBins-1,
    * greatest(0, floor(coalesce(score,0)*nBins)))`) — identical IEEE
    * multiply-then-floor, NULL scores bin at 0.
    */
  private[graft] def binOf(score: Option[Double], nBins: Int): Int =
    math.min(nBins - 1, math.max(0L, math.floor(score.getOrElse(0.0) * nBins).toLong)).toInt

  /** Histogram → admission cut, the driver-side core of
    * [[selectByTokenBudget]]: descending cumulative `above(b)` = tokens
    * in strictly higher bins; a bin is fully admitted iff
    * `above + toks <= budget`, and the unique boundary bin
    * (`above <= budget < above + toks`) admits at the exact integer
    * rate `ppm = remainder * 1e6 / bin_tokens` (BigInt — a 100 TB
    * boundary bin cannot overflow the product).
    */
  private def budgetCut(hist: Map[Int, Long], budget: Long, nBins: Int): BudgetThreshold = {
    val desc = hist.keys.toSeq.sorted.reverse
    val above = desc.scanLeft(0L)((acc, b) => acc + hist(b)).init
      .zip(desc).map { case (a, b) => b -> a }.toMap
    val fullBins = hist.keys.filter(b => above(b) + hist(b) <= budget).toSet
    val boundary = hist.keys.find(b =>
      above(b) <= budget && budget < above(b) + hist(b)).map { t =>
      t -> (BigInt(budget - above(t)) * 1000000L / hist(t)).toLong
    }
    BudgetThreshold(nBins, fullBins, boundary)
  }

  /** Compute [[selectByTokenBudget]]'s admission cut WITHOUT the
    * admission pass — the calibration half of a batch-calibrate /
    * stream-apply deployment: run this on yesterday's scored corpus,
    * broadcast the returned threshold into the ingest stream
    * ([[graft.streaming.EventStream.budgetStream]]). One narrow pass +
    * one nBins-row aggregation; no checkpoint needed since the lineage
    * runs once.
    */
  def budgetThreshold(df: DataFrame, scoreCol: String, nTokCol: String,
                      budget: Long, nBins: Int = 1000): BudgetThreshold = {
    require(budget >= 0, "budget must be non-negative")
    require(nBins > 1, "nBins must be at least 2")
    val hist = graft.Partitioning.spread(df)
      .select(
        greatest(coalesce(col(nTokCol).cast("long"), lit(0L)), lit(0L)).as("_sb_n"),
        least(lit(nBins - 1), greatest(lit(0L),
          floor(coalesce(col(scoreCol), lit(0.0)) * nBins))).cast("int").as("bin"))
      .groupBy(col("bin")).agg(sum(col("_sb_n")).as("toks"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    budgetCut(hist, budget, nBins)
  }

  /** Sequence-segment view over [[packSequences]] output — the view a
    * training-batch WRITER consumes: one row per (sequence, doc slice),
    * saying which token range of each context window comes from which
    * document. A doc spanning windows contributes one segment per
    * window it touches; `seg_off` is the segment's start INSIDE its
    * window, `seg_len` its token count, so per (stream, seq) the
    * segments tile the window without gaps or overlap (asserted in
    * CorpusSpec) and a writer can emit attention-mask boundaries
    * directly. Zero-token docs (NULL/negative clamps) occupy no tape
    * and appear in no window.
    *
    * Scale shape: a narrow explode of each doc's seq_first..seq_last
    * range plus integer arithmetic — no shuffle beyond what
    * [[packSequences]] already did; window membership never re-sorts
    * the tape.
    */
  def packedSegments(packed: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    packed.filter(col("n_toks") > 0)
      .select(col("doc"), col("stream"), col("start_offset"), col("n_toks"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq"))
      .select(col("stream"), col("seq"), col("doc"),
        greatest(lit(0L), col("start_offset") - col("seq") * capacity)
          .as("seg_off"),
        (least((col("seq") + 1) * capacity, col("start_offset") + col("n_toks"))
          - greatest(col("seq") * capacity, col("start_offset"))).as("seg_len"))
  }

  /** Length-bucketed batch assembly — the padding-efficiency step of a
    * fine-tuning/SFT pipeline: documents are bucketed by token count
    * (so a batch never pads a 10-token row against a 2000-token row)
    * and then grouped into fixed-size batches within each bucket.
    * `bucketBounds` are exclusive upper bounds; counts >= the last
    * bound land in the overflow bucket `bounds.length`; NULL and
    * negative counts clamp to 0 tokens and land in bucket 0 (the same
    * clamp as [[packSequences]] — a malformed count must never drop
    * the row). Ties/ordering are deterministic: within (bucket,
    * stream) docs are batched in id order, `batch_idx` counts from 0,
    * `pos_in_batch` from 0.
    *
    * Scale shape: bucket assignment is a NARROW comparison against the
    * literal bound list (the [[curriculumBins]] pattern, no shuffle);
    * batch numbering needs a running rank, which runs per (bucket,
    * stream) with docs hashed into `nStreams` independent streams —
    * the [[packSequences]] parallelism contract (a per-BUCKET rank
    * would funnel the corpus through one task per bucket; parallelism
    * here is nBuckets x nStreams regardless of corpus size, and a
    * doc's (bucket, stream) never changes as the corpus grows). The
    * last batch of each (bucket, stream) may be short; a trainer drops
    * or pads it by policy.
    */
  def batchByLength(df: DataFrame, idCol: String, nTokCol: String,
                    bucketBounds: Seq[Long], batchSize: Int,
                    nStreams: Int = 64): DataFrame = {
    require(bucketBounds.nonEmpty && bucketBounds == bucketBounds.sorted
      && bucketBounds.distinct == bucketBounds && bucketBounds.head > 0,
      "bucketBounds must be positive, strictly increasing")
    require(batchSize > 0 && nStreams > 0, "batchSize and nStreams must be positive")
    // fail fast on generated/output name shadowing (the
    // selectByTokenBudget / Xslt.pipeline reserved-name convention,
    // case-insensitive): an idCol or nTokCol named 'bucket'/'stream'/
    // '_rn' would be shadowed by the generated withColumn, silently
    // emitting the generated value or ordering the rank window by the
    // stream hash instead of the id
    require(!Seq(idCol, nTokCol).exists(c =>
      Seq("bucket", "stream", "_rn").exists(c.equalsIgnoreCase)),
      "idCol/nTokCol must not be named 'bucket', 'stream' or '_rn' — " +
        "reserved by batchByLength")
    import org.apache.spark.sql.expressions.Window
    val n = greatest(coalesce(col(nTokCol).cast("long"), lit(0L)), lit(0L))
    val bucket = bucketBounds.zipWithIndex.foldRight(lit(bucketBounds.length)) {
      case ((bound, i), tail) => when(n < bound, lit(i)).otherwise(tail)
    }
    val w = Window.partitionBy(col("bucket"), col("stream"))
      .orderBy(col(idCol).asc)
    graft.Partitioning.spread(df)
      .withColumn("bucket", bucket)
      .withColumn("stream",
        pmod(TextAnalysis.rollingHash(col(idCol).cast("string")), lit(nStreams.toLong)))
      .withColumn("_rn", row_number().over(w))
      .select(col(idCol).as("doc"), n.as("n_toks"), col("bucket"), col("stream"),
        (((col("_rn") - 1) / batchSize).cast("int")).as("batch_idx"),
        ((col("_rn") - 1) % batchSize).cast("int").as("pos_in_batch"))
  }

  /** Per-domain admission cap — the web-corpus balance rule ("no single
    * site dominates the training mix"): keep at most `maxPerDomain`
    * documents per URL domain, admitted in deterministic id order.
    *
    * Scale shape: domains are the textbook skewed key (one crawler-trap
    * site can hold millions of pages), so the rank runs as the salted
    * two-stage [[graft.ops.Reshape.saltedTopN]] on `hash(id)`. Output
    * adds `domain` and `rank_in_domain` (1-based).
    */
  def domainCap(df: DataFrame, idCol: String, urlCol: String,
                maxPerDomain: Int, nSalts: Int = 16): DataFrame = {
    require(maxPerDomain > 0 && nSalts > 0, "maxPerDomain and nSalts must be positive")
    // unparseable URLs (ftp://, protocol-relative, junk) get a NULL
    // domain and are ADMITTED uncapped with rank NULL: collapsing every
    // non-http(s) URL into one "" pseudo-domain would silently drop all
    // but maxPerDomain of them — an admission filter must never
    // mass-discard on a parse miss
    val ext = regexp_extract(col(urlCol), "^https?://([^/]+)", 1)
    val d = graft.Partitioning.spread(df)
      .withColumn("domain", when(ext =!= "", ext))
    val (capped, passthrough) =
      (d.filter(col("domain").isNotNull), d.filter(col("domain").isNull))
    graft.ops.Reshape.saltedTopN(capped, Seq(col("domain")), Seq(col(idCol).asc),
        hash(col(idCol)), lit(maxPerDomain), nSalts, "rank_in_domain")
      .unionByName(passthrough.withColumn("rank_in_domain", lit(null).cast("int")))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw-corpus
    * document by how target-domain-like its hashed n-gram distribution
    * is. Features are unigrams + bigrams rolling-hashed into `nBuckets`
    * bins (with multiplicity — bag-of-hashed-ngrams); each bin gets a
    * Laplace-smoothed log-likelihood ratio
    *
    *   λ[b] = ln((ct[b]+1) / (Tt+nBuckets)) − ln((cr[b]+1) / (Tr+nBuckets))
    *
    * (ct/cr = target/raw bin counts, Tt/Tr totals), and a document's
    * log-weight is Σ over its features of λ[bucket] — the importance
    * weight a resampling pass (e.g. [[selectByTokenBudget]] on `logw`,
    * or a Gumbel top-k) then consumes.
    *
    * Scale shape: the λ table is `nBuckets` rows BY CONSTRUCTION — the
    * hashing trick's whole point — so it broadcasts no matter how big
    * either corpus is; the raw corpus is tokenized and hash-exploded
    * exactly ONCE (the per-(doc, bucket) counts are checkpointed and
    * both consumers — bucket totals and per-doc accumulation — read
    * them), keyed on (doc, bucket) with no windows. Float discipline: each λ is r6-rounded into exact
    * integer micro-units ONCE per bucket; per-doc accumulation is an
    * integer Σ count·λmicro (order-free); one final division. Documents
    * with no features (null/empty text) carry no evidence and are
    * absent from the output, deliberately.
    *
    * @return (id, logw) — higher = more target-like
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    def feats(df: DataFrame): DataFrame = {
      val tk = filter(TextAnalysis.tokens(col(textCol)), t => t =!= lit(""))
      val uni = tk
      val bi = zip_with(slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      graft.Partitioning.spread(df)
        .where(col(textCol).isNotNull)
        .select(col(idCol).as("id"), explode(concat(uni, bi)).as("g"))
        .select(col("id"),
          pmod(TextAnalysis.rollingHash(col("g")), lit(nBuckets.toLong)).as("b"))
    }
    // ONE tokenize+hash pass over the raw corpus (its dominant cost):
    // the per-(doc, bucket) counts are materialized (batch of narrow
    // integer rows, far smaller than the exploded feature relation) and
    // BOTH consumers — the λ-table bucket totals and the per-doc
    // accumulation — read the checkpoint; deriving rc from db is exact
    // (a bucket's count is the sum of its per-doc counts)
    val db = feats(raw).groupBy("id", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tf = feats(target)
    val rc = db.groupBy("b").agg(sum(col("c")).as("cr"))
    val tc = tf.groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = rc.agg(sum(col("cr")).as("tr"))
      .crossJoin(tc.agg(sum(col("ct")).as("tt")))
    // λ table: nBuckets rows joined with the 1-row totals — broadcast
    // scale by construction regardless of corpus size
    val lam = rc.join(tc, Seq("b"), "left").crossJoin(broadcast(totals))
      .select(col("b"), floor(graft.Num.r6(
        log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
          / (coalesce(col("tt"), lit(0L)) + lit(nBuckets.toLong)).cast("double"))
          - log((col("cr") + lit(1L)).cast("double")
            / (col("tr") + lit(nBuckets.toLong)).cast("double")))
        * lit(1000000.0d) + lit(0.5d)).cast("long").as("lam"))
    db.join(broadcast(lam), Seq("b"))
      .groupBy("id").agg(sum(col("c") * col("lam")).as("wm"))
      .select(col("id"),
        graft.Num.r6(col("wm").cast("double") / lit(1000000.0d)).as("logw"))
  }

  /** Deterministic Gumbel top-k sampling — the weighted-without-
    * replacement resampling pass the [[dsirWeights]] contract points its
    * consumers at (Vieira 2014: adding independent Gumbel noise to log-
    * weights and taking the top k IS sampling k items without
    * replacement ∝ exp(logw)): each document's noise derives from the
    * engine-reproducible rolling hash of its OWN id, so the "random"
    * draw is a pure per-row function — the same corpus samples the same
    * subset on any engine, any partitioning, any day, which is what
    * makes a sampled pretraining mix REPRODUCIBLE, the property a
    * generator-seeded sample cannot give on a distributed engine.
    *
    * Arithmetic: u = (rollingHash(id) mod 1e6 + 0.5) / 1e6 ∈ (0, 1)
    * (never 0 or 1 — both ln's stay finite), g = −ln(−ln(u)) r6-rounded
    * at birth (the repo transcendental rule), key = g + logw (ONE IEEE
    * addition of two identically-derived doubles — correctly rounded,
    * so both engines produce the identical key), ties to the lowest
    * id. The
    * top-k is a global TakeOrdered — k rows per partition flow to the
    * driver-side merge, never a full sort.
    *
    * @param weights (idCol, logwCol) — log-weights, e.g. [[dsirWeights]]
    * @return (id, logw, gumbel_key, rank) — the k sampled rows
    */
  def gumbelTopK(weights: DataFrame, idCol: String, logwCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val u = (pmod(TextAnalysis.rollingHash(col("id").cast("string")),
      lit(1000000L)).cast("double") + lit(0.5d)) / lit(1000000.0d)
    val g = graft.Num.r6(-log(-log(u)))
    val sorted = graft.Partitioning.spread(weights)
      .select(col(idCol).as("id"), col(logwCol).as("logw"))
      .withColumn("gumbel_key", g + col("logw"))
      .orderBy(col("gumbel_key").desc, col("id").asc)
      .limit(k)
    // ranks from the collected k rows, not a window: TakeOrderedAndProject
    // already funnels exactly these k rows (the sample — the caller's
    // output) through the driver-side merge, so collecting adds no new
    // bound, and it removes the unpartitioned Window.orderBy a future
    // caller lifting the limit would silently turn into a
    // single-partition sort over the whole corpus. collect() on the
    // sorted-limited plan preserves order, so rank = position + 1.
    val spark = weights.sparkSession
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val ranked = sorted.collect().zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1)) }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(ranked: _*)), schema)
  }

  /** Leakage-safe train/eval split — the held-out-set construction a
    * training pipeline must get right or its eval is contaminated by
    * construction: a plain per-document hash split puts near-duplicates
    * on BOTH sides (the model "generalizes" to paraphrases of its own
    * training data), so the split unit here is the NEAR-DUP CLUSTER —
    * every document in a connected component of `pairs` lands on the
    * same side, deterministically.
    *
    * `pairs` is any near-dup pair relation (`(d1, d2)` — MinHash/LSH,
    * SimHash, embedding near-dup); cluster labels come from
    * [[Dedup.clusterAssignments]] (min-reachable-id label propagation),
    * and the side is a pure function of the CLUSTER label:
    * rollingHash(label) mod 1e6 < evalPpm → eval. Documents in no pair
    * are singleton clusters of themselves. Deterministic and
    * engine-reproducible (the rolling hash is the cross-engine one);
    * adding documents to the corpus never moves an existing cluster's
    * side unless the new documents BRIDGE clusters — the honest
    * semantics of any graph-keyed split.
    *
    * Scale shape: label propagation is the [[Dedup.connectedComponents]]
    * pair-relation fixpoint (pair-sized, never corpus-sized); the side
    * assignment is one narrow expression over the assignment relation.
    *
    * @param evalPpm eval share in parts per million (e.g. 200000 = 20%)
    * @return (doc, cluster, split: 'eval' | 'train')
    */
  def splitByCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
                     evalPpm: Long): DataFrame = {
    require(evalPpm >= 0L && evalPpm <= 1000000L,
      "evalPpm must be in [0, 1000000]")
    Dedup.clusterAssignments(docs, idCol, pairs)
      .select(col("doc"), col("cluster"),
        when(pmod(TextAnalysis.rollingHash(col("cluster").cast("string")),
          lit(1000000L)) < evalPpm, lit("eval")).otherwise(lit("train"))
          .as("split"))
  }

  /** The hashed uni+bigram per-(doc, bucket) count relation shared by
    * [[dsirWeights]] and [[qualityModel]] — `(id, b, c)`, one tokenize +
    * hash pass over the corpus, bucket ids in [0, nBuckets).
    */
  private def hashedFeatureCounts(df: DataFrame, idCol: String,
                                  textCol: String, nBuckets: Int): DataFrame = {
    val tk = filter(TextAnalysis.tokens(col(textCol)), t => t =!= lit(""))
    val bi = zip_with(slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
      slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    graft.Partitioning.spread(df)
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(concat(tk, bi)).as("g"))
      .select(col("id"),
        pmod(TextAnalysis.rollingHash(col("g")), lit(nBuckets.toLong)).as("b"))
      .groupBy("id", "b").agg(count(lit(1)).as("c"))
  }

  /** Trained document-quality classifier — the fastText-style learned
    * complement to the heuristic [[graft.llm.TextAnalysis.quality]] /
    * [[dsirWeights]] scorers: a logistic model over hashed uni+bigram
    * counts (the hashing trick keeps the weight vector `nBuckets + 1`
    * entries — literal-sized — no vocabulary ever materializes),
    * trained by `steps` DETERMINISTIC full-batch gradient steps against
    * a caller-supplied 0/1 label relation (the gate derives a weak
    * label from the Gopher rules — the standard bootstrap when no human
    * labels exist).
    *
    * Each training step is the [[graft.llm.Similarity]] kmeansRefine
    * discipline: the weight vector rides the plan as a LITERAL map;
    * per-doc logits are exact integer sums of count × micro-weight; the
    * sigmoid is r6-rounded the moment it is computed (the repo-wide
    * transcendental rule — `exp` here, `ln` in BM25/PMI); the gradient
    * aggregate collects `nBuckets + 1` integer rows to the driver,
    * which applies the update in exact integer arithmetic
    * (`g / (2·n)` — learning rate ½; Java's truncating long division
    * is exactly DuckDB's BIGINT `//`). Everything is therefore
    * byte-reproducible across partitionings and engines.
    *
    * Scale shape: the corpus is tokenized + hash-exploded EXACTLY ONCE
    * (the per-(doc, bucket) counts are materialized and every step
    * reads them); per step the work is one groupBy(id) over that
    * bucket-count relation, one id-keyed join against the labels, and
    * one (nBuckets + 1)-row integer aggregate — bucket-count-relation
    * work, never corpus-text work, and driver state is the weight
    * vector by construction. Documents with NO features (null text, or
    * text that tokenizes to nothing — whitespace-only) are ABSENT from
    * the output: the bias rows derive from the feature relation's doc
    * ids, so a zero-evidence doc never enters training or scoring
    * (QualityModelSpec pins exactly that absence), matching
    * [[dsirWeights]]'s no-evidence semantics.
    *
    * @param labels `(idCol, label)` with label ∈ {0, 1}
    * @return (id, score, pred) — score = r6(sigmoid(z)), pred = score ≥ ½
    */
  def qualityModel(docs: DataFrame, idCol: String, textCol: String,
                   labels: DataFrame, nBuckets: Int, steps: Int): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    require(steps >= 1, "steps must be >= 1")
    val db = qmFeatures(docs, idCol, textCol, nBuckets)
    val wm = qmSteps(db, qmLabels(labels, idCol), nBuckets, steps,
      qmZeroWeights(nBuckets))
    qmScore(db, wm)
  }

  /** The feature relation every quality-model consumer reads: hashed
    * uni+bigram per-(doc, bucket) counts PLUS one bias row per featured
    * doc, materialized so every gradient step (and the final scoring)
    * is one scan of it.
    */
  private def qmFeatures(docs: DataFrame, idCol: String, textCol: String,
                         nBuckets: Int): DataFrame = {
    val db0 = hashedFeatureCounts(docs, idCol, textCol, nBuckets)
    db0.select(col("id"), col("b"), col("c"))
      .unionByName(db0.select(col("id")).distinct()
        .select(col("id"), lit(nBuckets.toLong).as("b"), lit(1L).as("c")))
      .localCheckpoint()
  }

  private def qmLabels(labels: DataFrame, idCol: String): DataFrame =
    labels.select(col(idCol).as("id"),
      (col("label").cast("long") * lit(1000000L)).as("ym"))

  private def qmZeroWeights(nBuckets: Int): Map[Long, Long] =
    (0L to nBuckets.toLong).map(_ -> 0L).toMap

  private def qmZm(db: DataFrame, wm: Map[Long, Long]): DataFrame =
    db.groupBy("id").agg(sum(col("c") *
      element_at(typedLit(wm), col("b"))).as("zm"))

  private def qmScore(db: DataFrame, wm: Map[Long, Long]): DataFrame =
    qmZm(db, wm).select(col("id"),
        graft.Num.r6(lit(1.0d) /
          (lit(1.0d) + exp(-col("zm").cast("double") / lit(1000000.0d)))).as("score"))
      .withColumn("pred", col("score") >= lit(0.5d))

  /** `steps` deterministic full-batch gradient steps over the feature
    * relation `db` from the starting weights `wm0` — the shared core of
    * [[qualityModel]] (from zero) and [[qualityModelSink]] (continuing
    * from the persisted weights). Arithmetic as documented on
    * [[qualityModel]]: literal weights, exact integer logits, r6'd
    * sigmoid, truncating integer division (Java long `/` IS DuckDB's
    * BIGINT `//`).
    */
  private def qmSteps(db: DataFrame, lab: DataFrame, nBuckets: Int,
                      steps: Int, wm0: Map[Long, Long]): Map[Long, Long] = {
    val bias = nBuckets.toLong
    def pMicro = floor(graft.Num.r6(lit(1.0d) /
      (lit(1.0d) + exp(-col("zm").cast("double") / lit(1000000.0d))))
      * lit(1000000.0d) + lit(0.5d)).cast("long")
    var wm = wm0
    // the training-set size is step-invariant: labeled docs with
    // features (the bias row is one per featured doc) — computed once
    val n = math.max(1L, db.where(col("b") === bias)
      .join(lab, Seq("id"), "left_semi").count())
    for (_ <- 0 until steps) {
      // one job: per-doc logit -> r6 sigmoid -> residual joins back to
      // the bucket counts -> (nBuckets + 1)-row integer gradient
      val rows = qmZm(db, wm)
        .join(lab, Seq("id"))
        .select(col("id"), (pMicro - col("ym")).as("errm"))
        .join(db, Seq("id"))
        .groupBy("b").agg(sum(col("errm") * col("c")).as("g"))
        .collect()
      val byB = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      // lr = 1/2: wm -= g / (2n) — exact integers; Java long division
      // truncates toward zero, exactly like DuckDB's BIGINT `//`
      // (measured: (-7) // 2 = -3 there, not floor's -4), so the oracle
      // mirrors the update bit-for-bit
      wm = wm.map { case (b, w) =>
        b -> (w - byB.getOrElse(b, 0L) / (2L * n))
      }
    }
    wm
  }

  /** Exactly-once STREAMING maintenance of the quality model — the
    * online-learning twin every other corpus-state operator already
    * has: each delivered batch of `(id, text, label)` rows continues
    * training with `steps` gradient steps over ITS OWN labeled docs
    * (per-batch full-batch gradient = deterministic mini-batch SGD with
    * batch = delivery), starting from the persisted weight vector. The
    * HASHING IS FROZEN at ingest (`nBuckets` and `steps` live in the
    * `<table>_meta` sidecar — a batch hashed with a different bucket
    * count would scatter its gradient into the wrong weights, the
    * histMerge failure mode, closed by construction), while the weight
    * vector is the accumulating state.
    *
    * CRASH-SAFE STATE SHAPE: the weights live in a batch-keyed APPEND
    * log `<table> (batch_id, b, wm)` — (nBuckets + 1) rows per batch,
    * literal-sized — and the CURRENT vector is the rows of the newest
    * batch id present in the `<table>_commits` log. An overwrite-style
    * weight table here would break exactly-once under the documented
    * one-batch crash window (work done, commit record not yet written):
    * the replay would re-read the already-stepped weights and apply the
    * gradient TWICE. With the log, a replayed uncommitted batch
    * restarts from the last COMMITTED vector (the crash's orphan rows
    * are not committed, so they are invisible to the restart), and
    * because the step is deterministic — exact integers from a frozen
    * wm0 and the same batch — the retry's rows are bit-identical to the
    * orphans, which reads collapse with DISTINCT. The meta sidecar is
    * written BEFORE the first batch's weights: a batch-0 crash between
    * them leaves first = false with zero committed batches, and the
    * replay correctly restarts from the zero vector under the frozen
    * (nBuckets, steps) rather than silently re-freezing new parameters.
    *
    * A RE-delivered COMMITTED batch id is a commit-log no-op
    * ([[graft.streaming.ExactlyOnce]]) — without it a replayed batch
    * would apply its gradient twice and every downstream score would
    * silently shift (the streamed gate's oracle catches exactly that).
    * An EMPTY batch is a natural no-op gradient (the weights log still
    * records its vector, unchanged). Score serving reads the persisted
    * weights via [[qualityScoreIngested]].
    */
  def qualityModelSink(table: String, idCol: String, textCol: String,
                       nBuckets: Int, steps: Int): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      graft.streaming.ExactlyOnce.once(spark, s"${table}_commits", batchId) {
        import spark.implicits._
        val first = !spark.catalog.tableExists(s"${table}_meta")
        if (first) {
          // fresh model: clear any orphan weights log a previous JVM's
          // in-memory catalog left behind, then freeze the parameters
          // FIRST — see the crash-window discussion in the scaladoc
          graft.ops.Bucketing.dropManaged(spark, table)
          graft.ops.Bucketing.writeSmall(
            Seq((nBuckets, steps)).toDF("nbuckets", "steps"), s"${table}_meta")
        }
        val m = spark.table(s"${table}_meta").first()
        val (nb, st) =
          (m.getInt(m.fieldIndex("nbuckets")), m.getInt(m.fieldIndex("steps")))
        val wm0 = committedWeights(spark, table).getOrElse(qmZeroWeights(nb))
        val db = qmFeatures(batch, idCol, textCol, nb)
        val wm = qmSteps(db, qmLabels(batch, idCol), nb, st, wm0)
        wm.toSeq.sortBy(_._1).map { case (b, w) => (batchId, b, w) }
          .toDF("batch_id", "b", "wm").write.mode("append")
          .format("parquet").saveAsTable(table)
      }
      ()
    }

  /** The weight vector of the newest COMMITTED batch in a
    * [[qualityModelSink]] log (at or below `asOf` when given), or None
    * before the first commit. Both scans are bounded: the commit log is
    * batches-sized, the weights log is batches × (nBuckets + 1) rows —
    * which grows with stream lifetime; [[compactQualityModelLog]] is
    * the retention verb that re-bounds it to keepLast vectors.
    * DISTINCT collapses the bit-identical duplicate rows a
    * crashed-then-retried batch leaves (applied only to the one chosen
    * batch's nBuckets + 1 rows, never the whole log).
    */
  private def committedWeights(spark: org.apache.spark.sql.SparkSession,
                               table: String,
                               asOf: Option[Long] = None)
      : Option[Map[Long, Long]] = {
    val ct = s"${table}_commits"
    if (!spark.catalog.tableExists(table) ||
        !spark.catalog.tableExists(ct)) return None
    val committed = asOf.foldLeft(spark.table(ct).select(col("batch_id")))(
      (c, b) => c.where(col("batch_id") <= b))
    val r = spark.table(table)
      .join(broadcast(committed), Seq("batch_id"), "left_semi")
      .agg(max(col("batch_id"))).first()
    if (r.isNullAt(0)) None
    else Some(spark.table(table)
      .where(col("batch_id") === r.getLong(0))
      .select(col("b"), col("wm")).distinct()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap)
  }

  /** Score documents against a [[qualityModelSink]]-trained model: the
    * persisted weight vector (nBuckets + 1 rows — literal-sized by
    * construction; the newest COMMITTED batch's rows of the weights
    * log) rides the scoring plan as a literal; nBuckets comes from the
    * frozen sidecar so the features hash exactly as training did. One
    * tokenize + hash pass over the input, no shuffle beyond the
    * per-doc logit aggregation. Fails loudly before the first commit —
    * serving an uncommitted (possibly half-written) vector would score
    * against state the next replay is about to recompute.
    *
    * `asOf = Some(b)` scores with the weights AS OF training batch `b`
    * — the model-audit verb the batch-keyed weights log gives for free
    * ("what did the quality gate score this doc when it was admitted"),
    * completing the as-of story for the ONE persisted family whose
    * state is a trained vector rather than rows. The timeline here is
    * the sink's COMMIT-LOG batch ids (a trained vector exists per
    * delivered batch), not a [[graft.ops.Snapshots]] sidecar — there is
    * no per-row provenance to slice, the whole vector IS the state.
    * Deterministic by the training arithmetic: the vector at batch b
    * never changes after batch b commits.
    *
    * @return (id, score, pred) — [[qualityModel]]'s output contract
    */
  def qualityScoreIngested(spark: org.apache.spark.sql.SparkSession,
                           table: String, docs: DataFrame, idCol: String,
                           textCol: String,
                           asOf: Option[Long] = None): DataFrame = {
    val m = spark.table(s"${table}_meta").first()
    val nb = m.getInt(m.fieldIndex("nbuckets"))
    val wm = committedWeights(spark, table, asOf).getOrElse(
      throw new IllegalStateException(
        s"qualityScoreIngested: model '$table' has no committed training " +
          s"batch${asOf.map(b => s" at or below asOf $b").getOrElse("")} — " +
          "deliver at least one batch through qualityModelSink"))
    qmScore(qmFeatures(docs, idCol, textCol, nb), wm)
  }

  /** RETENTION for a [[qualityModelSink]] weights log — the verb that
    * bounds it: the log grows by nBuckets + 1 rows per delivered batch
    * (plus bit-identical duplicates from crashed retries), unbounded
    * over a long-lived stream. This keeps the newest `keepLast`
    * COMMITTED vectors, collapses crash-retry duplicates (DISTINCT),
    * and drops uncommitted orphan rows outright. The COMMIT LOG is
    * deliberately untouched — it is what makes replayed batch ids
    * no-ops, and it is batches-sized (one long per batch).
    *
    * The honest trade: [[qualityScoreIngested]]'s `asOf` below the
    * retention horizon now FAILS LOUDLY (no committed batch at or below
    * asOf) rather than serving a wrong vector — audit depth is exactly
    * `keepLast` batches. Current-view scoring is unaffected (the newest
    * vector always survives).
    *
    * Cost: one batches-sized commit-log sort for the horizon, one
    * log-sized filtered read whose survivors are keepLast×(nBuckets+1)
    * rows — literal-sized by construction, so the rewrite stages
    * through the driver (same bounded-collect argument as the scoring
    * path, which already rides the whole vector as a literal).
    *
    * PUBLISH is [[graft.ops.Bucketing.publishStaged]], the one staged
    * publish, never a read-from-self overwrite: the survivors are
    * written to the staging table, the live log parks as the backup,
    * the compacted copy takes the name, the backup drops LAST — so a
    * full copy of the weights log stays live under a deterministic
    * name at every instant. A crash
    * mid-rewrite can no longer lose the log and silently restart
    * training from the zero vector while the commit log still marks
    * the lost batches committed. A leftover backup from an interrupted
    * publish fails the next attempt loudly instead of compacting
    * whatever now answers to the name.
    *
    * Single-writer contract (same as the sink itself): no in-flight
    * [[qualityModelSink]] delivery may run concurrently — a batch
    * committed between the snapshot read and the rename swap would be
    * dropped from the weights log while staying marked committed.
    */
  def compactQualityModelLog(spark: org.apache.spark.sql.SparkSession,
                             table: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "keepLast must be positive")
    val ct = s"${table}_commits"
    graft.ops.Bucketing.publishStaged(spark, table, "compactQualityModelLog") { tmp =>
      // the missing-table no-op runs INSIDE the publish, after its
      // leftover-backup guard: a crash between the two publish renames
      // leaves the log parked as the backup while the table name is
      // unoccupied — a return keyed on tableExists(table) ahead of the
      // guard would silently no-op right past the evidence (the
      // recovery contract is LOUD failure in EVERY crash window)
      spark.catalog.tableExists(table) && spark.catalog.tableExists(ct) && {
        val keep = spark.table(ct).select(col("batch_id"))
          .orderBy(col("batch_id").desc).limit(keepLast)
        val kept = spark.table(table)
          .join(broadcast(keep), Seq("batch_id"), "left_semi")
          .select(col("batch_id"), col("b"), col("wm")).distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        import spark.implicits._
        kept.toDF("batch_id", "b", "wm").write.mode("overwrite")
          .format("parquet").saveAsTable(tmp)
        true
      }
    }
  }
}
