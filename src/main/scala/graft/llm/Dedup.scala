package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design notes (these run over the full corpus):
  *  - exact dedup is ONE shuffle on the group key with map-side partial agg;
  *  - the pairwise variants never materialize the O(N^2) cross product:
  *    candidates come from an equi-join on a BUCKET key (shared shingle /
  *    minhash band / simhash chunk), which Spark executes as a shuffle
  *    hash join on the bucket — the classic LSH band trick;
  *  - hyper-frequent buckets (stopword shingles) are capped with a
  *    frequency filter before the self-join, the standard skew guard —
  *    without it one hot shingle creates a quadratic straggler partition;
  *  - all hashes are deterministic arithmetic (see
  *    [[TextAnalysis.rollingHash]]) so results are oracle-reproducible.
  */
object Dedup {

  /** Word n-gram shingles of the token array (n=1 -> tokens). Docs shorter
    * than n tokens yield an EMPTY shingle set (not an error): without the
    * guard, `sequence(0, size-n)` is descending for short docs and
    * `slice` throws at runtime.
    */
  def shingles(toks: Column, n: Int): Column =
    if (n == 1) toks
    else when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - lit(n)),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** Exact dedup: group identical normalized text, keep the smallest id.
    * Output: one row per distinct text with the keeper id + duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col(textCol), col("keep_id"), col("n_dups"))

  /** Exact dedup at 100 TB scale: shuffle CONTENT FINGERPRINTS (8-byte
    * longs), not document bodies. [[exact]]'s groupBy(text) ships the
    * full corpus text through the exchange; here only (fingerprint, id)
    * pairs shuffle, and document text is re-read ONLY for the (tiny)
    * fingerprint groups with more than one member, where true text
    * equality is verified — so hash collisions can never merge distinct
    * documents. Output: every doc with its canonical keeper
    * (doc, keep_id, n_dups); `doc == keep_id` marks the row to keep.
    */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"), col(textCol).as("txt"))
    // NULL text cannot ride the fingerprint path (NULL hash never
    // equi-joins); group all null-text docs together explicitly — the
    // same semantics as exact()'s groupBy(text), where NULLs form one
    // group
    val nulls = base.filter(col("txt").isNull)
    val nullGroup = nulls.agg(min(col("doc")).as("keep_id"),
      count(lit(1)).as("n_dups"))
    val nullOut = nulls.select(col("doc")).crossJoin(broadcast(nullGroup))
    val fpFull = base.filter(col("txt").isNotNull)
      .withColumn("fp", TextAnalysis.rollingHash(col("txt")))
    // the materialized key relation is 16 bytes/row — ONE text scan
    // computes it, and the frequency count + singleton branch reuse it
    // without rescanning the corpus
    // keyed on fp: the dup-frequency aggregation and the singleton
    // anti-join both key on fp, so the claimed layout feeds both
    // exchange-free (guide §2.4)
    val fpKeys = graft.Partitioning.checkpointKeyed(
      fpFull.select(col("doc"), col("fp")), "fp")
    val dupFp = fpKeys.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("fp"))
    // one more text scan, semi-restricted to candidate fingerprints;
    // candidates are proportional to the DUP RATE, so text bytes only
    // travel for rows that actually need equality verification
    // keyed on fp: the verify aggregation groups by (fp, txt) and the
    // keeper join-back keys on (fp, txt) — hash(fp) satisfies both
    // (grouping/join keys are a superset of the claimed key)
    val candidates = graft.Partitioning.checkpointKeyed(
      fpFull.join(dupFp, Seq("fp"), "left_semi"), "fp")
    val verified = candidates.groupBy(col("fp"), col("txt"))
      .agg(min(col("doc")).as("keep_id"), count(lit(1)).as("n_dups"))
    val dups = candidates.join(verified, Seq("fp", "txt"))
      .select(col("doc"), col("keep_id"), col("n_dups"))
    val singletons = fpKeys.join(dupFp, Seq("fp"), "left_anti")
      .select(col("doc"), col("doc").as("keep_id"), lit(1L).as("n_dups"))
    dups.unionByName(singletons).unionByName(nullOut)
  }

  /** Distinct (id, shingle) pairs — the base relation for the set-similarity
    * family. `maxDocFreq` drops shingles appearing in more than that many
    * docs (skew guard; at 100 TB this bound is what keeps the self-join
    * from going quadratic on stopword shingles).
    */
  def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
                  maxDocFreq: Option[Long] = None): DataFrame = {
    // per-doc dedup happens NARROWLY (array_distinct on the shingle array
    // before the explode) — a corpus-wide `.distinct()` would shuffle the
    // full (doc, shingle) relation just to remove within-doc repeats that
    // never cross partition boundaries in the first place
    val base = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"),
        explode(array_distinct(shingles(TextAnalysis.tokens(col(textCol)), n))).as("sh"))
    maxDocFreq match {
      case None => base
      case Some(cap) =>
        val freq = base.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("sh")
        base.join(freq, Seq("sh"), "left_semi")
    }
  }

  /** HASHED shingle relation: distinct (doc, h) where h is the rolling
    * hash of the shingle — the representation the MinHash family works
    * over. Every downstream exchange (doc-frequency cap, signature
    * aggregation, verify self-join) then carries 8-byte longs instead of
    * shingle strings: at 100 TB that is the difference between shuffling
    * the corpus's n-gram text and shuffling fixed-width keys. Jaccard
    * verification over hashed shingles is the standard MinHash
    * formulation (the signature is already hash-based); the oracle
    * mirrors the identical hash, so parity is exact.
    *
    * `tokensCol` names a PRECOMPUTED tokens column (the
    * [[TextAnalysis.tokens]] expression, materialized once by a caller
    * composing several token consumers over one corpus scan) — when
    * set, tokenization is skipped here and the column is used as-is.
    */
  def docShinglesHashed(df: DataFrame, idCol: String, textCol: String, n: Int,
                        maxDocFreq: Option[Long] = None,
                        tokensCol: Option[String] = None): DataFrame = {
    val toks = tokensCol.map(col).getOrElse(TextAnalysis.tokens(col(textCol)))
    val base = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"),
        explode(array_distinct(transform(
          shingles(toks, n),
          s => graft.functions.RollingHash.hash(s, 131L)))).as("h"))
    maxDocFreq match {
      case None => base
      case Some(cap) =>
        val freq = base.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("h")
        base.join(freq, Seq("h"), "left_semi")
    }
  }

  /** The shingle relation, optionally materialized with `localCheckpoint`:
    * the set-similarity operators reuse it 3-4x (sizes, both join sides,
    * signatures), and measured on local[32] the recompute costs ~3x the
    * one-time materialization. Trade-off: localCheckpoint pins blocks to
    * executors (an executor loss fails the job instead of recomputing) —
    * pass materialize=false on unreliable clusters to fall back to
    * ReusedExchange-only sharing. A columnar .cache() is strictly worse
    * here (string-heavy columnar encode costs more than it saves).
    */
  private def shingleRelation(df: DataFrame, idCol: String, textCol: String,
                              n: Int, maxDocFreq: Option[Long],
                              materialize: Boolean): DataFrame = {
    val ds = docShingles(df, idCol, textCol, n, maxDocFreq)
    // unkeyed on purpose — the [[minhashLsh]] measured-revert rationale
    if (materialize) ds.localCheckpoint() else ds
  }

  /** n-gram Jaccard near-dup: candidate pairs share >=1 shingle (equi-join
    * on the shingle), then J = |A∩B| / (|A|+|B|-|A∩B|) >= threshold.
    * No cross join anywhere: the shingle join IS the candidate generator.
    *
    * `maxDocFreq = None` (the default) computes EXACT Jaccard. Passing a
    * cap computes FILTERED Jaccard: shingles appearing in more than that
    * many docs are dropped before sizes and intersections, so both the
    * candidate pairs and the J values reflect the filtered sets. At
    * corpus scale a cap is all but mandatory (one stopword shingle makes
    * the self-join quadratic on a hot partition) — name it explicitly at
    * the call site so the semantics change is visible.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxDocFreq: Option[Long] = None,
                   materializeShingles: Boolean = true): DataFrame = {
    val ds = shingleRelation(df, idCol, textCol, n, maxDocFreq, materializeShingles)
    // attach |doc| to every shingle row so the LENGTH FILTER prunes pairs
    // INSIDE the join: J(A,B) >= t implies min(|A|,|B|) >= t * max(|A|,|B|),
    // so disparate-size pairs never reach the aggregation. Exact (no false
    // negatives) — the classic set-similarity-join size bound. No forced
    // broadcast: `sizes` is one row per DOCUMENT (corpus-cardinality, not
    // dimension-sized), so AQE decides broadcast-vs-shuffle from measured
    // stage stats.
    val sizes = ds.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val withSz = ds.join(sizes, Seq("doc"))
    val a = withSz.select(col("doc").as("d1"), col("sz").as("sz1"), col("sh"))
    val b = withSz.select(col("doc").as("d2"), col("sz").as("sz2"), col("sh"))
    val inter = a.join(b, a("sh") === b("sh") && col("d1") < col("d2")
        && least(col("sz1"), col("sz2")).cast("double")
          >= lit(threshold) * greatest(col("sz1"), col("sz2")).cast("double"))
      .groupBy(col("d1"), col("d2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard",
        graft.Num.r6(col("inter").cast("double")
          / (col("sz1") + col("sz2") - col("inter")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** MinHash signature: k permutations h_i(x) = (a_i*x + b_i) mod P over
    * the rolling-hashed shingles; signature_i = min over the doc's
    * shingles. a_i, b_i come from a splitmix-style integer mix of i
    * ([[mixConstant]]) so the k hash functions behave independently —
    * tiny-slope affine constants (2i+1 etc.) rarely wrap mod P for small
    * hashes and produce correlated, hot-bucket-prone signatures. The mix
    * is pure 64-bit arithmetic, reproducible in any SQL engine.
    */
  val MinhashP = 2147483647L // 2^31 - 1

  /** Deterministic well-mixed constant in [1, P): splitmix64 finalizer
    * over the seed, folded to 31 bits.
    */
  def mixConstant(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D4ECB17E3C1271L
    z = z ^ (z >>> 31)
    (z & 0x7FFFFFFFL) % (MinhashP - 1) + 1
  }

  /** Wide signature: one row per doc with columns mh0..mh{k-1}. All k
    * mins are partial aggregates of ONE groupBy(doc) — no k-way explode,
    * so the shuffle carries |docs| rows, not k * |doc-shingle| rows.
    */
  def minhashSignaturesWide(shingled: DataFrame, k: Int): DataFrame =
    minhashSignaturesWideHashed(
      shingled.withColumn("h", TextAnalysis.rollingHash(col("sh")))
        .select(col("doc"), col("h")), k)

  /** Same, over an already-hashed (doc, h) relation
    * ([[docShinglesHashed]]).
    */
  def minhashSignaturesWideHashed(hashed: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min((lit(mixConstant(2L * i)) * col("h") + lit(mixConstant(2L * i + 1)))
        % lit(MinhashP)).as(s"mh$i"))
    hashed.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding: k minhashes in bands of `rowsPerBand`; docs
    * sharing a band signature become candidates; candidates are verified
    * with true Jaccard over their shingle sets.
    */
  /** `maxBandFreq`: drop band buckets shared by more than that many docs
    * before the candidate self-join. A flood of IDENTICAL documents
    * shares every band key, making the band join quadratic in the flood
    * size — the one skew the shingle-frequency cap cannot catch (the
    * flood's shingles are each rare corpus-wide only when the flood is
    * small). Capping trades recall for those oversized groups; the
    * robust pipeline runs [[exact]] dedup first so identical docs never
    * reach the near-dup stage, and leaves this None.
    */
  /** (doc, bkey, bkey2) band keys straight off the wide signature row —
    * no collect_list regroup, just a per-doc explode of nBands key
    * structs. Shared by the batch and incremental LSH entry points.
    *
    * `bkey` is the 64-bit xxhash64 of (band index, band's minhash
    * tuple) — the band id is FOLDED into the hash, so one long both
    * distinguishes bands and keys the bucket; the band relation is
    * pure shuffle payload (bucket join + frequency cap), and fixed
    * 12-byte keys cut it ~3x versus the string-concat alternative at
    * corpus scale. `bkey2` is a SECOND, algorithm-independent hash
    * (Murmur3) of the same tuple: for the candidate join alone a
    * single-hash collision could only ADD a pair (equal tuples always
    * hash equal; exact Jaccard rejects impostors downstream), but the
    * `maxBandFreq` cap aggregates COUNTS per bucket, and a collision
    * there merges two buckets' counts past the cap and silently drops
    * every real pair in both — the same silent-suppression mode
    * [[duplicateSpans]] keys out with (h, text) and [[winnowPairs]]
    * with (h, h2). Capping and joining on the (bkey, bkey2) pair makes
    * suppression require a simultaneous 64+32-bit collision (~2^-96
    * per bucket pair), which the cap's own count scale cannot reach.
    */
  private def bandKeys(hashedShingles: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val wide = minhashSignaturesWideHashed(hashedShingles, k)
    val bandHashes = (0 until k / rowsPerBand).map { b =>
      val tuple = lit(b) +: (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh$i"))
      struct(xxhash64(tuple: _*).as("bkey"), hash(tuple: _*).as("bkey2"))
    }
    wide.select(col("doc"), explode(array(bandHashes: _*)).as("bb"))
      .select(col("doc"), col("bb.bkey").as("bkey"), col("bb.bkey2").as("bkey2"))
  }

  def minhashLsh(df: DataFrame, idCol: String, textCol: String, n: Int,
                 k: Int, rowsPerBand: Int, threshold: Double,
                 maxDocFreq: Option[Long] = None,
                 maxBandFreq: Option[Long] = None,
                 materializeShingles: Boolean = true,
                 tokensCol: Option[String] = None): DataFrame = {
    // the minhash family works over HASHED shingles end-to-end
    // ([[docShinglesHashed]]): every exchange below carries longs.
    // The checkpoint is deliberately UNKEYED (measured this round): a
    // doc-keyed claim would feed bandKeys' groupBy(doc) and
    // jaccardVerify's size aggregations exchange-free, but the explode
    // writes each doc's shingles CONTIGUOUSLY, so those aggregations'
    // partial phase already collapses the shuffle to ~|docs| rows —
    // where the keyed claim costs a full |doc,h| repartition + sort at
    // materialization. Bench: dedup_minhash_lsh 2.66 s → 10.9 s keyed
    // (rerun-confirmed, not scatter); reverted.
    val ds0 = docShinglesHashed(df, idCol, textCol, n, maxDocFreq, tokensCol)
    val ds = if (materializeShingles) ds0.localCheckpoint() else ds0
    val bandsAll = bandKeys(ds, k, rowsPerBand)
    val bands = maxBandFreq match {
      case None => bandsAll
      case Some(cap) =>
        val freq = bandsAll.groupBy(col("bkey"), col("bkey2"))
          .agg(count(lit(1)).as("bf")).filter(col("bf") <= cap)
          .select(col("bkey"), col("bkey2"))
        bandsAll.join(freq, Seq("bkey", "bkey2"), "left_semi")
    }
    val l = bands.select(col("doc").as("d1"), col("bkey"), col("bkey2"))
    val r = bands.select(col("doc").as("d2"), col("bkey"), col("bkey2"))
    val cand = l.join(r, Seq("bkey", "bkey2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    jaccardVerify(ds, cand, "d1", "d2", threshold, ordered = true)
  }

  /** Exact-Jaccard verification of a candidate pair relation over a
    * hashed shingle relation `ds` (doc, h). Restricts the shingle
    * relation to candidate docs BEFORE the intersection join — the
    * candidate set is tiny relative to the corpus, so the expensive
    * shingle⋈shingle join only ever sees candidate rows (not the full
    * corpus re-joined then semi-filtered after the fact). Shared by the
    * batch and incremental LSH entry points so their pair semantics can
    * never drift apart. `ordered = true` adds the `c1 < c2` self-join
    * guard (batch dedup); cross-side callers (distinct id spaces per
    * side) pass false.
    */
  private def jaccardVerify(ds: DataFrame, cand: DataFrame, c1: String,
                            c2: String, threshold: Double,
                            ordered: Boolean): DataFrame = {
    // set sizes come from ALREADY-candidate-restricted relations (they
    // hold every shingle of their docs) — never a corpus-wide
    // aggregation for a candidate-sized answer
    val (dsA, dsB, sz1, sz2) =
      if (ordered) {
        // batch self-join: both pair sides draw from ONE id space, so
        // restrict the shingle relation ONCE over the union of candidate
        // docs — the two join inputs and the two size relations are then
        // IDENTICAL subtrees (one semi-join, one aggregation, exchanges
        // reused), where per-side restriction would compute each twice.
        // The c1<c2 filter plus the pair semi-join below prune the extra
        // same-side rows this admits into the h-join
        val candDocs = cand.select(col(c1).as("doc"))
          .union(cand.select(col(c2).as("doc"))).distinct()
        val dsC = ds.join(candDocs, Seq("doc"), "left_semi")
        val sizes = dsC.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
        (dsC.select(col("doc").as(c1), col("h")),
          dsC.select(col("doc").as(c2), col("h")),
          sizes.select(col("doc").as(c1), col("sz").as("sz1")),
          sizes.select(col("doc").as(c2), col("sz").as("sz2")))
      } else {
        // cross-side (incremental ingest): the id spaces are DISJOINT —
        // a shared union relation would send both sides' shingles
        // through the h-join and quadruple its input for pairs that can
        // never verify; keep the per-side restriction instead
        val a = ds.join(cand.select(col(c1).as("doc")).distinct(),
          Seq("doc"), "left_semi").select(col("doc").as(c1), col("h"))
        val b = ds.join(cand.select(col(c2).as("doc")).distinct(),
          Seq("doc"), "left_semi").select(col("doc").as(c2), col("h"))
        (a, b,
          a.groupBy(col(c1)).agg(count(lit(1)).as("sz1")),
          b.groupBy(col(c2)).agg(count(lit(1)).as("sz2")))
      }
    val joined = dsA.join(dsB, Seq("h"))
    val inter = (if (ordered) joined.filter(col(c1) < col(c2)) else joined)
      .join(cand, Seq(c1, c2), "left_semi")
      .groupBy(col(c1), col(c2)).agg(count(lit(1)).as("inter"))
    inter
      .join(sz1, Seq(c1))
      .join(sz2, Seq(c2))
      .withColumn("jaccard",
        graft.Num.r6(col("inter").cast("double")
          / (col("sz1") + col("sz2") - col("inter")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col(c1), col(c2), col("jaccard"))
  }

  /** Incremental near-dup admission: near-duplicate pairs BETWEEN a new
    * batch and an existing corpus — the crawl-ingest gate ("is this new
    * document a near-dup of anything already held?"), the MinHash twin
    * of the fingerprint anti-join in `dedup_incremental`.
    *
    * The candidate band join is RESTRICTED to cross-side pairs: the
    * existing corpus is never self-joined, so per ingest the join cost
    * is |new bands| ⋈ |existing-band buckets touched| — proportional to
    * the batch, not corpus². Shingle hashing, signatures, the optional
    * doc-frequency cap (computed over existing ∪ new, identical to the
    * batch formulation on the union) and exact-Jaccard verification all
    * match [[minhashLsh]], so (new, old) pairs here equal the
    * cross-side subset of the batch run's pairs. Ids must be distinct
    * across the two inputs.
    *
    * Output: (d_new, d_old, jaccard) with jaccard >= threshold.
    */
  def minhashLshIncremental(existing: DataFrame, newBatch: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            k: Int, rowsPerBand: Int, threshold: Double,
                            maxDocFreq: Option[Long] = None): DataFrame = {
    val union = existing.select(col(idCol), col(textCol))
      .unionByName(newBatch.select(col(idCol), col(textCol)))
    val ds = docShinglesHashed(union, idCol, textCol, n, maxDocFreq)
      .localCheckpoint()
    val newIds = newBatch.select(col(idCol).as("doc"))
    val bands = bandKeys(ds, k, rowsPerBand)
    val bandsNew = bands.join(newIds, Seq("doc"), "left_semi")
    val bandsOld = bands.join(newIds, Seq("doc"), "left_anti")
    val cand = bandsNew.select(col("doc").as("d_new"), col("bkey"), col("bkey2"))
      .join(bandsOld.select(col("doc").as("d_old"), col("bkey"), col("bkey2")),
        Seq("bkey", "bkey2"))
      .select(col("d_new"), col("d_old")).distinct()
    jaccardVerify(ds, cand, "d_new", "d_old", threshold, ordered = false)
  }

  /** Persist the MinHash near-dup index ONCE — the pay-once layout twin
    * for the dedup family ([[graft.llm.Similarity.ingestIvf]]'s
    * pattern): shingle-hash the corpus a single time, compute its flood
    * set (shingles above `maxDocFreq` — the cap is fixed AT INGEST over
    * the index corpus, a crawl index's honest semantics: see the
    * contrast note on [[minhashLshIngested]]), and write three tables —
    * the capped `(doc, h)` shingle relation bucketed by h (the verify
    * intersection join's key), the `(doc, bkey, bkey2)` band relation
    * bucketed by bkey (the candidate join's key), and the flood set —
    * plus an `(n, k, rows_per_band)` parameter sidecar so a probe can
    * never band a batch with mismatched parameters. Each
    * [[minhashLshIngested]] batch then skips corpus tokenization,
    * shingle hashing, and all k MinHash permutations over the corpus —
    * the dominant per-ingest cost — touching only batch-sized inputs
    * plus bucketed scans.
    */
  def ingestMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                         n: Int, k: Int, rowsPerBand: Int,
                         maxDocFreq: Option[Long], table: String,
                         nBuckets: Int): Unit = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val spark = corpus.sparkSession
    val raw = docShinglesHashed(corpus, idCol, textCol, n, None)
      .localCheckpoint()
    val flood = maxDocFreq match {
      case None => raw.select(col("h")).where(lit(false))
      case Some(cap) => raw.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select(col("h"))
    }
    import spark.implicits._
    // the flood set is NOT a writeSmall sidecar: writeSmall's contract
    // is dimension-sized-by-contract, but a boilerplate-heavy corpus can
    // push the flood set past broadcast size. Bucketing it by h — the
    // probe's anti-join key — keeps minhashLshIngested's flood filter
    // exchange-free on the index side regardless of size (only the batch
    // side shuffles, and it is batch-sized).
    minhashIndex.ingest(spark, table, nBuckets,
      cappedIndexRows(raw, flood, k, rowsPerBand),
      Seq(flood, Seq((n, k, rowsPerBand)).toDF("n", "k", "rows_per_band")))
  }

  /** Append a new batch into an [[ingestMinhashIndex]] index — the
    * maintenance half of the pay-once layout: shingle-hash ONLY the
    * batch with the sidecar's parameters (mismatch impossible by
    * construction), filter it against the FROZEN flood set, and append
    * its capped shingles and band keys into the two bucketed tables
    * (bucket counts read from the catalog). Per append every input is
    * batch-sized — no corpus re-tokenization, none of the k
    * permutations re-run over the index.
    *
    * The flood set stays frozen at its ingest-time value — the natural
    * continuation of the ingest contract (an adversarial batch cannot
    * flood the index's own signatures away): `ingestMinhashIndex(A);
    * appendMinhashIndex(B)` equals an index over A∪B whose doc-freq
    * cap was computed over A ONLY. Appended boilerplate that would
    * newly cross the cap accumulates until the periodic
    * [[ingestMinhashIndex]] rebuild refreshes the flood set — the
    * centroid-drift trade of [[graft.llm.Similarity.appendIvf]], made
    * explicit. Batch ids must be distinct from index ids. Same
    * single-writer contract as the ingest.
    */
  def appendMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         table: String, batch: DataFrame,
                         idCol: String, textCol: String): Unit =
    minhashIndex.append(spark, table, batch, idCol, textCol)

  /** Exactly-once streaming maintenance of a MinHash near-dup index —
    * [[graft.llm.Retrieval.bm25Sink]]'s sibling: the first delivered
    * batch builds the index ([[ingestMinhashIndex]] — the flood set is
    * computed there and FROZEN, the ingest contract), later batches
    * fold in batch-sized ([[appendMinhashIndex]]), and a RE-delivered
    * batch id is a commit-log no-op. The replay guard is load-bearing
    * for correctness, not just cost: a doubled batch would duplicate
    * (doc, h) shingle rows and every Jaccard intersection over them
    * would double-count — the streamed gate's shared oracle catches
    * exactly that.
    */
  def minhashSink(table: String, idCol: String, textCol: String,
                  n: Int, k: Int, rowsPerBand: Int,
                  maxDocFreq: Option[Long], nBuckets: Int)
      : (DataFrame, Long) => Unit =
    minhashIndex.sink(table, idCol, textCol)(ingestMinhashIndex(_, idCol,
      textCol, n, k, rowsPerBand, maxDocFreq, table, nBuckets))

  /** Near-dup admission of a new batch against an [[ingestMinhashIndex]]
    * index: the batch is shingle-hashed, filtered against the PERSISTED
    * flood set, banded with the sidecar's parameters, and its bands
    * join the persisted band table (cross-side only — the index is
    * never self-joined); candidate pairs verify with exact Jaccard over
    * persisted-∪-batch shingles, both sides candidate-restricted first
    * (the [[minhashLsh]] verify). Per ingest the corpus-side work is
    * two bucketed scans — no re-tokenize, no re-hash, none of the k
    * permutations.
    *
    * SEMANTIC CONTRAST with [[minhashLshIncremental]] (both are
    * supported, for different deployments): the incremental batch twin
    * recomputes the doc-frequency cap over existing ∪ new each call —
    * bit-identical to a batch run on the union, but it re-reads the
    * whole corpus. This ingested twin fixes the flood set at ingest
    * (new-batch shingles are filtered against the INDEX's flood set;
    * the batch's own contributions don't retroactively cap the index's
    * signatures), which is what a persisted crawl index can actually
    * promise — and is itself exactly mirrored by the gate's oracle.
    * Batch ids must be distinct from index ids.
    *
    * @return (d_new, d_old, jaccard) with jaccard ≥ threshold
    */
  def minhashLshIngested(spark: org.apache.spark.sql.SparkSession, table: String,
                         newBatch: DataFrame, idCol: String, textCol: String,
                         threshold: Double,
                         asOf: Option[Long] = None): DataFrame = {
    // the flood set is frozen at ingest (corpus-trained state), so every
    // snapshot admits under the same cap — the Snapshots contract
    val ((n, k, rpb), flood) = minhashIndex.load(spark, table)
    // tombstoned docs are excluded from both persisted relations — a
    // deleted document must neither generate candidates nor contribute
    // shingles to a Jaccard intersection; asOf additionally restricts
    // both to batches ≤ asOf (takedowns stay retroactive)
    val dsOld = minhashIndex.live(spark, table, "_shingles", asOf)
    // no broadcast hint: the flood set is usually tiny (shingles above
    // the cap) and Catalyst broadcasts it from table stats, but on a
    // boilerplate-heavy corpus it can grow past broadcast size — let
    // the planner decide rather than pinning an assumption
    val dsNew = docShinglesHashed(newBatch, idCol, textCol, n, None)
      .join(flood, Seq("h"), "left_anti")
      .localCheckpoint()
    val cand = bandKeys(dsNew, k, rpb)
      .select(col("doc").as("d_new"), col("bkey"), col("bkey2"))
      .join(minhashIndex.live(spark, table, asOf = asOf)
        .select(col("doc").as("d_old"), col("bkey"), col("bkey2")),
        Seq("bkey", "bkey2"))
      .select(col("d_new"), col("d_old")).distinct()
    jaccardVerify(dsOld.unionByName(dsNew), cand, "d_new", "d_old",
      threshold, ordered = false)
  }

  /** Logically delete documents from an [[ingestMinhashIndex]] index —
    * the takedown verb: doc ids tombstone (takedown-list-sized), every
    * [[minhashLshIngested]] probe excludes them from both the band and
    * shingle relations, and [[compactMinhashIndex]] drops the rows
    * physically. The FLOOD SET stays frozen at its ingest-time value —
    * the same honest exception as append (it was trained over the
    * ingest corpus; deleting documents does not un-flood a shingle
    * that was boilerplate) — so `ingest(A∪B); delete(B)` equals an
    * index over A whose doc-frequency cap was computed over A∪B, the
    * exact mirror of the append contract, and the periodic ingest
    * rebuild remains the flood-refresh trigger.
    */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, ids: DataFrame): Unit =
    minhashIndex.delete(spark, table, ids)

  /** Physical drop + tombstone clear for a MinHash index (band and
    * shingle tables; the flood set is doc-independent and untouched).
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String): Unit =
    minhashIndex.compact(spark, table)

  /** The two data tables of a MinHash index from a hashed-shingle
    * relation: its shingles minus the flood set, materialized once
    * (two consumers), and their band keys.
    */
  private def cappedIndexRows(shingles: DataFrame, flood: DataFrame, k: Int,
                              rowsPerBand: Int): Seq[DataFrame] = {
    val kept = shingles.join(flood, Seq("h"), "left_anti").localCheckpoint()
    Seq(kept, bandKeys(kept, k, rowsPerBand))
  }

  /** MinHash: the h-bucketed capped `(doc, h)` shingles, the
    * bkey-bucketed `(doc, bkey, bkey2)` bands, the h-bucketed flood set
    * and the `(n, k, rows_per_band)` sidecar. The heal probes the
    * shingle table: an index ingested from an empty batch 0 froze its
    * flood set over ZERO docs, so maxDocFreq would never be enforced
    * for the index's life — every append would pass the empty
    * anti-join uncapped (a SILENT failure, where the quantizer families
    * fail loudly). An index with no shingle rows has capped nothing and
    * promised nothing, so re-ingesting on the first real batch
    * invalidates nothing.
    */
  private[graft] val minhashIndex =
    graft.ops.PersistedIndex[((Int, Int, Int), DataFrame)]("MinhashIndex", "doc",
      tables = Seq("_shingles" -> "h", "" -> "bkey"),
      sidecars = Seq("_flood" -> Some("h"), "_meta" -> None),
      prepare = graft.ops.PersistedIndex.textRows,
      load = (spark, table) => {
        val meta = spark.table(s"${table}_meta").first()
        ((meta.getInt(meta.fieldIndex("n")), meta.getInt(meta.fieldIndex("k")),
          meta.getInt(meta.fieldIndex("rows_per_band"))),
          spark.table(s"${table}_flood"))
      },
      encode = { case (rows, ((n, k, rpb), flood)) =>
        cappedIndexRows(docShinglesHashed(rows, "doc", "text", n, None), flood,
          k, rpb) },
      trainedOn = Some("_shingles"))

  /** SimHash over token hashes: bit b of the signature is 1 iff the count
    * of tokens with bit b set exceeds half the token count. The rolling
    * hash is < 2^30, so bits above 29 come from a SECOND hash family
    * (base 137) — without it, a ">30-bit" simhash silently carries dead
    * always-zero bits. nBits up to 60.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              nBits: Int = 32): DataFrame = {
    require(nBits >= 1 && nBits <= 60, s"nBits must be in [1,60], got $nBits")
    val toks = graft.Partitioning.spread(df).select(col(idCol).as("doc"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h1", TextAnalysis.rollingHash(col("tok")))
      .withColumn("h2", graft.functions.RollingHash.hash(col("tok"), 137L))
    val bits = (0 until nBits).map { b =>
      val src = if (b < 30) shiftright(col("h1"), b) else shiftright(col("h2"), b - 30)
      sum(when(src % 2 === 1, 1).otherwise(-1)).as(s"s$b")
    }
    toks.groupBy(col("doc")).agg(bits.head, bits.tail: _*)
      .select(col("doc"),
        (0 until nBits).map(b => when(col(s"s$b") > 0, lit(1L) * lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** The band-combination table for [[simhashPairs]]: every
    * (nChunks - maxHamming)-sized subset of chunk indices, in
    * `combinations` order. Shared with the oracle-SQL generator so both
    * engines enumerate identical bands.
    */
  def simhashBandCombos(nChunks: Int, maxHamming: Int): Seq[Seq[Int]] =
    (0 until nChunks).combinations(nChunks - maxHamming).map(_.toSeq).toSeq

  /** Band keys for a simhash signature relation (doc, simhash) ->
    * (doc, simhash, g, ck): band `g` packs the chunk values of the g-th
    * (nChunks - maxHamming)-sized chunk combination into one long.
    *
    * This is the multi-block banding of Manku, Jain & Sarma (WWW'07):
    * a pair at hamming <= maxHamming disagrees in at most maxHamming
    * chunks, so it AGREES on >= nChunks - maxHamming chunks — and some
    * combination of that size is all-agreeing, giving the pair a shared
    * (g, ck) key. Candidate recall stays complete while the band-key
    * width grows from one chunk to (nChunks - maxHamming) chunks: at
    * nBits=60, nChunks=6, maxHamming=4 each band keys on 20 bits (~1M
    * buckets) instead of a single 10-bit chunk (1024) — the hierarchy
    * that keeps per-bucket membership small as the corpus grows. With
    * maxHamming == nChunks-1 it degenerates to plain one-chunk banding.
    */
  private[graft] def simhashBandKeys(sig: DataFrame, nBits: Int, nChunks: Int,
                                     maxHamming: Int): DataFrame = {
    val w = (nBits + nChunks - 1) / nChunks
    val combos = simhashBandCombos(nChunks, maxHamming)
    sig.select(col("doc"), col("simhash"),
      explode(array(combos.zipWithIndex.map { case (cs, g) =>
        struct(lit(g).as("g"),
          cs.zipWithIndex.map { case (c, i) =>
            (shiftright(col("simhash"), c * w) % lit(1L << w)) * lit(1L << (i * w))
          }.reduce(_ + _).as("ck"))
      }: _*)).as("b"))
      .select(col("doc"), col("simhash"), col("b.g"), col("b.ck"))
  }

  /** SimHash near-dup: band the signature over chunk COMBINATIONS
    * (Manku et al. WWW'07, see [[simhashBandKeys]]); pairs sharing a
    * band key (complete for hamming <= maxHamming by pigeonhole) are
    * verified with exact hamming distance. Larger nBits/nChunks sharpen
    * band selectivity — the knob that keeps buckets small as the corpus
    * grows.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, nBits: Int = 32, nChunks: Int = 4): DataFrame = {
    // pigeonhole completeness: a pair at hamming h can disagree in at most
    // h chunks, so h <= nChunks-1 guarantees one shared chunk. Beyond that
    // the banding silently loses pairs — refuse instead.
    require(maxHamming <= nChunks - 1,
      s"maxHamming=$maxHamming needs nChunks >= ${maxHamming + 1} (got $nChunks) for complete candidate recall")
    // localCheckpoint, not .cache(): same policy note as the shingle
    // relation above — this sub-plan is reused by both join sides
    val sig = simhash(df, idCol, textCol, nBits).localCheckpoint()
    val keyed = simhashBandKeys(sig, nBits, nChunks, maxHamming)
    val l = keyed.select(col("doc").as("d1"), col("simhash").as("h1"), col("g"), col("ck"))
    val r = keyed.select(col("doc").as("d2"), col("simhash").as("h2"), col("g"), col("ck"))
    l.join(r, Seq("g", "ck")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("h1"), col("h2")).distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation: each round, label(v) <- min(label(v), neighbors'
    * labels), until a fixpoint. Convergence takes O(component diameter)
    * rounds — near-dup components produced by LSH banding are
    * clique-dense (diameter 1-2 in practice), so 2-3 rounds end it.
    * Each round is one equi-join + one groupBy(src) shuffle with
    * map-side partial min; lineage is truncated per round with
    * localCheckpoint so the plan never grows with the iteration count.
    * For adversarial long-chain graphs the alternating
    * large-star/small-star formulation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) converges in
    * O(log^2 n) rounds with the same per-round shape and drops in here.
    *
    * Output: (node, label) for every node appearing in a pair, where
    * label = the smallest node id in its component.
    *
    * `maxIter` bounds the rounds run by the LOOP; label initialization
    * already performs propagation round 1 (fused into init, below), so
    * the operator performs up to maxIter + 1 propagation rounds total.
    * Convergence for a given maxIter is therefore strictly no worse
    * than the pre-fusion contract.
    */
  def connectedComponents(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
                          maxIter: Int = 25): DataFrame = {
    // materialize the (possibly expensive) pair pipeline ONCE before the
    // bidirectional union references it twice — without this the whole
    // upstream candidate-generation DAG runs double
    val p = pairs.select(col(d1).as("a"), col(d2).as("b")).localCheckpoint()
    // SCALE-ADAPTIVE key partition count (guide §2): the keyed claims
    // below pin the per-round joins at plain hash(·, n) — a layout AQE
    // neither coalesces nor re-plans to broadcast — so a count fixed at
    // spark.sql.shuffle.partitions would run every round of a 25-pair
    // dedup graph as 32-task SMJ stages (measured +30% on the cc
    // composites at sf0.1). Derive n from the materialized pair count
    // (the count reads the checkpoint — no recompute): ~250k edge rows
    // per partition, capped at the session's shuffle parallelism, so
    // tiny graphs run single-task rounds and corpus-scale graphs keep
    // full parallelism.
    val keyParts = Some(math.min(
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong,
      p.count() * 2L / 250000L + 1L).toInt)
    // the static edge relation is KEYED on dst — the per-round join key
    // — through the partitioning-preserving checkpoint (the Graph.scala
    // iterate pattern, guide §2.4): a plain localCheckpoint degrades to
    // UnknownPartitioning under AQE, so every propagation round would
    // re-Exchange + re-Sort the |E|-sized edge list the materialization
    // already laid out
    val edges = graft.Partitioning.checkpointKeyed(
      p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst")))
        .distinct(), "dst", keyParts)
    // iteration 1 fused into initialization: with identity labels the
    // first round's neighbor-min is exactly groupBy(src).min(dst) over
    // the bidirectional edge list (which also enumerates every node),
    // so labels start one propagation round in — one shuffle replaces
    // the distinct-nodes checkpoint PLUS the first loop round.
    // EXPLICITLY keyed on node (not checkpointKeep): the aggregation's
    // own exchange is ENSURE_REQUIREMENTS-inserted, which AQE may
    // coalesce — a coalesced claim no longer co-partitions with the
    // explicitly-keyed edges and every round would re-exchange. With
    // both relations pinned at plain hash(·, P), each round's label
    // join, neighbor-min join-back and the per-round kept checkpoints
    // stay aligned: the only per-round exchange left is the
    // neighbor-min aggregation itself (Graph.iterate's structure).
    var labels = graft.Partitioning.checkpointKeyed(
      edges.groupBy(col("src")).agg(min(col("dst")).as("nbr"))
        .select(col("src").as("node"),
          least(col("src"), col("nbr")).as("label")), "node", keyParts)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr"))
      val next = graft.Partitioning.checkpointKeep(labels
        .join(nbrMin.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("next")))
      converged = next.filter(col("next") < col("label")).isEmpty
      labels = next.select(col("node"), col("next").as("label"))
      i += 1
    }
    // an unconverged exit would silently under-merge components (labels
    // mid-propagation look plausible) — refuse instead
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds — " +
        s"component diameter exceeds the bound; raise maxIter or use " +
        s"connectedComponentsStars (O(log^2 n) rounds) for long-chain graphs")
    labels
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log^2 n)-round algorithm for graphs whose
    * diameter is NOT small (long chains), where plain min-propagation
    * ([[connectedComponents]]) needs O(diameter) rounds.
    *
    * Per round: large-star hangs every larger neighbor of u onto u's
    * minimum neighbor; small-star re-hangs the smaller neighbors.
    * Both are one groupBy(min) + one join over the edge list — the
    * same per-round shuffle shape as min-propagation — and the edge
    * list provably never grows beyond 2|E|. Converged when the edge
    * set reaches the star fixpoint (every node points at its
    * component minimum).
    *
    * Same output contract as [[connectedComponents]]: (node, label).
    */
  def connectedComponentsStars(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
                               maxIter: Int = 20): DataFrame = {
    var edges = pairs.select(col(d1).as("u"), col(d2).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for
      // strictly larger neighbors v (the reverse direction of each
      // edge is covered by v's own group)
      val both = edges
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = both.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = both.join(lsMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: orient edges large->small, hang every neighbor
      // (and u itself) onto the group minimum
      val dir = ls.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val ssMin = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = dir.join(ssMin, Seq("u"))
        .select(col("v").as("x"), col("m"))
        .union(ssMin.select(col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v")).distinct()
        .localCheckpoint()
      converged = ss.exceptAll(edges).isEmpty && edges.exceptAll(ss).isEmpty
      edges = ss
      i += 1
    }
    require(converged,
      s"connectedComponentsStars did not converge within $maxIter rounds " +
        s"(needs O(log^2 n)); raise maxIter")
    edges.select(col("u").as("node"), col("v").as("label"))
      .union(edges.select(col("v").as("node"), col("v").as("label")))
      .distinct()
  }

  /** Dedup cluster assignment for EVERY document: docs in a near-dup
    * component get the component's min id as `cluster`; untouched docs
    * are their own cluster. `is_canonical` marks the representative row
    * to keep — filtering on it IS the dedup. The join against the
    * component labels is dimension-vs-corpus shaped (components are the
    * tiny side), so AQE broadcasts it.
    */
  def clusterAssignments(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("node", "doc")
    docs.select(col(idCol).as("doc"))
      .join(cc, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("label"), col("doc")).as("cluster"),
        (coalesce(col("label"), col("doc")) === col("doc")).as("is_canonical"))
  }

  /** Line-level exact dedup (the C4/RefinedWeb boilerplate pass): split
    * each document on `delim`, keep only the GLOBAL first occurrence of
    * every line (ordered by (doc id, position)), and reassemble the
    * surviving lines back into documents. Nav bars, cookie banners and
    * licence footers repeated across a crawl disappear; each line's
    * first host keeps it.
    *
    * Scale shape mirrors [[exactByFingerprint]]: the keeper decision
    * shuffles (doc, pos, xxhash64(line)) — fixed-width keys, never line
    * text — and line text crosses an exchange only (a) inside hash
    * groups with >1 member, where true equality is verified so a hash
    * collision can never drop a distinct line, and (b) once per KEPT
    * line for the final reassembly groupBy(doc), which any reassembly
    * must pay. Documents whose every line was seen earlier elsewhere are
    * dropped entirely; NULL-text documents pass through with a NULL
    * result and `n_lines_kept = 0`.
    *
    * Output: (doc, text_dedup, n_lines_kept).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                delim: String = "\n"): DataFrame =
    lineDedupImpl(df, idCol, textCol, delim, xxhash64(_))

  /** [[lineDedup]] with an injectable line-hash — test seam proving the
    * collision branch: even a DEGENERATE constant hash (every line in
    * one group) must yield identical output, because true line equality
    * is verified inside hash groups before any line is dropped.
    */
  private[graft] def lineDedupImpl(df: DataFrame, idCol: String, textCol: String,
                                   delim: String, lineHash: Column => Column): DataFrame = {
    val base = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"), col(textCol).as("txt"))
    val nullOut = base.filter(col("txt").isNull)
      .select(col("doc"), lit(null).cast("string").as("text_dedup"),
        lit(0L).as("n_lines_kept"))
    val lines = base.filter(col("txt").isNotNull)
      .select(col("doc"),
        posexplode(split(col("txt"), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "line")))
    val hashed = lines.withColumn("lh", lineHash(col("line")))
    // 20 bytes/row; one text scan computes it, and the frequency count +
    // singleton branch reuse it without rescanning the corpus
    val keys = hashed.select(col("doc"), col("pos"), col("lh")).localCheckpoint()
    val dupH = keys.groupBy(col("lh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("lh"))
    // line text ships only for dup-candidate hash groups (proportional to
    // the boilerplate rate), where exact equality picks the true keeper
    val firstOcc = hashed.join(dupH, Seq("lh"), "left_semi")
      .groupBy(col("lh"), col("line"))
      .agg(min(struct(col("doc"), col("pos"))).as("k"))
      .select(col("k.doc").as("doc"), col("k.pos").as("pos"))
    val keepKeys = keys.join(dupH, Seq("lh"), "left_anti")
      .select(col("doc"), col("pos"))
      .unionByName(firstOcc)
    lines.join(keepKeys, Seq("doc", "pos"), "left_semi")
      .groupBy(col("doc"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          delim).as("text_dedup"),
        count(lit(1)).as("n_lines_kept"))
      .unionByName(nullOut)
  }

  /** Verbatim duplicate-passage detection — the exact-substring dedup
    * mode of Lee et al. 2021 (arXiv:2107.06499) re-expressed
    * relationally: every MAXIMAL run of >= `k` consecutive tokens
    * shared verbatim between two documents, reported with its 0-based
    * token offset in both. This is the dedup mode the shingle/MinHash
    * family cannot provide (they score whole-document similarity;
    * this finds the copied paragraph inside two otherwise-unrelated
    * documents) and [[lineDedup]] only approximates at line
    * granularity.
    *
    * Relational shape instead of a suffix array: hash every k-token
    * window (narrow posexplode), keep hashes seen in >1 document
    * (semi-join — the corpus's boilerplate rate bounds the survivors),
    * equi-join those on (hash, window text) with d1 < d2 — text
    * equality verified IN the join, so a hash collision can never weld
    * two different passages — then merge hits lying on the same
    * alignment diagonal (p1 - p2) into maximal spans with a
    * gaps-and-islands window (island = consecutive-p1 run per
    * (d1, d2, diagonal); two occurrences of the same passage at
    * different alignments stay separate spans by construction).
    *
    * Scale: window hashes are 8-byte keys; window TEXT crosses an
    * exchange only for dup-candidate hashes. `maxOcc` caps flood
    * windows (a boilerplate header shared by millions of docs would
    * otherwise go quadratic in the pair join — the same skew guard as
    * the shingle family; capped windows can split a span that crosses
    * them, the standard recall trade). The islands window partitions
    * by (d1, d2, diag) — pair-local, never a global sort.
    *
    * Output: (d1, d2, start1, start2, n_tokens), one row per maximal
    * shared span.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
                     maxOcc: Option[Long] = Some(100L),
                     materializeWindows: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col(textCol))
    val winArr = when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
    // the window relation feeds THREE consumers (dup-hash stats + both
    // pair-join sides) and the dup-candidate slice two — materialize
    // both, same policy and trade-offs as [[shingleRelation]] (pass
    // materializeWindows=false on unreliable clusters; at corpus scale
    // the window relation exceeds executor storage and the honest cost
    // is the recompute)
    val wins0 = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"), posexplode(winArr).as(Seq("pos", "w")))
      .withColumn("h", graft.functions.RollingHash.hash(col("w"), 131L))
    // keyed on h: the (h, w) stats aggregation, the candidate semi-join
    // and the hit self-join all cluster on keys with h as a prefix, so
    // hash(h) satisfies every one of them exchange-free
    val wins = if (materializeWindows)
      graft.Partitioning.checkpointKeyed(wins0, "h") else wins0
    // stats key on (h, w) — the window TEXT, not the hash alone: a
    // hash collision between a flood-capped boilerplate window and a
    // real duplicated passage would otherwise merge their counts and
    // silently suppress the passage's spans (certain at corpus-scale
    // window counts in a ~2^30 hash space). Text rides this one
    // exchange; the relation is windows-sized either way and the cap
    // semantics become text-exact, matching the oracle's GROUP BY w
    val stats = wins.groupBy(col("h"), col("w"))
      .agg(countDistinct(col("doc")).as("nd"), count(lit(1)).as("n"))
    val dupH = stats
      .filter(col("nd") > 1 && maxOcc.map(col("n") <= _).getOrElse(lit(true)))
      .select(col("h"), col("w"))
    val cand0 = wins.join(dupH, Seq("h", "w"), "left_semi")
    // checkpointKeep: cand0 inherits wins' hash(h) layout through the
    // semi-join, and the hit self-join reuses it
    val cand = if (materializeWindows)
      graft.Partitioning.checkpointKeep(cand0) else cand0
    val l = cand.select(col("h"), col("doc").as("d1"), col("pos").as("p1"), col("w").as("w1"))
    val r = cand.select(col("h").as("h2"), col("doc").as("d2"), col("pos").as("p2"),
      col("w").as("w2"))
    val hits = l.join(r, col("h") === col("h2") && col("d1") < col("d2")
        && col("w1") === col("w2"))
      .select(col("d1"), col("p1"), col("d2"), col("p2"),
        (col("p1") - col("p2")).as("diag"))
    val wIsl = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    hits.withColumn("isl", col("p1") - row_number().over(wIsl))
      .groupBy(col("d1"), col("d2"), col("diag"), col("isl"))
      .agg(min(col("p1")).cast("long").as("start1"),
        min(col("p2")).cast("long").as("start2"),
        (count(lit(1)) + (k - 1)).as("n_tokens"))
      .select(col("d1"), col("d2"), col("start1"), col("start2"), col("n_tokens"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-token gram, slide a window of
    * `w` consecutive gram hashes, and select each window's MINIMUM hash
    * (rightmost occurrence on ties — the paper's rule). The selected
    * (pos, hash) set is a position-robust document fingerprint with the
    * paper's guarantee: any shared run of at least w+k-1 tokens yields
    * at least one shared fingerprint, while storage is ~2/(w+1) of the
    * full gram set. Candidate pairs come from an equi-join on `h` —
    * bucketed like every other family here, never all-pairs.
    *
    * Scale shape: pure narrow per-document HOF arithmetic (grams,
    * windows, fold, distinct) — zero shuffles in this operator; the
    * caller's join on `h` is the only exchange and carries (doc, pos,
    * h) longs, never text. Docs with fewer than w+k-1 tokens produce
    * no fingerprints (too short for one full window) — the disclosed
    * short-doc recall edge, same trade as [[duplicateSpans]]'s
    * k-boundary.
    *
    * Output: (doc, pos, h), distinct per doc; `pos` is the selected
    * gram's 0-based token offset. With `confirmMult` set, a second
    * independent rolling hash `h2` (that multiplier, same gram text)
    * rides along — selection is still by `h` alone, so the selected
    * set is identical; `h2` only disambiguates h-collisions for
    * downstream keying ([[winnowPairs]]).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int,
                         confirmMult: Option[Long] = None): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val gramT = confirmMult.fold("array<struct<pos:bigint,h:bigint>>")(_ =>
      "array<struct<pos:bigint,h:bigint,h2:bigint>>")
    val toks = TextAnalysis.tokens(col(textCol))
    def gram(i: Column) = {
      val txt = array_join(slice(toks, i + 1, lit(k)), " ")
      struct((Seq(i.cast("long").as("pos"),
        graft.functions.RollingHash.hash(txt, 131L).as("h")) ++
        confirmMult.map(m => graft.functions.RollingHash.hash(txt, m).as("h2"))): _*)
    }
    val grams = when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k), gram(_)))
      .otherwise(array().cast(gramT))
    // per window: fold to the rightmost minimal hash (<= keeps later
    // elements on ties); init is (pos=-1, h=MaxValue) so the first
    // element always replaces it
    val zero = struct((Seq(lit(-1L).as("pos"), lit(Long.MaxValue).as("h")) ++
      confirmMult.map(_ => lit(0L).as("h2"))): _*)
    val sel = when(size(col("gr")) >= w,
      transform(sequence(lit(0), size(col("gr")) - w),
        j => aggregate(slice(col("gr"), j + 1, lit(w)), zero,
          (acc, g) => when(g.getField("h") <= acc.getField("h"), g).otherwise(acc))))
      .otherwise(array().cast(gramT))
    val base = graft.Partitioning.spread(df)
      .select(col(idCol).as("doc"), grams.as("gr"))
      .select(col("doc"), explode(array_distinct(sel)).as("f"))
    base.select((Seq(col("doc"), col("f.pos").as("pos"), col("f.h").as("h")) ++
      confirmMult.map(_ => col("f.h2").as("h2"))): _*)
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints: docs
    * sharing at least `minShared` distinct selected hashes. The MOSS
    * guarantee lifts to pairs: two docs sharing a run of >= w+k-1
    * tokens share a fingerprint, so minShared=1 catches every such
    * pair; higher thresholds trade that recall for precision.
    *
    * Scale shape mirrors the shingle family: the fingerprint relation
    * (longs only) is materialized once for its three consumers (flood
    * stats + both join sides), hashes shared by more than `maxOcc` docs
    * are dropped before the pair join (boilerplate flood cap — the
    * skew guard), and `d1 < d2` rides IN the join condition.
    *
    * All keying — flood stats, cap, pair join — is on the PAIR of
    * independent rolling hashes (h: mult 131, h2: mult 137) over the
    * same gram text: in the single ~2^30 h space a >maxOcc boilerplate
    * fingerprint colliding with a real passage fingerprint would merge
    * their doc counts and silently drop every pair that depended on it
    * (certain at corpus-scale gram counts — the same failure mode
    * [[duplicateSpans]] keys out with (h, text)). Grams collide here
    * only when BOTH hashes collide (~2^-60) — text itself never
    * crosses an exchange, the winnow storage bound stays intact.
    * Output: (d1, d2, n_shared).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int, w: Int, minShared: Long = 2L,
                  maxOcc: Option[Long] = Some(100L),
                  materialize: Boolean = true): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val fp0 = winnowFingerprints(df, idCol, textCol, k, w, confirmMult = Some(137L))
      .select(col("doc"), col("h"), col("h2")).distinct()
    val fp = if (materialize) fp0.localCheckpoint() else fp0
    // fp is already distinct on (doc, h, h2): a plain count gives the
    // doc count per hash pair without the distinct-aggregate's Expand
    val ok = fp.groupBy(col("h"), col("h2")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1 && maxOcc.map(col("nd") <= _).getOrElse(lit(true)))
      .select(col("h"), col("h2"))
    val cand = fp.join(ok, Seq("h", "h2"), "left_semi")
    val l = cand.select(col("h"), col("h2"), col("doc").as("d1"))
    val r = cand.select(col("h").as("rh"), col("h2").as("rh2"), col("doc").as("d2"))
    l.join(r, col("h") === col("rh") && col("h2") === col("rh2")
        && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SemDeDup-style semantic near-dup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with the deterministic
    * k-means coarse quantizer ([[Similarity.coarseQuantizer]]), then
    * compare pairs ONLY within a cluster — the candidate join is an
    * equi-join on the cluster id, never a corpus self-join. Returns
    * near-dup pairs (d1, d2, cos) with cosine >= `threshold` and
    * d1 < d2; feed them to [[clusterAssignments]] to pick keepers.
    *
    * Unlike [[embeddingNearDup]]'s hyperplane-LSH buckets (random
    * projections — recall depends on luck of the planes), the k-means
    * partition adapts to the data's actual density: semantically close
    * vectors land in the same centroid's cell. The paper's trade-off
    * applies: pairs STRADDLING a cluster boundary are missed (raise
    * `kmeansIters` / tune `nCentroids` to reduce boundary loss).
    *
    * Scale shape: assignment is a narrow literal-centroid argmax (the
    * corpus is scanned, never shuffled — [[Similarity.assignClusters]]);
    * the pair join shuffles on the cluster key once. `nCentroids` must
    * scale with the corpus (aim for ~constant expected cluster size:
    * the paper uses 50k clusters for LAION-440M) — intra-cluster work
    * is sum over clusters of |C|^2/2, so a fixed tiny nCentroids at 1B
    * vectors is quadratic by another name. The d1 < d2 bound rides IN
    * the join condition so the join emits half the pairs, not
    * emit-then-filter.
    */
  def semanticNearDup(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nCentroids: Int = 16,
                      kmeansIters: Int = 2): DataFrame = {
    val (c, cent) = Similarity.quantizedCorpus(df, idCol, vecCol, nCentroids, kmeansIters)
    val assign = Similarity.assignClusters(c, cent)
    val l = assign.select(col("cluster"), col("nn_id").as("d1"), col("cv").as("v1"))
    val r = assign.select(col("cluster"), col("nn_id").as("d2"), col("cv").as("v2"))
    l.join(r, l("cluster") === r("cluster") && col("d1") < col("d2"))
      .withColumn("cos", graft.Num.r6(Similarity.dot(col("v1"), col("v2"))))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
  }

  /** Embedding-cosine near-dup: pairs with cosine >= threshold. The
    * DEFAULT is the scale path — hyperplane-sign LSH bucketing
    * ([[Similarity.hyperplaneBucket]]) so candidate generation is an
    * equi-join on the bucket key. `useLsh = false` is the explicit
    * small-data escape hatch running the exact O(N^2/2) self-join
    * (recall 1.0, only sane below ~1M rows).
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, useLsh: Boolean = true): DataFrame = {
    val base = graft.Partitioning.spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
    val normed = base.withColumn("nv", Similarity.normalize(col("v")))
    val joined = if (useLsh) {
      val b = normed.withColumn("bucket", Similarity.hyperplaneBucket(col("nv"), 8))
      b.select(col("id").as("d1"), col("nv").as("v1"), col("bucket"))
        .join(b.select(col("id").as("d2"), col("nv").as("v2"), col("bucket")), Seq("bucket"))
    } else {
      // d1 < d2 as the JOIN condition (not a post-filter) so the nested-
      // loop join emits N^2/2 rows instead of N^2-then-filter
      val l = normed.select(col("id").as("d1"), col("nv").as("v1"))
      val r = normed.select(col("id").as("d2"), col("nv").as("v2"))
      l.join(r, col("d1") < col("d2"))
    }
    joined.filter(col("d1") < col("d2"))
      .withColumn("cos", graft.Num.r6(Similarity.dot(col("v1"), col("v2"))))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
  }

  /** EXACT set-similarity join via prefix filtering (the PPJoin family:
    * Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): every pair of
    * documents whose DISTINCT-token Jaccard reaches `threshold`, with
    * recall 1.0 — the exact complement to [[minhashLsh]]'s probabilistic
    * banding, for the pipelines that must certify "no near-dup above t
    * survives".
    *
    * The filter: order each document's tokens rarest-first (by global
    * document frequency, ties by token — no global rank ids, so no
    * single-partition window; the (df, tok) struct IS the sort key) and
    * index only the PREFIX of length n − ⌈t·n⌉ + 1. Pigeonhole: a pair
    * with Jaccard ≥ t has |∩| ≥ t·n_i, so a pair sharing NO prefix
    * token would pack its whole intersection into the ⌈t·n⌉ − 1 suffix
    * tokens — contradiction; candidates therefore come ONLY from the
    * prefix-token equi-join, and rarest-first ordering makes those
    * posting lists the shortest available (the stopword that would
    * quadratically flood a naive shared-token join is never indexed
    * unless a doc consists of almost nothing else). Candidates then
    * verify with one exact intersection count.
    *
    * With `ppjoinFilters` on (the default) the candidate join also
    * applies PPJoin's LENGTH filter (Jaccard ≥ t needs
    * t·max(n1,n2) ≤ min(n1,n2) — sizes ride the prefix relation) and
    * POSITIONAL filter (a token shared at 1-based sorted positions
    * p1/p2 bounds the overlap by 1 + min(n1−p1, n2−p2); a pair
    * survives iff SOME shared prefix token's bound reaches the overlap
    * the threshold requires). Both filters are EXACT-INTEGER
    * inequalities derived from the r6-rounded output condition
    * `floor(i·1e6/u + ½) ≥ t·1e6  ⟺  2e6·i ≥ (2·t6−1)·u`, so the
    * OUTPUT IS PROVABLY IDENTICAL — candidates shrink, recall stays
    * 1.0 (the first-shared-intersection-token argument holds for docs
    * under 2e6 distinct tokens, far past any real document;
    * DedupSimilaritySpec asserts the candidate drop and the unchanged
    * result on a skewed fixture).
    *
    * @return (d1, d2, jaccard) with d1 < d2, r6-rounded, recall 1.0
    */
  def prefixFilterJoin(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, ppjoinFilters: Boolean = true): DataFrame = {
    require(threshold > 0.0d && threshold <= 1.0d, "threshold must be in (0, 1]")
    val tk = prefixTokens(df, idCol, textCol)
    val cand = prefixFilterCandidatesFrom(tk, threshold, ppjoinFilters)
    val sizes = tk.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    // candidate-restricted verify: expand candidates by d1's tokens
    // FIRST, then equi-join on (d2, tok) — the raw shared-token
    // self-join (which the stopword flood lives in) never runs
    val inter = cand
      .join(tk.select(col("doc").as("d1"), col("tok")), "d1")
      .join(tk.select(col("doc").as("d2"), col("tok")), Seq("d2", "tok"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    val jac = graft.Num.r6(col("i").cast("double") /
      (col("s1") + col("s2") - col("i")).cast("double"))
    inter.join(sizes.select(col("doc").as("d1"), col("sz").as("s1")), "d1")
      .join(sizes.select(col("doc").as("d2"), col("sz").as("s2")), "d2")
      .withColumn("jaccard", jac)
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Distinct lowercase whitespace tokens per doc, checkpointed —
    * the shared base relation of the prefix-filter family.
    */
  private def prefixTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Partitioning.spread(df)
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(array_distinct(split(lower(col(textCol)), "\\s+"))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint(true)

  /** Candidate (d1, d2) pairs the verify stage would score — exposed so
    * DedupSimilaritySpec can assert the PPJoin filters shrink this set
    * without touching the verified output.
    */
  private[graft] def prefixFilterCandidates(df: DataFrame, idCol: String,
                                            textCol: String, threshold: Double,
                                            ppjoinFilters: Boolean): DataFrame =
    prefixFilterCandidatesFrom(prefixTokens(df, idCol, textCol), threshold, ppjoinFilters)

  private def prefixFilterCandidatesFrom(tk: DataFrame, threshold: Double,
                                         ppjoinFilters: Boolean): DataFrame = {
    // t on the r6 grid: output membership is the exact-integer condition
    // 2e6·i ≥ (2·t6−1)·u, which is what the filters must never violate
    val t6 = math.ceil(threshold * 1e6 - 1e-9).toLong
    val dfreq = tk.groupBy(col("tok")).agg(count(lit(1)).as("tdf"))
    val prefixes = tk.join(dfreq, "tok")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("tdf"), col("tok")))).as("syms"),
        count(lit(1)).as("n"))
      .select(col("doc"), col("n"),
        posexplode(expr(
          s"slice(syms, 1, cast(n - ceil($threshold * n) + 1 as int))")))
      .select(col("doc"), col("n"), (col("pos") + 1).as("p"), col("col.tok").as("tok"))
    val l = prefixes.select(col("tok"), col("doc").as("d1"),
      col("n").as("n1"), col("p").as("p1"))
    val r = prefixes.select(col("tok"), col("doc").as("d2"),
      col("n").as("n2"), col("p").as("p2"))
    val joined = l.join(r, Seq("tok")).where(col("d1") < col("d2"))
    val filtered = if (!ppjoinFilters) joined else {
      // LENGTH: jac ≥ t forces the sizes within a factor t of each other
      // (i ≤ min, u ≥ max). POSITIONAL: tokens of the intersection all
      // sort at-or-after the first shared one, so the overlap is capped
      // by what remains after (p1, p2); the output condition rearranged
      // over that cap is one integer inequality. Both are necessary
      // conditions of the EXACT output predicate — pure pruning
      val twoT1 = lit(2L * t6 - 1L)
      joined
        .where(lit(2000000L) * least(col("n1"), col("n2")) >=
          twoT1 * greatest(col("n1"), col("n2")))
        .where((lit(1L) + least(col("n1") - col("p1"), col("n2") - col("p2"))) *
          lit(2000000L + 2L * t6 - 1L) >= twoT1 * (col("n1") + col("n2")))
    }
    filtered.select(col("d1"), col("d2")).distinct()
  }
}
