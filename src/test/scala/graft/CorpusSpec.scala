package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Corpus

/** Corpus-level text operators: vocabulary, TF-IDF, training filter. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat"),
    (2L, "the dog sat"),
    (3L, "the the the")).toDF("doc_id", "text")

  test("vocab: global counts, ties broken by token, limit applied") {
    val out = Corpus.vocab(docs, "text", topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // the=5; sat=2; then cat/dog tie at 1 -> cat wins alphabetically
    assert(out.toSeq == Seq(("the", 5L), ("sat", 2L), ("cat", 1L)))
  }

  test("vocab: plan is TakeOrderedAndProject, not a global sort") {
    val plan = Corpus.vocab(docs, "text", topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("tfIdf: corpus-wide tokens get idf 0, rare tokens weigh more") {
    val out = Corpus.tfIdf(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // "the" appears in all 3 docs -> ln(3/3) = 0
    assert(out((1L, "the"))._2 == 0.0)
    // doc 1 "cat": tf = 1/3, idf = ln(3/1)
    val expected = math.floor((1.0 / 3.0) * math.log(3.0) * 1e6 + 0.5) / 1e6
    assert(out((1L, "cat"))._2 == expected)
    assert(out((3L, "the"))._1 == 3L) // count within doc
  }

  test("trainingFilterNearDup drops near-duplicate non-canonical docs") {
    val phrase = "the quick brown fox jumps over the lazy dog and runs far away home " * 3
    val docs = Seq(
      (1L, phrase + "alpha beta"),
      (6L, phrase + "alpha gamma"), // near-dup of 1 (high shingle overlap)
      (3L, "the and of is with for " * 10)) // english but distinct
      .toDF("doc_id", "text")
    val out = graft.llm.Corpus.trainingFilterNearDup(docs, "doc_id", "text",
      minQuality = 0.0, lang = "en",
      n = 2, k = 8, rowsPerBand = 2, threshold = 0.5, maxDocFreq = None)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.contains(1L) && !out.contains(6L), s"got $out") // canonical kept, near-dup dropped
    assert(out.contains(3L))
  }

  test("chunk: overlapping windows with stride, short tail window kept") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.chunk(df, "doc_id", "text",
      chunkTokens = 3, stride = 2).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    assert(out == Seq((0L, "a b c", 3L), (1L, "c d e", 3L), (2L, "e", 1L)))
  }

  test("scrub masks emails, urls, digit runs — in that order") {
    val df = Seq((1L, "mail a.b@x.io or visit https://h.com:8080/p then call 555 12"))
      .toDF("doc_id", "text")
    val s = graft.llm.TextAnalysis.scrub(df, "text").collect().head.getString(2)
    assert(s == "mail <EMAIL> or visit <URL> then call <NUM> <NUM>")
  }

  test("hashSample is deterministic and membership-stable under corpus growth") {
    val small = (1L to 100L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    val big = (1L to 200L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    val a = graft.llm.TextAnalysis.hashSample(small, "text", 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.llm.TextAnalysis.hashSample(big, "text", 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(b)) // growing the corpus never changes prior membership
    assert(a.nonEmpty && a.size < 100)
  }

  test("weightedSample: order-insensitive, weight-monotone, exclusions honored") {
    import graft.llm.TextAnalysis.weightedSample
    val rows = (1L to 60L).map(i =>
      (i, s"weighted corpus document $i", 0.1d + (i % 7) * 0.3d))
    val df = rows.toDF("doc_id", "text", "w")
    val picked = weightedSample(df, "doc_id", "text", "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked.size === 10)
    // content-hash draws: shuffling input order / partitioning never re-rolls
    val shuffled = weightedSample(df.repartition(7).sortWithinPartitions(col("w")),
      "doc_id", "text", "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shuffled === picked)
    // raising one unpicked row's weight can only raise its key (ln u < 0),
    // and at an extreme weight it must enter the sample
    val loser = rows.filterNot(r => picked(r._1)).head._1
    val boosted = rows.map { case (i, t, w) => (i, t, if (i == loser) 1.0e6d else w) }
      .toDF("doc_id", "text", "w")
    val picked2 = weightedSample(boosted, "doc_id", "text", "w", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked2(loser), s"boosted row $loser must be selected: $picked2")
    // null text and non-positive weights have no draw
    val edge = Seq((1L, "ok doc", 1.0d), (2L, null: String, 5.0d), (3L, "zero", 0.0d))
      .toDF("doc_id", "text", "w")
    assert(weightedSample(edge, "doc_id", "text", "w", k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("BPE: learned merges match an in-memory reference; greedy-left runs; encode counts") {
    import graft.llm.Bpe
    // in-memory reference BPE (word-frequency form, same tie-break)
    def refMerges(texts: Seq[String], n: Int): Seq[(String, String, Long)] = {
      var words: Map[List[String], Long] = texts
        .flatMap(_.toLowerCase.split("\\s+")).filter(_.matches("^[a-z]+$"))
        .groupBy(identity).map { case (w, ws) => w.toList.map(_.toString) -> ws.size.toLong }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      for (_ <- 1 to n) {
        val counts = words.toSeq.flatMap { case (syms, f) =>
          syms.zip(syms.tail).map(p => p -> f)
        }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
        if (counts.nonEmpty) {
          val ((a, b), c) = counts.minBy { case ((x, y), cnt) => (-cnt, x, y) }
          out += ((a, b, c))
          words = words.map { case (syms, f) =>
            val merged = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                merged += a + b; i += 2
              } else { merged += syms(i); i += 1 }
            }
            merged.toList -> f
          }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        }
      }
      out.toSeq
    }
    val texts = Seq("low lower lowest low low", "new newer newest new lower",
      "aaa aa aaa banana bandana")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.learnMerges(df, "text", 10).orderBy(col("step"))
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === refMerges(texts, 10))
    // greedy-left: merging (a,a) in "aaa" yields (aa, a), not (a, aa)
    val gm = Bpe.learnMerges(Seq((1L, "aaa aaa")).toDF("doc_id", "text"), "text", 2)
      .orderBy(col("step")).collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(gm === Seq(("a", "a"), ("aa", "a")),
      s"greedy-left merge order violated: $gm")
    // encode: after enough merges every word is one token
    val full = Bpe.learnMerges(df, "text", 50).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val counts = Bpe.encodeTokenCounts(df, "doc_id", "text", full)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(0L -> 5L, 1L -> 5L, 2L -> 5L),
      s"fully-merged corpus must count one token per word: $counts")
  }

  test("BPE encode with a 500-merge table: chunked fold, boundary-invariant, scalar parity") {
    import graft.llm.Bpe
    // a realistic merge table is 30k entries; the encode fold must not
    // build one plan containing every merge. 500 merges exercises the
    // chunking (5 plan segments at the default checkpointEvery=100) in
    // bounded time; counts must be bit-identical to an in-memory
    // scalar reference of the same replace fold, and invariant to
    // where the chunk boundaries fall
    val texts = Seq("abcd abab cdcd abcdabcd", "aabb ccdd aabbccdd dcba",
      "abc bcd cda dab abcd", "ab cd abcd dddd")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // real learned head + deterministic padding to 500 (padding pairs
    // still cost one replace each — exactly the plan-size load the
    // chunking bounds; most are no-ops, which is what a long tail of a
    // real merge table looks like against any one word)
    val learned = Bpe.learnMerges(df, "text", 12).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val pad = (learned.size until 500).map(i => (s"q${"x" * (i % 7)}", "q"))
    val merges = learned ++ pad
    assert(merges.size === 500)
    // in-memory scalar reference: the identical left-to-right replace
    // fold over each distinct word's initial encoding
    def scalarCount(w: String): Long = {
      val enc0 = w.map(c => s"|$c|").mkString
      val folded = merges.foldLeft(enc0) { case (e, (a, b)) =>
        e.replace(s"|$a||$b|", s"|$a$b|") }
      folded.substring(1, folded.length - 1).split("\\|\\|").length.toLong
    }
    val expected = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.toLowerCase.split("\\s+").filter(_.matches("[a-z]+"))
        .map(scalarCount).sum
    }.toMap
    val got = Bpe.encodeTokenCounts(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected, s"distributed counts diverged from scalar reference")
    // chunk-boundary invariance: a different checkpoint cadence cannot
    // change the fold's result
    val got37 = Bpe.encodeTokenCounts(df, "doc_id", "text", merges, checkpointEvery = 37)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got37 === got)
  }

  test("PMI bigrams: planted collocation leads; scalar-reference value parity") {
    import graft.llm.TextAnalysis
    // 'new' and 'york' appear ONLY together (10×); every filler word
    // recurs in several contexts, so no other pair is exclusive — the
    // planted collocation must lead and its PMI must equal the scalar
    // replica of the identical arithmetic
    val docs = (1 to 10).map(i =>
      s"new york alpha beta gamma delta alpha gamma the delta").toDF("text")
    val got = TextAnalysis.pmiBigrams(docs, "text", minCount = 5L, topN = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.head._1 === "new" && got.head._2 === "york", got.mkString(","))
    // scalar replica: T = 100 tokens, B = 90 bigrams, c(new)=c(york)=10,
    // c_ab(new,york)=10 → PMI = ln(10·100²/(90·10·10))
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = r6(math.log((10.0 * 100.0 * 100.0) / (90.0 * 10.0 * 10.0)))
    assert(got.head._4 === expected, s"${got.head._4} vs $expected")
    assert(got.head._3 === 10L)
    // every reported pair meets the count floor
    assert(got.forall(_._3 >= 5L))
  }

  test("hashSplit partitions rows into stable disjoint splits") {
    val df = (1L to 300L).map(i => (i, s"document body number $i")).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.hashSplit(df, "text", trainPct = 80, valPct = 10)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 300)
    // sample(pct) must be a subset of the hash range the split uses
    val sampled = graft.llm.TextAnalysis.hashSample(df, "text", 80)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val train = out.filter(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == train)
  }

  test("precomputed-pairs filter reuses one MinHash run — no shingle recomputation") {
    val phrase = "the quick brown fox jumps over the lazy dog and runs far away home " * 3
    val corpus = Seq(
      (1L, phrase + "alpha beta"),
      (6L, phrase + "alpha gamma"),
      (3L, "the and of is with for " * 10)).toDF("doc_id", "text")
    // ONE pair computation, materialized; clusters + filter both consume it
    val pairs = graft.llm.Dedup.minhashLsh(corpus, "doc_id", "text",
      n = 2, k = 8, rowsPerBand = 2, threshold = 0.5, maxDocFreq = None)
      .localCheckpoint()
    val filtered = Corpus.trainingFilterNearDup(corpus, "doc_id", "text",
      minQuality = 0.0, lang = "en", pairs)
    // shingling/signatures explode tokens via Generate; with precomputed
    // pairs the admission plan must contain NONE — proof the MinHash DAG
    // is not re-run per consumer
    val plan = filtered.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate"), s"shingle recomputation in plan:\n$plan")
    val out = filtered.select("doc_id").collect().map(_.getLong(0)).toSet
    val composed = Corpus.trainingFilterNearDup(corpus, "doc_id", "text",
      minQuality = 0.0, lang = "en",
      n = 2, k = 8, rowsPerBand = 2, threshold = 0.5, maxDocFreq = None)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == composed && out.contains(1L) && !out.contains(6L))
  }

  test("decontaminate: shared n-grams flag docs; minHits raises the bar") {
    import graft.llm.Corpus
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),  // 2 shared 8-grams
      (2L, "completely different words nothing shared here at all whatsoever"),
      (3L, "the quick brown fox jumps over the lazy cat instead")) // 1 shared 8-gram
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def run(minHits: Long) =
      Corpus.decontaminate(train, bench, "doc_id", "text", n = 8, minHits = minHits)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val out = run(1L)
    assert(out(1L) == ((2L, false)) && out(3L) == ((1L, false)))
    assert(out(2L) == ((0L, true)))
    // raising minHits admits the single-overlap doc, still rejects the double
    val strict = run(2L)
    assert(strict(1L)._2 == false && strict(3L)._2 == true && strict(2L)._2 == true)
  }

  test("gopherFilter: rejects short, repetitive and stopword-free docs") {
    import graft.llm.Corpus
    val good = ("the quick brown fox jumps over the lazy dog and then walks " +
      "into the nearby forest with some friends of the pack looking for food " +
      "while the evening light fades over the hills and the river keeps " +
      "running toward the sea in a slow and steady rhythm")
    val d = Seq(
      (1L, good),                                   // passes every rule
      (2L, "tiny doc"),                             // too few tokens
      (3L, Array.fill(60)("spam").mkString(" ")),   // top_word_frac = 1.0
      (4L, Array.fill(60)("zxqv").mkString(" ")))   // no stopwords either
      .toDF("doc_id", "text")
    val kept = Corpus.gopherFilter(d, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"kept=$kept")
  }

  test("mixWeightedSample: exact cell routing, default fallback, growth-stable admission") {
    import graft.llm.Corpus
    val weights = Seq(("a", "high", 1000000L), ("a", "low", 0L))
      .toDF("source", "bucket", "weight_ppm")
    val docs = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b",
      if (i % 3 == 0) "high" else "low")).toDF("id", "src", "bkt")
    def run(d: org.apache.spark.sql.DataFrame) =
      Corpus.mixWeightedSample(d, "id", "src", "bkt", weights, defaultPpm = 500000L)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
        .toMap
    val out = run(docs)
    val aHigh = (1L to 200L).filter(i => i % 2 == 0 && i % 3 == 0).toSet
    // saturated cell admits every member; explicit-zero cell admits none
    assert(out.keySet.filter(out(_)._1 == "a").forall(i => aHigh(i)))
    assert(aHigh.subsetOf(out.keySet) && aHigh.forall(out(_)._3 == 1000000L))
    // unlisted (b, *) cells fall to the 500000-ppm default: some but not
    // all admitted, all carrying the default weight
    val b = out.filter(_._2._1 == "b")
    assert(b.nonEmpty && b.size < 100 && b.values.forall(_._3 == 500000L))
    // hash admission is STABLE under corpus growth: the half-corpus run
    // admits exactly the full run's admissions among those ids
    val half = run(docs.filter(col("id") <= 100))
    assert(half == out.filter { case (id, _) => id <= 100 })
  }

  test("temperatureSample: tau=1 keeps proportions, lower tau flattens, nulls excluded") {
    import graft.llm.Corpus
    // skewed mixture: 300 docs of a, 30 of b, 3 of c (+ a null-domain row)
    val docs = ((1L to 300L).map(i => (i, Option("a")))
      ++ (301L to 330L).map(i => (i, Option("b")))
      ++ (331L to 333L).map(i => (i, Option("c")))
      ++ Seq((999L, Option.empty[String]))).toDF("id", "dom")
    def quotas(tau: Double) =
      Corpus.temperatureSample(docs, "id", "dom", tau, nTarget = 100L)
        .groupBy("dom").agg(max("quota").as("q"), count(lit(1)).as("admitted"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val t1 = quotas(1.0)
    // tau=1: natural proportions — floor(100 * c/333), capped at c
    assert(t1("a")._1 == 90L && t1("b")._1 == 9L)
    // admitted count equals the quota exactly (rank filter is exact)
    assert(t1.forall { case (_, (q, adm)) => q == adm })
    val t5 = quotas(0.5)
    // lower tau flattens: the dominant domain gives up share to the tail
    assert(t5("a")._1 < t1("a")._1 && t5("b")._1 > t1("b")._1)
    // never oversample past the domain's own size
    assert(t5("c")._1 <= 3L)
    // the null-domain row is excluded, not admitted under some pseudo-key
    val all = Corpus.temperatureSample(docs, "id", "dom", 0.5, 100L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!all.contains(999L))
    // admission is deterministic: same inputs, same membership
    assert(all == Corpus.temperatureSample(docs, "id", "dom", 0.5, 100L)
      .select("id").collect().map(_.getLong(0)).toSet)
    // invalid tau / nTarget are rejected up front
    intercept[IllegalArgumentException] {
      Corpus.temperatureSample(docs, "id", "dom", 0.0, 100L)
    }
    intercept[IllegalArgumentException] {
      Corpus.temperatureSample(docs, "id", "dom", 0.5, 0L)
    }
  }

  test("batchByLength: buckets by bounds, batches full and in id order, NULL clamps to bucket 0") {
    import graft.llm.Corpus
    val docs = ((1L to 30L).map(i => (i, Option(i * 20L)))
      ++ Seq((98L, Option(-50L)), (99L, Option.empty[Long]))).toDF("id", "n")
    val out = Corpus.batchByLength(docs, "id", "n",
      bucketBounds = Seq(100L, 300L), batchSize = 3, nStreams = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getInt(4), r.getInt(5)))
    assert(out.length == 32)
    // bucket bounds respected; NULL and negative clamp to 0 tokens -> bucket 0
    out.foreach { case (id, n, b, _, _, _) =>
      val want = if (n < 100) 0 else if (n < 300) 1 else 2
      assert(b == want, s"doc $id")
    }
    assert(Seq(98L, 99L).forall(id =>
      out.find(_._1 == id).exists(r => r._2 == 0L && r._3 == 0)))
    // within each (bucket, stream): positions cycle 0..2 in id order and
    // batch_idx is non-decreasing with at most the LAST batch short
    out.groupBy(t => (t._3, t._4)).foreach { case ((b, s), g) =>
      val sorted = g.sortBy(_._1)
      sorted.zipWithIndex.foreach { case ((_, _, _, _, bi, pos), i) =>
        assert(bi == i / 3 && pos == i % 3, s"bucket $b stream $s")
      }
    }
    // growth invariance: a doc's (bucket, stream) never changes when the
    // corpus doubles (batch_idx may — streams fill differently)
    val grown = Corpus.batchByLength(
      ((1L to 60L).map(i => (i, Option(i * 20L)))
        ++ Seq((98L, Option(-50L)), (99L, Option.empty[Long])))
        .toDF("id", "n"), "id", "n", Seq(100L, 300L), 3, 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    out.foreach { case (id, _, b, s, _, _) => assert(grown(id) == ((b, s))) }
    intercept[IllegalArgumentException] {
      Corpus.batchByLength(docs, "id", "n", Seq(300L, 100L), 3)
    }
  }

  test("selectByTokenBudget admits best bins whole, the boundary at the exact rate") {
    import graft.llm.Corpus
    // three score bands, 5 docs x 100 tokens each; budget 700 -> the
    // 0.9-band (500 toks) admits whole, the 0.5-band is the boundary
    // (remainder 200 of 500 -> ppm 400000), the 0.1-band drops.
    // Scores sit mid-bin (x.xx05) so the float bin floor is unambiguous
    val docs = ((1L to 5L).map((_, 0.9005, 100L))
      ++ (11L to 15L).map((_, 0.5005, 100L))
      ++ (21L to 25L).map((_, 0.1005, 100L))).toDF("id", "score", "n")
    val got = Corpus.selectByTokenBudget(docs, "id", "score", "n", budget = 700L)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert((1L to 5L).forall(got.get(_).contains(900)))
    assert((21L to 25L).forall(!got.contains(_)))
    val boundaryWant = (11L to 15L).filter(id =>
      math.floorMod(graft.functions.RollingHash.hashId(id), 1000000L) < 400000L).toSet
    assert(got.keySet.filter(_ >= 11L) == boundaryWant)
    // budget >= total admits everything; zero budget admits nothing
    assert(Corpus.selectByTokenBudget(docs, "id", "score", "n", 100000L).count() == 15)
    assert(Corpus.selectByTokenBudget(docs, "id", "score", "n", 0L).count() == 0)
    // NULL score bins lowest; empty input yields empty output
    val withNull = docs.union(Seq((31L, Option.empty[Double], Option(50L)))
      .toDF("id", "score", "n"))
    assert(Corpus.selectByTokenBudget(withNull, "id", "score", "n", 700L)
      .filter(col("id") === 31L).count() == 0)
    assert(Corpus.selectByTokenBudget(docs.filter(col("id") < 0), "id", "score", "n",
      700L).count() == 0)
  }

  test("decontaminateReport attributes shared n-grams per (eval, train) pair") {
    import graft.llm.Corpus
    val train = Seq(
      (1L, "a b c d e f g h i j"),   // shares exactly one 8-gram with the eval doc
      (2L, "a b c d e f g h x y"),   // the eval doc itself (in train too)
      (3L, "a b c d e f g h x y"),   // verbatim copy of the eval doc
      (4L, "q r s t u v w x y z")).toDF("doc_id", "text")
    val eval = train.filter(col("doc_id") === 2L)
    val rep = Corpus.decontaminateReport(train, eval, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // self-pair carries the eval doc's full distinct-8-gram count (3)
    assert(rep == Map((2L, 1L) -> 1L, (2L, 2L) -> 3L, (2L, 3L) -> 3L))
    // minShared prunes the coincidence-grade single-gram pair
    val pruned = Corpus.decontaminateReport(train, eval, "doc_id", "text",
      n = 8, minShared = 2L).collect().map(r => r.getLong(1)).toSet
    assert(pruned == Set(2L, 3L))
  }

  test("packedSegments tiles every window exactly and conserves doc tokens") {
    import graft.llm.Corpus
    val docs = Seq((1L, Option(5L)), (2L, Option(0L)), (3L, Option.empty[Long]),
      (4L, Option(300L)), (5L, Option(64L)), (6L, Option(64L)), (7L, Option(513L)),
      (8L, Option(-3L)), (9L, Option(1L))).toDF("doc_id", "n")
    val packed = Corpus.packSequences(docs, "doc_id", "n", capacity = 64, nStreams = 2)
    val segs = Corpus.packedSegments(packed, capacity = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // zero-token docs (0 / NULL / negative) appear in no window
    assert(!segs.exists(s => Set(2L, 3L, 8L)(s._3)))
    // per doc, segment lengths conserve the doc's token count
    val packedN = packed.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    segs.groupBy(_._3).foreach { case (doc, ss) =>
      assert(ss.map(_._5).sum == packedN(doc), s"doc $doc")
    }
    // per (stream, window): segments start at 0, tile contiguously with
    // no overlap, and fill to capacity except the stream's last window
    val byWin = segs.groupBy(s => (s._1, s._2))
    byWin.foreach { case ((stream, seq), ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"window ($stream,$seq) does not start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4,
          s"gap/overlap in window ($stream,$seq)")
        case _ =>
      }
      val fill = sorted.map(_._5).sum
      val lastSeq = segs.filter(_._1 == stream).map(_._2).max
      assert(if (seq == lastSeq) fill <= 64L else fill == 64L,
        s"window ($stream,$seq) fill=$fill")
    }
  }

  test("canonicalizeUrl collapses case/port/tracking/fragment noise; urlDedup keeps min id") {
    import graft.llm.Corpus
    val io = Seq(
      "HTTPS://Ex.COM:443/A/b?utm_source=t&x=1#f" -> "https://ex.com/A/b?x=1",
      "http://x.com:80/" -> "http://x.com",
      "https://x.com/a?utm_source=1" -> "https://x.com/a",
      "https://x.com/a?q=1&utm_campaign=z&r=2" -> "https://x.com/a?q=1&r=2",
      "https://x.com/a?gclid=abc&fbclid=def" -> "https://x.com/a",
      // path case is PRESERVED (paths are case-sensitive, hosts are not)
      "HTTP://Host.Org/CaseSensitive/Path" -> "http://host.org/CaseSensitive/Path")
    val out = io.map(_._1).toDF("u")
      .select(Corpus.canonicalizeUrl(col("u"))).collect().map(_.getString(0))
    io.zip(out).foreach { case ((in, want), got) => assert(got == want, in) }
    val dup = Seq(
      (7L, "HTTPS://A.com:443/p?utm_source=x"),
      (3L, "https://a.com/p"),
      (9L, "https://b.com/q")).toDF("doc_id", "url")
    val groups = Corpus.urlDedup(dup, "doc_id", "url").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(groups("https://a.com/p") == ((3L, 2L)))
    assert(groups("https://b.com/q") == ((9L, 1L)))
  }

  test("curriculumBins: quartile cutpoints split 1..8 into even bins; ties go low") {
    import graft.llm.Corpus
    val d = (1L to 8L).map(i => (i, i.toDouble)).toDF("doc_id", "score")
    val bins = Corpus.curriculumBins(d, "doc_id", "score", nBins = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(bins == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2,
      5L -> 3, 6L -> 3, 7L -> 4, 8L -> 4))
    // heavy ties: every equal score lands in ONE deterministic bin
    val tied = (1L to 6L).map(i => (i, 5.0)).toDF("doc_id", "score")
    val tb = Corpus.curriculumBins(tied, "doc_id", "score", nBins = 3)
      .collect().map(_.getInt(2)).toSet
    assert(tb == Set(1), "equal scores must all take the lowest bin")
  }

  test("packSequences: contiguous stream tape, straddle bounds, stable routing") {
    import graft.llm.Corpus
    val d = Seq((1L, Some(100L)), (2L, Some(200L)), (3L, Some(50L)),
      (4L, Option.empty[Long]), (5L, Some(-30L))).toDF("doc_id", "n")
    // one stream -> the tape is fully determined: doc1 [0,100), doc2
    // [100,300) straddles the 256 boundary, doc3 [300,350), doc4 (NULL
    // tokens -> 0) and doc5 (NEGATIVE count -> clamped to 0, the tape
    // must never rewind) sit empty at 350
    val out = Corpus.packSequences(d, "doc_id", "n", capacity = 256, nStreams = 1)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((100L, 0L, 0L, 0L)))
    assert(out(2L) == ((200L, 100L, 0L, 1L)), "doc 2 must straddle seqs 0-1")
    assert(out(3L) == ((50L, 300L, 1L, 1L)))
    assert(out(4L) == ((0L, 350L, 1L, 1L)))
    assert(out(5L) == ((0L, 350L, 1L, 1L)), "negative count must clamp, not rewind")
    // routing is PINNED to the rolling-hash constants (h("1") = 7*131+49
    // = 966, etc., mod 8) — re-running the same plan twice would be
    // vacuously stable, literals actually freeze cross-session behavior
    val streams = Corpus.packSequences(d, "doc_id", "n", capacity = 256, nStreams = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(streams.map(_._1) == Set(1L, 2L, 3L, 4L, 5L))
    assert(streams == Set((1L, 6L), (2L, 7L), (3L, 0L), (4L, 1L), (5L, 2L)),
      s"stream routing changed: $streams")
  }

  test("repetitionStats: repetitive text scores high top-fractions, nulls stay null") {
    import graft.llm.TextAnalysis
    val d = Seq(
      (1L, Some("spam spam spam spam")),              // one word repeated
      (2L, Some("a b c d")),                          // fully diverse
      (3L, Some("go stop go stop go stop")),          // dominant bigram pair
      (4L, Some("solo")),                             // single token: no bigrams
      (5L, Option.empty[String]),                     // null text: null metrics
      (6L, Some("")),                                 // empty: 0 tokens, null metrics
      (7L, Some(" \t ")),                             // whitespace-only: same
      (8L, Some("  pad pad\t")))                      // padding must not add tokens
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = {
      val r = out(id); if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
    }
    assert(f(1L, "top_word_frac").contains(1.0))
    assert(f(1L, "top_bigram_frac").contains(1.0)) // "spam spam" x3 of 3
    assert(f(1L, "distinct_frac").contains(graft.Num.r6(0.25)))
    assert(f(2L, "top_word_frac").contains(0.25) && f(2L, "distinct_frac").contains(1.0))
    // "go stop" appears 3x of 5 bigrams
    assert(f(3L, "top_bigram_frac").contains(graft.Num.r6(3.0 / 5.0)))
    assert(f(4L, "top_word_frac").contains(1.0) && f(4L, "top_bigram_frac").isEmpty)
    assert(f(5L, "top_word_frac").isEmpty && f(5L, "distinct_frac").isEmpty
      && out(5L).isNullAt(out(5L).fieldIndex("n_tokens")))
    // empty / whitespace-only: n_tokens = 0 (text exists, measures to
    // nothing), every metric NULL — NOT top_word_frac = 1.0
    for (id <- Seq(6L, 7L)) {
      assert(out(id).getLong(out(id).fieldIndex("n_tokens")) == 0L, id)
      assert(f(id, "top_word_frac").isEmpty && f(id, "top_bigram_frac").isEmpty
        && f(id, "distinct_frac").isEmpty, id)
    }
    // leading/trailing whitespace contributes no empty-string tokens
    assert(out(8L).getLong(out(8L).fieldIndex("n_tokens")) == 2L)
    assert(f(8L, "top_word_frac").contains(1.0))
  }

  test("stratifiedSample: per-group rates, content-stable, monotone in pct") {
    import graft.llm.TextAnalysis
    val d = (1L to 400L).map(i => (i, if (i % 2 == 0) "g1" else "g2",
      s"document body number $i with words")).toDF("doc_id", "grp", "text")
    def ids(p1: Int, p2: Int) = TextAnalysis.stratifiedSample(d, "grp", "text",
      Map("g1" -> p1, "g2" -> p2), defaultPct = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = ids(30, 80)
    // rates land near the targets per group (hash-uniform, n=200 each)
    val g1 = s1.count(_ % 2 == 0); val g2 = s1.count(_ % 2 == 1)
    assert(g1 > 200 * 0.15 && g1 < 200 * 0.45, s"g1=$g1")
    assert(g2 > 200 * 0.65 && g2 < 200 * 0.95, s"g2=$g2")
    // stability: identical second run
    assert(ids(30, 80) == s1)
    // monotone: a lower pct selects a SUBSET (membership never re-rolls)
    assert(ids(10, 40).subsetOf(s1))
    // unknown group honors defaultPct=0
    val d2 = d.withColumn("grp", lit("other"))
    assert(TextAnalysis.stratifiedSample(d2, "grp", "text",
      Map("g1" -> 100), defaultPct = 0).count() == 0)
  }

  test("domainCap keeps at most N per domain in id order, salted-deterministic") {
    // domain A: 20 docs (hot), domain B: 3 docs
    val rows = (1L to 20L).map(i => (i, "https://a.example.com/p/" + i)) ++
      Seq((100L, "https://b.example.com/x"), (101L, "https://b.example.com/y"),
        (102L, "https://b.example.com/z"))
    val d = rows.toDF("doc_id", "url").repartition(7)
    val out = Corpus.domainCap(d, "doc_id", "url", maxPerDomain = 5)
      .collect().map(r => (r.getAs[String]("domain"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank_in_domain")))
    val byDomain = out.groupBy(_._1)
    // hot domain capped to exactly the 5 LOWEST ids, ranked 1..5
    assert(byDomain("a.example.com").sortBy(_._3).map(_._2).toSeq == (1L to 5L))
    // small domain passes through whole
    assert(byDomain("b.example.com").map(_._2).toSet == Set(100L, 101L, 102L))
  }

  test("domainCap admits unparseable URLs uncapped instead of pooling them") {
    // 8 non-http(s) URLs with cap 2: ALL must be admitted (null domain,
    // null rank) — pooling them into one '' pseudo-domain would drop 6
    val rows = (1L to 8L).map(i => (i, s"ftp://host$i/file")) :+
      ((9L, "https://ok.example.com/x"))
    val out = Corpus.domainCap(rows.toDF("doc_id", "url"), "doc_id", "url",
      maxPerDomain = 2).collect()
    assert(out.length == 9)
    val ftp = out.filter(r => r.getAs[String]("url").startsWith("ftp"))
    assert(ftp.length == 8 && ftp.forall(r => r.isNullAt(r.fieldIndex("domain"))
      && r.isNullAt(r.fieldIndex("rank_in_domain"))))
    val ok = out.find(r => r.getAs[Long]("doc_id") == 9L).get
    assert(ok.getAs[String]("domain") == "ok.example.com"
      && ok.getAs[Int]("rank_in_domain") == 1)
  }

  test("bigramLm: counts, deterministic prune, unigrams") {
    val ref = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val (bg, uni) = Corpus.bigramLm(ref, "text", topM = 2)
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1 -> top2 keeps (a,b) then the
    // (b,a)/(b,c) count tie breaks on b asc -> (b,a)
    assert(bg.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", "b", 3L), ("b", "a", 1L)))
    assert(uni.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq ==
      Seq(("a", 3L), ("b", 3L), ("c", 1L)))
  }

  test("perplexityScore: bigram hit, stupid backoff, OOV — hand-computed") {
    val ref = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val (bg, uni) = Corpus.bigramLm(ref, "text", topM = 2)
    // T = 7 tokens, V = 3 distinct
    val corpus = Seq(
      (10L, "a b"),     // bigram hit: ln(3/3)
      (11L, "b c"),     // pruned bigram -> backoff: ln(.4) + ln((1+1)/10)
      (12L, "a zz"),    // OOV second token: ln(.4) + ln((0+1)/10)
      (13L, "solo"),    // < 2 tokens: no score row
      (14L, null)).toDF("doc_id", "text")
    val out = Corpus.perplexityScore(corpus, "doc_id", "text", bg, uni)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out.keySet == Set(10L, 11L, 12L))
    assert(out(10L) == r6(-math.log(3.0 / 3.0)))
    assert(out(11L) == r6(-(math.log(0.4) + math.log(2.0 / 10.0))))
    assert(out(12L) == r6(-(math.log(0.4) + math.log(1.0 / 10.0))))
  }

  test("perplexityFilter: keeps fluent docs, rejects scoreless docs") {
    val ref = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val (bg, uni) = Corpus.bigramLm(ref, "text", topM = 10)
    val corpus = Seq((10L, "a b a b"), (11L, "zz qq ww"), (12L, "x"))
      .toDF("doc_id", "text")
    val kept = Corpus.perplexityFilter(corpus, "doc_id", "text", bg, uni,
      maxScore = 1.0).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(10L)) // 11 is OOV-heavy (high score), 12 has no score
  }

  test("perplexityScore: model joins broadcast; corpus never sort-merge-joins") {
    val ref = Seq((1L, "a b c")).toDF("doc_id", "text")
    val (bg, uni) = Corpus.bigramLm(ref, "text", topM = 10)
    val corpus = Seq((10L, "a b")).toDF("doc_id", "text")
    val plan = Corpus.perplexityScore(corpus, "doc_id", "text", bg, uni)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probes:\n$plan")
  }

  test("mixWeightedSample rejects duplicate weight rows and out-of-range ppm") {
    val docs = Seq((1L, "s1", "high")).toDF("doc_id", "source", "bucket")
    val dup = Seq(("s1", "high", 500000L), ("s1", "high", 500000L))
      .toDF("source", "bucket", "weight_ppm")
    intercept[IllegalArgumentException] {
      Corpus.mixWeightedSample(docs, "doc_id", "source", "bucket", dup)
    }
    val oob = Seq(("s1", "high", 1500000L)).toDF("source", "bucket", "weight_ppm")
    intercept[IllegalArgumentException] {
      Corpus.mixWeightedSample(docs, "doc_id", "source", "bucket", oob)
    }
  }

  test("stripHtml: subtree content vanishes, tags strip, entities decode") {
    import graft.llm.TextAnalysis
    val d = Seq(
      (1L, "<p>Hello <b>world</b></p><script>var SECRET = 1;</script>"),
      (2L, "<STYLE media=\"all\">body { x }</STYLE>keep &amp; &lt;this&gt;"),
      (3L, "a<!-- hidden note -->b  \n  c"),
      (4L, null)).toDF("doc_id", "text")
    val out = TextAnalysis.stripHtml(d, "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out(1L) == Some("Hello world"), "script BODY must vanish, not just tags")
    assert(out(2L) == Some("keep & <this>"), "uppercase STYLE + attrs + entities")
    assert(out(3L) == Some("a b c"), "comments out, whitespace collapsed")
    assert(out(4L) == None)
  }

  test("stripHtml: escaped entities decode once, never into live markup") {
    import graft.llm.TextAnalysis
    // '&amp;lt;b&amp;gt;' is the literal TEXT '&lt;b&gt;' on the page —
    // decoding &amp; first would double-decode it into a live <b> tag
    val d = Seq((1L, "x &amp;lt;b&amp;gt; y"), (2L, "z &amp;nbsp; w"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stripHtml(d, "text").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "x &lt;b&gt; y")
    assert(out(2L) == "z &nbsp; w")
  }

  test("scriptProfile: block counts, ratios, precedence ties, none/null") {
    import graft.llm.TextAnalysis
    val d = Seq(
      (1L, "привет abc"), // 6 cyrillic vs 3 latin -> cyrillic
      (2L, "αβγ abc"),    // 3-3 tie -> latin (earlier block precedence)
      (3L, "12 !?"),      // no script chars
      (4L, null),
      (5L, "안녕하세요 세계"),  // hangul counts as cjk
      (6L, "café señor")) // accented latin counts as latin
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(d, "text").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("script_pred")).toMap
    assert(out == Map(1L -> "cyrillic", 2L -> "latin", 3L -> "none",
      4L -> "none", 5L -> "cjk", 6L -> "latin"))
    val r1 = TextAnalysis.scriptProfile(d, "text").filter(col("doc_id") === 1L)
      .collect().head
    assert(r1.getAs[Long]("n_cyrillic") == 6L && r1.getAs[Long]("n_latin") == 3L)
    assert(r1.getAs[Double]("ratio_cyrillic") ==
      math.floor(6.0 / 9.0 * 1e6 + 0.5) / 1e6)
  }

  test("trainingFilter: drops dup non-canonical rows and keeps metrics") {
    val d = Seq(
      (1L, "the cat sat on the mat with a hat for the win"),
      (5L, "the cat sat on the mat with a hat for the win"), // exact dup, higher id
      (7L, "zz qq")) // no stopwords -> lang und
      .toDF("doc_id", "text")
    val out = Corpus.trainingFilter(d, "doc_id", "text",
      minQuality = 0.0, lang = "en").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(out == Seq((1L, "en", 2L))) // canonical only; dup count carried
  }

  test("dsirWeights: target-vocab docs outscore off-domain docs; identical text ties; empty text absent") {
    // two disjoint vocabularies: the target slice speaks only
    // alpha/beta/gamma, so raw docs sharing that vocabulary must carry
    // higher importance weights than the uno/dos/tres docs, whose
    // buckets have target count 0 (negative log-ratio)
    val raw = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta gamma alpha beta"),
      (3L, "uno dos tres uno"),
      (4L, "dos tres uno dos"),
      (5L, "alpha beta alpha gamma"), // exact copy of doc 1
      (6L, ""), (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") <= 2)
    val w = Corpus.dsirWeights(raw, target, "doc_id", "text", nBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!w.contains(6L) && !w.contains(7L),
      "featureless docs carry no evidence and must be absent")
    assert(w(1L) === w(5L), "identical text must weigh identically")
    val inDomain = Seq(w(1L), w(2L), w(5L)).min
    val offDomain = Seq(w(3L), w(4L)).max
    assert(inDomain > offDomain,
      s"target-vocab floor $inDomain must exceed off-domain ceiling $offDomain")
  }
}
