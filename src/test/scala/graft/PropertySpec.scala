package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.TextAnalysis
import graft.ops.{Badgerfish, Transform}

/** Property-based invariants over randomized inputs (ScalaCheck driving
  * whole-DataFrame checks; one Spark job per property batch).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(p: Prop): Unit = checkN(30, p)

  /** Reduced-trial variant for properties whose single trial runs a full
    * multi-stage Spark pipeline (localCheckpoint jobs per trial).
    */
  private def checkN(n: Int, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("property: badgerfish round-trip is the identity for any column names") {
    val nameGen = Gen.identifier.suchThat(n => n.nonEmpty && !n.startsWith("@"))
    check(Prop.forAll(Gen.listOfN(3, nameGen).suchThat(_.distinct.size == 3)) { names =>
      val df = Seq((1, "x", 2.5)).toDF(names: _*)
      val rt = Badgerfish.convert(Badgerfish.convert(df, toBfish = true), toBfish = false)
      rt.columns.toSeq == df.columns.toSeq && rt.collect().toSeq == df.collect().toSeq
    })
  }

  test("property: native rolling hash equals HOF fold on arbitrary strings") {
    val strGen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', ',', 'ü', 'ß', '汉')))
      .map(_.mkString)
    check(Prop.forAll(Gen.listOfN(20, strGen)) { strs =>
      val df = strs.toDF("s")
      df.select(TextAnalysis.rollingHash(col("s")).as("a"),
        TextAnalysis.rollingHashHof(col("s")).as("b"))
        .filter(col("a") =!= col("b")).count() == 0
    })
  }

  test("property: scatter to any target path then re-select returns the source") {
    val seg = Gen.identifier.suchThat(_.nonEmpty)
    val pathGen = Gen.listOfN(2, seg).map(_.mkString("."))
    check(Prop.forAll(pathGen, Gen.chooseNum(-1000L, 1000L)) { (path, v) =>
      val df = Seq((v)).toDF("src")
      val out = Transform.scatter(df, Seq("src" -> Seq(path)))
      out.select(col(path)).collect().head.getLong(0) == v
    })
  }

  test("property: incremental minhash equals the batch cross-side subset on random corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val docGen = Gen.listOfN(6, word).map(_.mkString(" "))
    checkN(6, Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val corpus = texts.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }.toDF("id", "text")
      val existing = corpus.filter(col("id") <= 4)
      val fresh = corpus.filter(col("id") > 4)
      val inc = graft.llm.Dedup.minhashLshIncremental(existing, fresh,
        "id", "text", n = 2, k = 8, rowsPerBand = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.llm.Dedup.minhashLsh(corpus, "id", "text",
        n = 2, k = 8, rowsPerBand = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (d1, d2, _) => (d1 <= 4) != (d2 <= 4) }
        .map { case (d1, d2, j) => if (d1 > 4) (d1, d2, j) else (d2, d1, j) }.toSet
      inc == batch
    })
  }

  test("property: simhash combination banding is complete on random corpora") {
    val word = Gen.oneOf((1 to 12).map(i => s"w$i"))
    val docGen = Gen.listOfN(5, word).map(_.mkString(" "))
    // maxHamming=3 with nChunks=5 -> 2-chunk band keys: the multi-chunk
    // path must never lose a pair the brute-force hamming scan finds
    checkN(6, Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      val corpus = texts.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }.toDF("id", "text")
      val banded = graft.llm.Dedup.simhashPairs(corpus, "id", "text",
        maxHamming = 3, nBits = 32, nChunks = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sigs = graft.llm.Dedup.simhash(corpus, "id", "text", nBits = 32)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val brute = (for {
        (d1, h1) <- sigs; (d2, h2) <- sigs
        if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
      } yield (d1, d2)).toSet
      banded == brute
    })
  }

  test("property: URL canonicalization is idempotent over 1000 randomized URLs") {
    import graft.llm.Corpus
    val scheme = Gen.oneOf("http", "https", "HTTP", "HtTps")
    val host = Gen.oneOf("Example.COM", "x.com", "sub.Domain.org", "bücher.de", "A-b.c0.net")
    val port = Gen.oneOf("", ":80", ":443", ":8080", ":8443")
    val seg = Gen.oneOf("a", "B", "päth", "文档", "p-1_2", "UPPER")
    val path = Gen.choose(0, 3).flatMap(Gen.listOfN(_, seg)).map {
      case Nil => ""
      case ss  => ss.mkString("/", "/", "")
    }
    val slash = Gen.oneOf("", "/", "//")
    // adversarial params: tracking keys in every position, empty values,
    // a VALUE containing a tracking pair, an uppercase key the strip
    // rule deliberately ignores
    val kv = Gen.oneOf("utm_source=x", "utm_campaign=", "gclid=123", "fbclid=a_b",
      "q=spark", "id=7", "ref=utm_medium=y", "UTM_TERM=z")
    val query = Gen.choose(0, 4).flatMap(Gen.listOfN(_, kv)).map {
      case Nil => ""
      case ps  => ps.mkString("?", "&", "")
    }
    val frag = Gen.oneOf("", "#f", "#sec/tion?utm_source=1")
    val url = for {
      s <- scheme; h <- host; po <- port; pa <- path; sl <- slash
      q <- query; f <- frag
    } yield s"$s://$h$po$pa$sl$q$f"
    // 25 trials x 40 URLs = 1000 cases, one Spark job per trial
    checkN(25, Prop.forAll(Gen.listOfN(40, url)) { urls =>
      urls.toDF("u")
        .select(Corpus.canonicalizeUrl(col("u")).as("c1"))
        .select(col("c1"), Corpus.canonicalizeUrl(col("c1")).as("c2"))
        .filter(col("c1").isNull || col("c1") =!= col("c2")).count() == 0L
    })
  }

  test("property: winnowing guarantee — docs sharing a w+k-1 token run share a fingerprint") {
    import graft.llm.Dedup
    val word = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val words = Gen.listOfN(30, word)
    val (k, w) = (3, 4)
    // plant a shared run of EXACTLY w+k-1 tokens at random offsets in
    // two otherwise-random docs: the MOSS guarantee promises a shared
    // selected hash for every such pair
    val gen = for {
      run <- Gen.listOfN(w + k - 1, word)
      pre1 <- words; post1 <- words; pre2 <- words; post2 <- words
    } yield (
      (pre1 ++ run ++ post1).mkString(" "),
      (pre2 ++ run ++ post2).mkString(" "))
    checkN(15, Prop.forAll(Gen.listOfN(4, gen)) { docs =>
      val df = docs.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq((i * 2L, a), (i * 2L + 1, b)) }.toDF("doc_id", "text")
      val fp = Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
        .select(col("doc"), col("h")).collect()
        .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
      docs.indices.forall { i =>
        (fp.getOrElse(i * 2L, Set.empty) intersect
          fp.getOrElse(i * 2L + 1, Set.empty)).nonEmpty
      }
    })
  }

  test("property: stripHtml is idempotent and never leaves tags or entities") {
    // domain note: atoms avoid ESCAPED entities ('&amp;lt;') — entity
    // decoding is one-shot by design (a decoded '&lt;' re-decodes on a
    // second pass), so idempotence holds for raw crawl text, not for
    // already-escaped markup; that behavior is pinned by the
    // escaped-entities unit test in CorpusSpec instead
    val text = Gen.listOfN(6,
      Gen.oneOf("hello", "world", "a&b", "x  y", "1<2", "end.")).map(_.mkString(" "))
    val html = for {
      t1 <- text; t2 <- text; attr <- Gen.alphaLowerStr
    } yield s"""<div class="$attr"><script>junk $t1</script><p>$t1</p>""" +
      s"""<!-- $t2 --><b>$t2</b>&nbsp;&amp;</div>"""
    checkN(20, Prop.forAll(Gen.listOfN(10, html)) { rows =>
      val df = rows.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        .toDF("doc_id", "text")
      val once = graft.llm.TextAnalysis.stripHtml(df, "text", outCol = "c1")
      val twice = graft.llm.TextAnalysis.stripHtml(once, "c1", outCol = "c2")
      // idempotent modulo the entity layer: stripping may SURFACE
      // literal '<'/'&' from decoded entities or bare text (correct —
      // they are content), so assert re-stripping is stable and that
      // no TAG survives round one
      twice.filter(col("c1") =!= col("c2")
        || col("c1").rlike("<[a-zA-Z/][^>]*>")
        || col("c1").contains("&nbsp;")).count() == 0L
    })
  }

  test("property: r6 is idempotent and within half-ulp-of-1e-6 of the input") {
    check(Prop.forAll(Gen.chooseNum(-1e6, 1e6)) { x =>
      val Seq(once, twice) = Seq(lit(x)).map(c =>
        (Num.r6(c), Num.r6(Num.r6(c)))).flatMap { case (a, b) => Seq(a, b) }
      val r = spark.range(1).select(once.as("a"), twice.as("b")).collect().head
      val a = r.getDouble(0); val b = r.getDouble(1)
      a == b && math.abs(a - x) <= 5.0000001e-7
    })
  }

  test("property: packSequences tape never rewinds, routing is growth-invariant, NULL/negative occupy zero tape") {
    // counts mix NULLs, negatives, zeros, window-sized and multi-window
    // values — the full clamp/straddle surface
    val countGen = Gen.frequency(
      2 -> Gen.const(Option.empty[Long]),
      2 -> Gen.chooseNum(-500L, -1L).map(Option(_)),
      1 -> Gen.const(Option(0L)),
      5 -> Gen.chooseNum(1L, 700L).map(Option(_)))
    val corpusGen = Gen.chooseNum(5, 40).flatMap(n =>
      Gen.listOfN(n, countGen).map(_.zipWithIndex.map { case (c, i) => (i.toLong, c) }))
    checkN(15, Prop.forAll(corpusGen) { rows =>
      val df = rows.toDF("doc_id", "n")
      val out = graft.llm.Corpus.packSequences(df, "doc_id", "n", capacity = 64, nStreams = 4)
        .select("doc", "n_toks", "stream", "start_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val byStream = out.groupBy(_._3).values
      // (a) per stream in id order the tape is contiguous and never
      // rewinds: each start_offset = previous start + previous n_toks,
      // so (c) a clamped NULL/negative doc (n_toks=0) occupies zero tape
      val contiguous = byStream.forall { docs =>
        docs.sortBy(_._1).foldLeft((true, 0L)) { case ((ok, pos), (_, n, _, off)) =>
          (ok && off == pos && n >= 0, pos + n)
        }._1
      }
      // (b) routing invariance: packing only the first half of the
      // corpus assigns every shared doc the same stream
      val half = rows.take(rows.size / 2)
      val routed = graft.llm.Corpus.packSequences(
          half.toDF("doc_id", "n"), "doc_id", "n", capacity = 64, nStreams = 4)
        .select("doc", "stream").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val full = out.map(r => (r._1, r._3)).toMap
      contiguous && routed.forall { case (d, s) => full(d) == s }
    })
  }

  test("property: minhashLsh equals a scalar exact-tuple-banding reference on random corpora") {
    // proves the 64-bit band-key representation cannot change the
    // operator's OUTPUT: the reference below bands by the exact minhash
    // tuple (no hashing anywhere) and verifies exact Jaccard over the
    // exact shingle-hash sets, entirely in driver-side Scala
    import org.apache.spark.unsafe.types.UTF8String
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val (k, rpb, thr) = (8, 2, 0.3)
    def shingleHashes(text: String): Set[Long] =
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.size == 3)
        .map(g => graft.functions.RollingHash.hash(
          UTF8String.fromString(g.mkString(" ")), 131L)).toSet
    checkN(6, Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expected = (for {
        (id1, t1) <- docs; (id2, t2) <- docs if id1 < id2
        s1 = shingleHashes(t1); s2 = shingleHashes(t2)
        if s1.nonEmpty && s2.nonEmpty
        sig1 = (0 until k).map(i => s1.map(h =>
          (graft.llm.Dedup.mixConstant(2L * i) * h + graft.llm.Dedup.mixConstant(2L * i + 1))
            % graft.llm.Dedup.MinhashP).min)
        sig2 = (0 until k).map(i => s2.map(h =>
          (graft.llm.Dedup.mixConstant(2L * i) * h + graft.llm.Dedup.mixConstant(2L * i + 1))
            % graft.llm.Dedup.MinhashP).min)
        if (0 until k / rpb).exists(b =>
          sig1.slice(b * rpb, (b + 1) * rpb) == sig2.slice(b * rpb, (b + 1) * rpb))
        j = s1.intersect(s2).size.toDouble / s1.union(s2).size.toDouble
        if graft.Num.r6(j) >= thr
      } yield (id1, id2)).toSet
      val got = graft.llm.Dedup.minhashLsh(docs.toDF("doc_id", "text"),
          "doc_id", "text", n = 3, k = k, rowsPerBand = rpb, threshold = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got == expected
    })
  }

  test("property: temperatureSample quotas respect the budget, the cap, and tau monotonicity") {
    // random skewed mixtures: 2-5 domains with counts spanning two
    // orders of magnitude
    val domGen = Gen.chooseNum(2, 5).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(1, 120)))
    checkN(8, Prop.forAll(domGen, Gen.chooseNum(5L, 80L)) { (counts, nTarget) =>
      val docs = counts.zipWithIndex.flatMap { case (c, d) =>
        (0 until c).map(i => (d * 1000L + i, s"d$d"))
      }.toDF("id", "dom")
      def quotasAt(tau: Double): Map[String, Long] =
        graft.llm.Corpus.temperatureSample(docs, "id", "dom", tau, nTarget)
          .groupBy("dom").agg(max("quota").as("q"), count(lit(1)).as("adm"))
          .collect().map { r =>
            // admitted rows per domain always equal the domain's quota
            assert(r.getLong(1) == r.getLong(2), "admitted != quota")
            r.getString(0) -> r.getLong(1)
          }.toMap
      val t1 = quotasAt(1.0)
      val t4 = quotasAt(0.4)
      val byDom = counts.zipWithIndex.map { case (c, d) => s"d$d" -> c.toLong }.toMap
      // (a) never oversample a domain past its own size; (b) the floor
      // keeps the total within the budget (+1 per domain for the r6
      // half-ulp rounding of each share)
      val capped = (t1 ++ t4).forall { case (d, q) => q <= byDom(d) }
      val budget = t1.values.sum <= nTarget + t1.size && t4.values.sum <= nTarget + t4.size
      // (c) flattening: under the smaller tau, the (strictly) largest
      // domain never gains UNCAPPED share and the smallest never loses
      // quota — skip when ties make "largest" ambiguous
      val maxC = byDom.values.max
      val minC = byDom.values.min
      val mono =
        if (byDom.values.count(_ == maxC) > 1 || byDom.values.count(_ == minC) > 1) true
        else {
          val big = byDom.find(_._2 == maxC).get._1
          val small = byDom.find(_._2 == minC).get._1
          t4.getOrElse(big, 0L) <= t1.getOrElse(big, 0L) ||
            t1.getOrElse(big, 0L) == byDom(big) // cap already binding at tau=1
        } && {
          val small = byDom.find(_._2 == minC).get._1
          t4.getOrElse(small, 0L) >= t1.getOrElse(small, 0L) ||
            t4.getOrElse(small, 0L) == byDom(small)
        }
      capped && budget && mono
    })
  }

  test("property: selectByTokenBudget meets the budget within boundary-bin granularity, is monotone in budget, and bins NULL scores at 0") {
    // scores mix NULLs and the full [0,1] range (few distinct values so
    // bins collide and the boundary bin is routinely non-trivial);
    // counts mix NULLs, negatives, zeros and positives — the clamp
    // surface
    val scoreGen = Gen.frequency(
      2 -> Gen.const(Option.empty[Double]),
      8 -> Gen.chooseNum(0, 10).map(i => Option(i / 10.0)))
    val countGen = Gen.frequency(
      1 -> Gen.const(Option.empty[Long]),
      1 -> Gen.chooseNum(-100L, -1L).map(Option(_)),
      1 -> Gen.const(Option(0L)),
      7 -> Gen.chooseNum(1L, 300L).map(Option(_)))
    val corpusGen = Gen.chooseNum(10, 50).flatMap(n =>
      Gen.listOfN(n, Gen.zip(scoreGen, countGen)).map(_.zipWithIndex.map {
        case ((sc, c), i) => (i.toLong, sc, c) }))
    checkN(12, Prop.forAll(corpusGen, Gen.chooseNum(0L, 4000L)) { (rows, budget) =>
      val df = rows.toDF("doc_id", "score", "n")
      val nBins = 10
      def admitted(b: Long) = graft.llm.Corpus
        .selectByTokenBudget(df, "doc_id", "score", "n", b, nBins)
        .select("doc_id", "score", "n_toks", "bin")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          r.getLong(2), r.getInt(3)))
      val out = admitted(budget)
      val clamped = rows.map { case (_, _, c) => math.max(c.getOrElse(0L), 0L) }
      val total = clamped.sum
      // per-bin token mass, the bound's granularity term: one boundary
      // bin may overshoot by at most its own mass (hash admission is
      // exact only in expectation)
      val binOf = rows.map { case (_, sc, _) =>
        math.min(nBins - 1, math.max(0L, math.floor(sc.getOrElse(0.0) * nBins).toLong)).toInt }
      val binToks = binOf.zip(clamped).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val admittedToks = out.map(_._3).sum
      // (a) admitted tokens <= budget + the largest single bin's mass
      val withinBudget = admittedToks <= budget + binToks.values.foldLeft(0L)(math.max)
      // (b) monotone: a larger budget admits a superset of doc ids
      val bigger = admitted(budget + 500L).map(_._1).toSet
      val monotone = out.map(_._1).toSet.subsetOf(bigger)
      // (c) budget >= total admits every doc
      val all = admitted(total)
      val admitsAll = all.length == rows.length
      // (d) NULL scores bin at 0; n_toks is the clamped count
      val nullBin = out.forall { case (_, sc, _, b) => sc.isDefined || b == 0 }
      val clampOk = all.map(r => r._1 -> r._3).toMap == rows.map {
        case (id, _, c) => id -> math.max(c.getOrElse(0L), 0L) }.toMap
      withinBudget && monotone && admitsAll && nullBin && clampOk
    })
  }

  // random directed multigraphs over <= 8 nodes: self-loops, parallel
  // edges, pure-sink (every dst dangling) and disconnected shapes all
  // occur naturally at this density
  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(1, 12).flatMap(k => Gen.listOfN(k,
      for { s <- Gen.chooseNum(1L, 8L); d <- Gen.chooseNum(1L, 8L) } yield (s, d)))

  test("property: PageRank conserves rank mass on arbitrary graphs (dangling, self-loop, multi-edge)") {
    checkN(6, Prop.forAll(edgeGen) { edges =>
      val got = graft.ops.Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters = 3)
        .collect()
      // each round's r6 snap moves each node <= 0.5e-6; 3 rounds
      val tol = got.length * 3 * 5e-7 + 1e-9
      got.isEmpty || math.abs(got.map(_.getDouble(1)).sum - 1.0d) <= tol
    })
  }

  test("property: bucketed PageRank twin is bit-identical to plain on random graphs") {
    checkN(4, Prop.forAll(edgeGen) { edges =>
      val df = edges.toDF("s", "d")
      val tbl = f"pr_prop_${math.abs(edges.hashCode)}%x"
      val deg = s"${tbl}_deg"
      Seq(tbl, deg).foreach(graft.ops.Bucketing.dropManaged(spark, _))
      graft.ops.Graph.ingestEdges(df, "s", "d", tbl, deg, nBuckets = 4)
      try {
        val plain = graft.ops.Graph.pageRank(df, "s", "d", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val buck = graft.ops.Graph.pageRankIngested(spark, tbl, deg, iters = 3)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        plain == buck
      } finally Seq(tbl, deg).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    })
  }

  test("property: label propagation is input-order invariant and labels stay in the node set") {
    checkN(6, Prop.forAll(edgeGen, Gen.chooseNum(1, 3)) { (edges, iters) =>
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSet
      val a = graft.ops.Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // same edges, reversed row order AND different physical layout:
      // sync + min-tie voting must not care how the input arrives
      val b = graft.ops.Graph.labelPropagation(
        edges.reverse.toDF("s", "d").repartition(5), "s", "d", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      a == b && a.keySet == nodes && a.values.forall(nodes.contains)
    })
  }

  test("property: graft_nfc matches java.text.Normalizer, idempotent, ASCII zero-copy") {
    import org.apache.spark.unsafe.types.UTF8String
    val charGen = Gen.frequency(
      (4, Gen.alphaNumChar),
      (2, Gen.oneOf('e', 'a', 'o', 'A')),
      // combining marks: acute, grave, ring, dot-below
      (2, Gen.oneOf('́', '̀', '̊', '̣')),
      // precomposed + jamo + CJK
      (1, Gen.oneOf('é', 'Å', 'ᄀ', 'ᅡ', '가', '汉')))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    check(Prop.forAll(Gen.listOfN(20, strGen)) { strs =>
      // codegen'd column evaluation vs the JDK reference, plus
      // idempotence of the column path itself
      val df = strs.toDF("s")
      val got = df.select(
        graft.functions.NfcNormalize.nfc(col("s")).as("n1"),
        graft.functions.NfcNormalize.nfc(
          graft.functions.NfcNormalize.nfc(col("s"))).as("n2"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val ref = strs.map(s =>
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
      got.map(_._1).toSeq == ref && got.forall { case (a, b) => a == b }
    })
    // ASCII fast path returns the input buffer itself — no allocation
    val ascii = UTF8String.fromString("plain ascii only")
    assert(graft.functions.NfcNormalize.nfc(ascii) eq ascii)
  }

  test("property: CDC apply equals an in-memory latest-wins fold for random logs") {
    // keys 0..6, ops U/D, unique seqs — the reference replays the log
    // sorted by seq with plain Map updates
    val changeGen = for {
      k <- Gen.chooseNum(0L, 6L)
      op <- Gen.oneOf("U", "D")
      v <- Gen.identifier.map(_.take(6))
    } yield (k, op, v)
    checkN(12, Prop.forAll(
      Gen.listOfN(5, Gen.chooseNum(0L, 6L)),
      Gen.listOfN(12, changeGen)) { (baseKeys, changes) =>
      val base = baseKeys.distinct.map(k => (k, s"base$k"))
      val log = changes.zipWithIndex.map { case ((k, op, v), i) =>
        (k, i.toLong, op, if (op == "D") null else v)
      }
      val got = graft.ops.Load.applyChangeLog(
          base.toDF("k", "v"), log.toDF("k", "seq", "op", "v"), "k", "seq", "op")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val ref = log.sortBy(_._2).foldLeft(base.toMap) {
        case (acc, (k, _, "D", _)) => acc - k
        case (acc, (k, _, _, v))   => acc + (k -> v)
      }
      got == ref
    })
  }

  test("property: decayedSum is input-order invariant; later timestamps never weigh less") {
    val rowGen = for {
      v <- Gen.chooseNum(-500.0, 500.0)
      day <- Gen.chooseNum(0, 120)
    } yield (v, day)
    checkN(10, Prop.forAll(Gen.nonEmptyListOf(rowGen),
      Gen.chooseNum(0, 120), Gen.chooseNum(0, 120)) { (rows, d1, d2) =>
      def run(rs: List[(Double, Int)]): Double = {
        val df = rs.map { case (v, d) =>
          ("g", v, java.sql.Timestamp.valueOf(
            java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(d.toLong)))
        }.toDF("g", "value", "ts")
        graft.streaming.EventStream.decayedSum(df, "ts", "value", Seq("g"), 7)
          .collect().head.getDouble(1)
      }
      // exact-integer accumulation ⇒ permutation cannot change the sum
      val orderInv = run(rows) == run(scala.util.Random.shuffle(rows))
      // recency monotonicity: with the reference date pinned by a
      // zero-value day-120 anchor, the SAME positive event weighs at
      // least as much at a more recent day (its dyadic weight can only
      // grow; every other event's k is unchanged)
      val anchor = (0.0, 120)
      val lo = math.min(d1, d2); val hi = math.max(d1, d2)
      val mono = run(anchor :: (1.0, hi) :: rows) >= run(anchor :: (1.0, lo) :: rows)
      orderInv && mono
    })
  }

  test("property: PPJoin filters only ever shrink the candidate set") {
    val docGen = for {
      n <- Gen.chooseNum(2, 12)
      toks <- Gen.listOfN(n, Gen.oneOf((0 until 10).map(i => s"w$i")))
    } yield toks.mkString(" ")
    checkN(8, Prop.forAll(Gen.listOfN(12, docGen), Gen.oneOf(0.5, 0.7, 0.9)) { (texts, t) =>
      val df = texts.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("doc_id", "text")
      def cands(pp: Boolean) =
        graft.llm.Dedup.prefixFilterCandidates(df, "doc_id", "text", t, pp)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val off = cands(false)
      val on = cands(true)
      // pure pruning: a subset, and never below the verified output set
      val out = graft.llm.Dedup.prefixFilterJoin(df, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      on.subsetOf(off) && out.subsetOf(on)
    })
  }

  test("property: histogram shard-merge equals one-shot; mass conserved; quantiles monotone") {
    val valGen = Gen.chooseNum(-50.0, 1050.0) // includes out-of-range clamps
    checkN(12, Prop.forAll(Gen.nonEmptyListOf(valGen)) { vals =>
      val df = vals.map(("g", _)).toDF("g", "v")
      val one = graft.ops.Sketch.histogram(df, "v", Seq("g"), 0.0, 1000.0, 16)
      val shards = Seq(0, 1, 2).map(p =>
        graft.ops.Sketch.histogram(df.filter(pmod(hash(col("v")), lit(3)) === p),
          "v", Seq("g"), 0.0, 1000.0, 16))
      val merged = graft.ops.Sketch.histMerge(shards, Seq("g"))
      val a = one.collect().map(_.toSeq).toSet
      val b = merged.collect().map(_.toSeq).toSet
      val mass = merged.agg(sum(col("cnt"))).first().getLong(0)
      val qs = graft.ops.Sketch.histQuantiles(merged, Seq("g"),
        0.0, 1000.0, 16, Seq(0.25, 0.5, 0.75, 1.0))
        .collect().map(r => r.getDouble(1) -> r.getDouble(2)).sortBy(_._1).map(_._2)
      a == b && mass == vals.size.toLong && qs.toSeq == qs.sorted.toSeq
    })
  }
}
