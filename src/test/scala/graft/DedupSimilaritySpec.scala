package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity, TextAnalysis, Multimodal}

/** Unit checks for the LLM-pipeline operators on tiny inline corpora. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shingles: docs shorter than n yield empty sets, no runtime error") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("id", "text")
    val sh = Dedup.docShingles(df, "id", "text", n = 3)
    val byDoc = sh.groupBy("doc").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!byDoc.contains(1L)) // too short -> no shingles
    assert(byDoc(2L) == 2L)     // "a b c", "b c d"
  }

  test("exact dedup groups identical text, keeps min id") {
    val df = Seq((5L, "same"), (2L, "same"), (9L, "other")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(("same", 2L, 2L), ("other", 9L, 1L)))
  }

  test("exactByFingerprint agrees with text-group dedup, incl. null texts") {
    val df = Seq((5L, Some("same")), (2L, Some("same")), (9L, Some("other")),
      (1L, Some("third")), (7L, None), (3L, None))
      .toDF("id", "text")
    val out = Dedup.exactByFingerprint(df, "id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // null texts form ONE group (groupBy-text semantics), keeper = min id
    assert(out == Set((5L, 2L, 2L), (2L, 2L, 2L), (9L, 9L, 1L), (1L, 1L, 1L),
      (7L, 3L, 2L), (3L, 3L, 2L)))
  }

  test("lineDedup: global first occurrence, within-doc repeats, null passthrough") {
    val d = Seq(
      (1L, Some("nav\nunique-a\nnav")),   // within-doc repeat: nav kept once
      (2L, Some("nav\nunique-b")),        // nav first seen in doc 1
      (3L, Some("nav")),                  // every line already seen -> doc dropped
      (4L, Option.empty[String]))         // null text: passthrough, 0 lines
      .toDF("doc_id", "text")
    def run(f: => org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
    val out = run(Dedup.lineDedup(d, "doc_id", "text"))
    assert(out(1L) == ((Some("nav\nunique-a"), 2L)))
    assert(out(2L) == ((Some("unique-b"), 1L)))
    assert(!out.contains(3L))
    assert(out(4L) == ((None, 0L)))
    // hash-collision safety: a CONSTANT line hash rams every line into a
    // single hash group; true-equality verification inside groups must
    // still produce the identical result — no distinct line ever dropped
    val forced = run(Dedup.lineDedupImpl(d, "doc_id", "text", "\n", _ => lit(0L)))
    assert(forced == out)
  }

  test("exactByFingerprint does NOT merge a genuine hash collision") {
    // these two strings really collide under the rolling hash
    // (h = 822899051 for both) — found by offline search; the verify
    // stage must separate them by true text equality
    val a = "mgepuaguis"
    val b = "vbncrelerf"
    val hashes = Seq(a, b).toDF("text")
      .select(graft.llm.TextAnalysis.rollingHash(col("text"))).collect()
      .map(_.getLong(0))
    assert(hashes(0) == hashes(1), "fixture must be a real collision")
    val out = Dedup.exactByFingerprint(
      Seq((1L, a), (2L, b), (3L, a)).toDF("id", "text"), "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 1 and 3 share text -> one group; 2 collides on hash but stays alone
    assert(out == Set((1L, 1L, 2L), (3L, 1L, 2L), (2L, 2L, 1L)))
  }

  test("string-shingle and hashed-shingle signatures agree") {
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "pack my box with jugs"))
      .toDF("id", "text")
    val a = Dedup.minhashSignaturesWide(Dedup.docShingles(df, "id", "text", 2), 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = Dedup.minhashSignaturesWideHashed(
      Dedup.docShinglesHashed(df, "id", "text", 2), 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a == b)
  }

  test("ngramJaccard computes the exact set Jaccard on a known fixture") {
    // bigrams: A={a b, b c, c d}, B={b c, c d, d e} -> |inter|=2, |union|=4
    val df = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "q r s t"))
      .toDF("id", "text")
    val out = Dedup.ngramJaccard(df, "id", "text", n = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((1L, 2L, 0.5)))
  }

  test("ngramJaccard maxDocFreq computes filtered Jaccard (capped shingles dropped)") {
    // "x y" appears in all three docs; cap 2 removes it everywhere, so
    // docs 1/2 share nothing else and produce NO pair
    val df = Seq((1L, "x y p q"), (2L, "x y r s"), (3L, "x y t u"))
      .toDF("id", "text")
    val exact = Dedup.ngramJaccard(df, "id", "text", n = 2, threshold = 0.1)
    val filtered = Dedup.ngramJaccard(df, "id", "text", n = 2, threshold = 0.1,
      maxDocFreq = Some(2))
    assert(exact.count() == 3)    // every pair shares "x y"
    assert(filtered.count() == 0) // the hot shingle is gone
  }

  test("modality dispatch routes each row to its decoder in one pass") {
    val df = Seq((0L, "ab"), (1L, "xyz"), (2L, "pq")).toDF("doc_id", "text")
    val out = Multimodal.dispatchFeatures(spark,
      Multimodal.attachMixedPayload(df, "doc_id", "text")).collect()
      .map(f => f.id -> ((f.modality, f.feature))).toMap
    assert(out(0L) == (("image", ('a'.toInt * 'b'.toInt).toDouble)))
    assert(out(1L)._1 == "audio")
    assert(out(1L)._2 == graft.Num.r6(('x'.toInt + 'y'.toInt + 'z'.toInt) / 3.0))
    assert(out(2L) == (("video", 2.0)))
  }

  test("real PNG/BMP payloads decode through ImageIO; mislabeled text falls back") {
    import Multimodal._
    // id=7 -> w=1, h=3, g=7: pixel (0,0) = (7,14,21) [UNEQUAL channels —
    // a blue-only mean would read 21+7+7, not (7+14+21)/3 + ...], two
    // gray-7 pixels -> 3-channel mean (42 + 21 + 21) / 9
    val png = encodeImage(syntheticImage(7L), "png")
    val bmp = encodeImage(syntheticImage(7L), "bmp")
    assert(png.length > 0 && bmp.length > 0)
    for ((payload, fmt) <- Seq((png, "image/png"), (bmp, "image/bmp"))) {
      val f = decodeMedia(Iterator(MediaRow(7L, payload, fmt))).next()
      assert(f.width == 1 && f.height == 3, fmt)
      assert(f.mean_byte == graft.Num.r6(84.0 / 9.0), fmt)
      assert(f.n_bytes == payload.length.toLong)
    }
    // a text payload mislabeled image/* must hit the fake path, not
    // crash: "BM…" passes the BMP magic sniff but ImageIO returns null
    // (not a real bitmap) -> null-fallback; a plain text format skips
    // the decode attempt entirely
    val text = "BMnot really a bitmap".getBytes("UTF-8")
    for (fmt <- Seq("image/png", "text/plain")) {
      val fake = decodeMedia(Iterator(MediaRow(1L, text, fmt))).next()
      assert(fake.width == 'B'.toInt && fake.height == 'M'.toInt, fmt)
    }
    // distributed round-trip: encode in executors, decode in executors
    val spark2 = spark
    import spark2.implicits._
    val df = attachPngPayload(spark, (0L until 20L).toDF("doc_id"), "doc_id")
    val out = extractFeatures(spark, df).collect().map(f => f.id -> f).toMap
    assert(out.size == 20)
    for (id <- 0L until 20L) {
      assert(out(id).width == (1 + id % 7).toInt && out(id).height == (1 + id % 5).toInt)
      assert(out(id).n_bytes > 0)
    }
  }

  test("real JPEG payloads decode through ImageIO with exact dims, bounded raster error") {
    import Multimodal._
    val jpg = encodeImage(syntheticImage(7L), "jpg")
    assert(jpg.length > 2 && (jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8)
    val f = decodeMedia(Iterator(MediaRow(7L, jpg, "image/jpeg"))).next()
    // dims are header-exact; the raster is lossy but a near-uniform
    // 1x3 image must land close to the closed-form mean (84/9 ≈ 9.33) —
    // the FAKE path would read w=255, h=216 from the FFD8 magic instead
    assert(f.width == 1 && f.height == 3)
    assert(math.abs(f.mean_byte - 84.0 / 9.0) < 8.0, s"lossy mean too far: ${f.mean_byte}")
    // distributed round-trip over executors
    val spark2 = spark
    import spark2.implicits._
    val out = extractFeatures(spark,
      attachJpegPayload(spark, (0L until 20L).toDF("doc_id"), "doc_id"))
      .collect().map(x => x.id -> x).toMap
    assert(out.size == 20)
    for (id <- 0L until 20L) {
      assert(out(id).width == (1 + id % 7).toInt && out(id).height == (1 + id % 5).toInt)
      assert(out(id).n_bytes > 0)
    }
  }

  test("real GIF payloads decode through ImageIO losslessly (palette holds the two fixture colors)") {
    import Multimodal._
    val gif = encodeImage(syntheticImage(9L), "gif")
    assert(gif.length > 6 && gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F' && gif(3) == '8')
    // id=9: w=3, h=5, gray g=9, pixel(0,0)=(9,18,27) ->
    // mean = (3*9*14 + 54) / 45 = 9.6 EXACT — GIF is palette-indexed
    // and both fixture colors fit the palette, so unlike JPEG the
    // raster round-trips byte-exact; the FAKE path would read the
    // 'GI' magic as w=71, h=73
    val f = decodeMedia(Iterator(MediaRow(9L, gif, "image/gif"))).next()
    assert(f.width == 3 && f.height == 5)
    assert(f.mean_byte == graft.Num.r6((3.0 * 9 * 14 + 54) / 45.0),
      s"GIF raster must round-trip exactly, got ${f.mean_byte}")
    // distributed round-trip over executors
    val spark2 = spark
    import spark2.implicits._
    val out = extractFeatures(spark,
      attachGifPayload(spark, (0L until 20L).toDF("doc_id"), "doc_id"))
      .collect().map(x => x.id -> x).toMap
    assert(out.size == 20)
    for (id <- 0L until 20L) {
      assert(out(id).width == (1 + id % 7).toInt && out(id).height == (1 + id % 5).toInt)
      assert(out(id).n_bytes > 0)
    }
  }

  test("real WAV payloads decode through javax.sound.sampled; non-RIFF falls back") {
    import Multimodal._
    // id=9: sr=8000, ch=2, nf=17, frame 0 = (9*53)%101-50 = 23, the
    // rest (9*37)%101-50 = -20 -> mean_abs = (23 + 16*20)/17; the two
    // channels repeat each frame value so the factor cancels exactly
    val wav = syntheticWav(9L)
    assert(isWav(wav) && wav.length > 44, "writer must emit a RIFF/WAVE container")
    val f = decodeAudio(Iterator(MediaRow(9L, wav, "audio/wav"))).next()
    assert(f.sample_rate == 8000 && f.channels == 2 && f.n_frames == 17L)
    assert(f.duration_sec == graft.Num.r6(17.0 / 8000.0))
    assert(f.mean_abs == graft.Num.r6((23.0 + 16 * 20) / 17.0),
      s"PCM must round-trip exactly, got ${f.mean_abs}")
    // a text payload labeled audio/wav lacks the RIFF magic -> fake
    // (sample_rate = 0, byte mean); a corrupt RIFF header reaches the
    // codec, throws, and falls back instead of killing the task
    val text = "just some text".getBytes("UTF-8")
    assert(decodeAudio(Iterator(MediaRow(1L, text, "audio/wav"))).next().sample_rate == 0)
    val corrupt = ("RIFF    WAVEgarbage past the magic").getBytes("ISO-8859-1")
    assert(decodeAudio(Iterator(MediaRow(2L, corrupt, "audio/wav"))).next().sample_rate == 0)
    // distributed round-trip: encode in executors, decode in executors;
    // n_bytes (writer-defined, excluded from the hash gate) must exceed
    // the 44-byte canonical header
    val spark2 = spark
    import spark2.implicits._
    val df = attachWavPayload(spark, (0L until 20L).toDF("doc_id"), "doc_id")
    assert(df.select(org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("meta.n_bytes")))
      .collect().head.getLong(0) > 44L)
    val out = extractAudioFeatures(spark, df).collect().map(x => x.id -> x).toMap
    assert(out.size == 20)
    for (id <- 0L until 20L) {
      assert(out(id).sample_rate == (8000 * (1 + id % 3)).toInt, s"id=$id")
      assert(out(id).channels == (1 + id % 2).toInt && out(id).n_frames == 8 + id % 25)
    }
  }

  test("real AVI/DIB payloads parse through the RIFF walker; non-AVI falls back") {
    import Multimodal._
    // id=9: w=3, h=5, nf=2; frame 0 gray 9 / frame 1 gray 40, pixel
    // (0,0) of EACH frame colored (9,18,27) -> byte sum per frame
    // 3*g*(wh-1) + 54; a frame-0-only decode would miss frame 1's mean
    val avi = syntheticAvi(9L)
    assert(isAvi(avi), "writer must emit a RIFF/AVI container")
    val f = decodeVideo(Iterator(MediaRow(9L, avi, "video/avi"))).next()
    assert(f.width == 3 && f.height == 5 && f.n_frames == 2L)
    val expect = (3.0 * (9 + 40) * 14 + 2 * 54) / (3.0 * 15 * 2)
    assert(f.mean_byte == graft.Num.r6(expect),
      s"DIB raster must round-trip exactly, got ${f.mean_byte}")
    // a text payload labeled video/* lacks the RIFF magic -> fake; a
    // truncated AVI (header intact, frames cut) structurally fails the
    // walk and falls back instead of returning wrong partial features
    val text = "not a movie".getBytes("UTF-8")
    assert(decodeVideo(Iterator(MediaRow(1L, text, "video/mp4"))).next().width == 'n'.toInt)
    val truncated = java.util.Arrays.copyOf(avi, avi.length - 7)
    val tf = decodeVideo(Iterator(MediaRow(2L, truncated, "video/avi"))).next()
    assert(tf.width == 'R'.toInt && tf.height == 'I'.toInt,
      "truncated AVI must take the fake path, not emit partial frames")
    // distributed round-trip: encode in executors, parse in executors
    val spark2 = spark
    import spark2.implicits._
    val out = extractVideoFeatures(spark,
      attachAviPayload(spark, (0L until 20L).toDF("doc_id"), "doc_id"))
      .collect().map(x => x.id -> x).toMap
    assert(out.size == 20)
    for (id <- 0L until 20L) {
      assert(out(id).width == (1 + id % 7).toInt && out(id).height == (1 + id % 5).toInt)
      assert(out(id).n_frames == 1 + id % 4, s"id=$id")
    }
  }

  test("graft_hyperplane_bucket is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_hyperplane_bucket(array(CAST(0.5 AS DOUBLE), CAST(-0.2 AS DOUBLE)), 8) AS b")
      .collect().head.getLong(0)
    val expected = Seq(Array(0.5, -0.2)).toDF("v")
      .select(Similarity.hyperplaneBucketHof(col("v"), 8)).collect().head.getLong(0)
    assert(r == expected)
    // 3-arg form selects an offset plane family (multi-table LSH)
    val r2 = spark.sql(
      "SELECT graft_hyperplane_bucket(array(CAST(0.5 AS DOUBLE), CAST(-0.2 AS DOUBLE)), 2, 4) AS b")
      .collect().head.getLong(0)
    val expected2 = Seq(Array(0.5, -0.2)).toDF("v")
      .select(Similarity.hyperplaneBucketHof(col("v"), 2, 4)).collect().head.getLong(0)
    assert(r2 == expected2)
  }

  test("minhashLsh band-frequency cap suppresses identical-doc floods") {
    val flood = (1L to 6L).map(i => (i, "the same exact document body repeated many times over"))
    val df = (flood :+ (9L, "a completely different unrelated text payload here"))
      .toDF("id", "text")
    val uncapped = Dedup.minhashLsh(df, "id", "text", n = 2, k = 8,
      rowsPerBand = 2, threshold = 0.5)
    assert(uncapped.count() == 15) // C(6,2) identical pairs
    val capped = Dedup.minhashLsh(df, "id", "text", n = 2, k = 8,
      rowsPerBand = 2, threshold = 0.5, maxBandFreq = Some(3))
    assert(capped.count() == 0) // flood buckets dropped before the join
  }

  test("native hyperplane bucket agrees bit-for-bit with the HOF formulation") {
    val vecs = (0L until 100L).map(i =>
      (i, Array.tabulate(16)(d => math.sin(i * 2.3 + d * 1.1))))
    val df = vecs.toDF("id", "v")
    for (nPlanes <- Seq(1, 8, 16); firstPlane <- Seq(0, 2, 24)) {
      val mismatches = df.select(
        Similarity.hyperplaneBucket(col("v"), nPlanes, firstPlane).as("native"),
        Similarity.hyperplaneBucketHof(col("v"), nPlanes, firstPlane).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(mismatches == 0, s"nPlanes=$nPlanes firstPlane=$firstPlane")
    }
    // offset tables must hash with genuinely different planes: the
    // multi-table union is amplification only if tables disagree
    val distinctBuckets = df.select(
      Similarity.hyperplaneBucket(col("v"), 2, 0).as("t0"),
      Similarity.hyperplaneBucket(col("v"), 2, 2).as("t1"))
      .filter(col("t0") =!= col("t1")).count()
    assert(distinctBuckets > 0, "offset plane families collapsed to the same hash")
  }

  test("native centroid argmax agrees bit-for-bit with the HOF struct-max formulation") {
    // 200 deterministic 16-dim vectors vs 13 centroids (odd count, ties
    // possible via duplicated centroid vectors under distinct cids)
    val c = (0L until 200L).map(i =>
      (i, Array.tabulate(16)(d => math.sin(i * 2.3 + d * 1.1))))
      .toDF("nn_id", "cv")
    val centBase = (0L until 12L).map(j =>
      (j, Seq.tabulate(16)(d => math.cos(j * 1.9 + d * 0.7))))
    // cid 12 duplicates cid 3's vector: equal sims must tie to cid 3
    val cent = centBase :+ ((12L, centBase(3)._2))
    val native = Similarity.assignClusters(c, cent)
      .select(col("nn_id"), col("cluster").as("native"))
    val hof = Similarity.assignClustersHof(c, cent)
      .select(col("nn_id"), col("cluster").as("hof"))
    val joined = native.join(hof, Seq("nn_id")).collect()
    assert(joined.length == 200)
    assert(joined.forall(r => r.getLong(1) == r.getLong(2)),
      joined.filter(r => r.getLong(1) != r.getLong(2)).take(3).mkString(", "))
    // the tie case actually occurs and lands on the lower cid
    assert(joined.forall(r => r.getLong(1) != 12L))
  }

  test("graft_centroid_argmax matches the SQL HOF on degenerate null inputs") {
    // null element, null centv, null cid — all reachable via SQL; the
    // native expression must return the HOF's answer, never NPE
    val cases = Seq(
      // computed sim beats null-sim entries; lowest cid on ties
      "array(named_struct('cid', 1L, 'centv', array(1.0d)), CAST(NULL AS struct<cid:bigint,centv:array<double>>))",
      "array(named_struct('cid', 2L, 'centv', CAST(NULL AS array<double>)), named_struct('cid', 1L, 'centv', array(1.0d)))",
      // only null-sim candidates: lowest non-null cid
      "array(named_struct('cid', 7L, 'centv', CAST(NULL AS array<double>)), named_struct('cid', 3L, 'centv', CAST(NULL AS array<double>)))",
      // all-null winner -> NULL
      "array(CAST(NULL AS struct<cid:bigint,centv:array<double>>))",
      // null cid wins on sim -> NULL (HOF: -cid is null)
      "array(named_struct('cid', CAST(NULL AS BIGINT), 'centv', array(5.0d)), named_struct('cid', 1L, 'centv', array(1.0d)))")
    for (cs <- cases) {
      val q = s"""SELECT graft_centroid_argmax(array(1.0d), $cs) AS native,
                 |(SELECT -array_max(transform($cs,
                 |   x -> struct(aggregate(zip_with(array(1.0d), x.centv, (p, c) -> p * c),
                 |                         0.0d, (acc, v) -> acc + v) AS sim,
                 |               -x.cid AS negcid))).negcid) AS hof""".stripMargin
      val r = spark.sql(q).collect().head
      val native = if (r.isNullAt(0)) None else Some(r.getLong(0))
      val hof = if (r.isNullAt(1)) None else Some(r.getLong(1))
      assert(native == hof, s"case $cs: native=$native hof=$hof")
    }
  }

  test("centroid argmax NaN ties resolve to the lowest cid regardless of array order") {
    // two all-NaN centroids (a zero-norm centroid normalizes to NaN),
    // HIGHER cid first in the array: NaN sims compare equal (Spark
    // ordering) so the LOWEST cid must win, and NaN beats any finite sim
    val nan = Seq.fill(4)(Double.NaN)
    val fin = Seq.tabulate(4)(_.toDouble + 1.0)
    val cent = Seq((14L, nan), (13L, nan), (1L, fin))
    val c = Seq((100L, Array(1.0, 0.5, 0.25, 0.125))).toDF("nn_id", "cv")
    val native = Similarity.assignClusters(c, cent).collect().head.getLong(2)
    val hof = Similarity.assignClustersHof(c, cent).collect().head.getLong(2)
    assert(native == hof, s"native=$native hof=$hof")
    assert(native == 13L)
  }

  test("LSH and IVF top-k are consistent subsets of brute force") {
    // deterministic 8-dim corpus
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9).toFloat)))
    val df = vecs.toDF("id", "vec")
    val queries = df.filter(col("id") < 5)
    val brute = Similarity.topK(df, queries, "id", "vec", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (approx <- Seq(
      Similarity.topKLsh(df, queries, "id", "vec", k = 5, nPlanes = 4),
      Similarity.topKIvf(df, queries, "id", "vec", k = 5, nCentroids = 8, nProbe = 4))) {
      val rows = approx.collect()
      val perQuery = rows.groupBy(_.getLong(0))
      assert(perQuery.values.forall(_.length <= 5))
      // every reported score equals the true cosine (scores are exact,
      // only the candidate set is approximate)
      val exactScores = Similarity.topK(df, queries, "id", "vec", k = 60).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      rows.foreach { r =>
        assert(exactScores((r.getLong(0), r.getLong(1))) == r.getDouble(2))
      }
      // ranks are 1..n without gaps per query
      perQuery.values.foreach { rs =>
        assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length).toSeq)
      }
    }
    // IVF with nProbe = all centroids degenerates to exact: full recall
    val full = Similarity.topKIvf(df, queries, "id", "vec", k = 5,
      nCentroids = 8, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full == brute)
  }

  test("semanticNearDup: intra-cell pairs only, agrees with exact cosine") {
    // two well-separated directions; lowest-id seeds (1, 2) sit one per
    // cluster so even 0 k-means rounds split correctly, and 2 rounds
    // must not merge them
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.99f, 0.02f)), (4L, Array(0.98f, 0.05f)),
      (10L, Array(0.01f, 0.99f))).toDF("id", "v")
    val pairs = Dedup.semanticNearDup(vecs, "id", "v", threshold = 0.9,
      nCentroids = 2, kmeansIters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet == Set((1L, 3L), (1L, 4L), (3L, 4L), (2L, 10L)))
    // reported cosines are the exact scores (only candidates are approximate)
    val exact = Dedup.embeddingNearDup(vecs, "id", "v", threshold = 0.9,
      useLsh = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.foreach { case (k, c) => assert(exact(k) == c, k) }
  }

  test("minhashLsh finds identical docs with jaccard 1.0") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now")).toDF("id", "text")
    val out = Dedup.minhashLsh(df, "id", "text", n = 2, k = 8, rowsPerBand = 2,
      threshold = 0.9).collect()
    assert(out.length == 1)
    assert((out.head.getLong(0), out.head.getLong(1), out.head.getDouble(2)) == ((1L, 2L, 1.0)))
  }

  test("simhash: identical docs have hamming 0") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("id", "text")
    val out = Dedup.simhashPairs(df, "id", "text", maxHamming = 0).collect()
    assert(out.length == 1 && out.head.getAs[Int]("hamming") == 0)
  }

  test("incremental minhash equals the cross-side subset of the batch run") {
    val phrase = "the quick brown fox jumps over the lazy dog and runs far away " * 2
    val corpus = Seq(
      (1L, phrase + "alpha beta"),
      (2L, "completely different text about ships and harbors at dawn today"),
      (11L, phrase + "alpha gamma"), // near-dup of 1
      (12L, phrase + "alpha beta"), // exact dup of 1
      (13L, "unrelated fresh content with novel words nothing shared here"))
      .toDF("id", "text")
    val existing = corpus.filter(col("id") <= 10)
    val fresh = corpus.filter(col("id") > 10)
    val inc = Dedup.minhashLshIncremental(existing, fresh, "id", "text",
      n = 2, k = 8, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.minhashLsh(corpus, "id", "text",
      n = 2, k = 8, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (d1, d2, _) => (d1 <= 10) != (d2 <= 10) }
      .map { case (d1, d2, j) => if (d1 > 10) (d1, d2, j) else (d2, d1, j) }.toSet
    assert(inc == batch && inc.nonEmpty)
    assert(inc.map(p => (p._1, p._2)).contains((11L, 1L)))
    assert(inc.map(p => (p._1, p._2)).contains((12L, 1L)))
    assert(!inc.map(_._1).contains(13L))
  }

  test("simhash combination banding is complete: exactly the brute-force hamming pairs") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    // overlapping word windows -> a mix of near and far signatures
    val df = (0 until 14).map { i =>
      (i.toLong, (0 until 6).map(j => words((i + j * 2) % words.length)).mkString(" "))
    }.toDF("id", "text")
    val banded = Dedup.simhashPairs(df, "id", "text",
      maxHamming = 4, nBits = 60, nChunks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Dedup.simhash(df, "id", "text", nBits = 60).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (d1, h1) <- sigs; (d2, h2) <- sigs if d1 < d2
      ham = java.lang.Long.bitCount(h1 ^ h2) if ham <= 4
    } yield (d1, d2, ham)).toSet
    assert(banded == brute)
  }

  test("2-chunk band keys cut candidate volume vs single-chunk banding") {
    // 200 docs over a LARGE vocabulary -> near-random signatures: the
    // banding cost is then accidental 10-bit chunk collisions, which the
    // 20-bit combination keys are built to kill. (On a near-dup-dense
    // corpus both schemes surface the same true pairs and the comparison
    // is meaningless — this measures the false-candidate floor.)
    val df = (0 until 200).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 131 + j * 257) % 997}").mkString(" "))
    }.toDF("id", "text")
    val sig = Dedup.simhash(df, "id", "text", nBits = 60)
    // cost of a banding scheme = candidate pairs the verify stage sees:
    // sum over buckets of C(n, 2)
    def candidatePairs(maxHamming: Int): Long =
      Dedup.simhashBandKeys(sig, nBits = 60, nChunks = 6, maxHamming = maxHamming)
        .groupBy(col("g"), col("ck")).count()
        .agg(sum(col("count") * (col("count") - 1))).collect().head.getLong(0)
    // maxHamming=5 -> 1-chunk keys (10 bits); maxHamming=4 -> 2-chunk
    // keys (20 bits): the wider key must strictly shrink candidate volume
    val two = candidatePairs(4)
    val one = candidatePairs(5)
    assert(two < one, s"2-chunk candidates=$two, 1-chunk candidates=$one")
  }

  test("embedding near-dup (exact path) finds colinear vectors") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val out = Dedup.embeddingNearDup(df, "id", "v", threshold = 0.9, useLsh = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("k-means-refined IVF beats the lowest-id quantizer on recall@k") {
    // three well-separated clusters on axes e0/e1/e2 with deterministic
    // within-cluster noise; ids 0-19 all in cluster 0, so the lowest-id
    // seeds (nCentroids=4) are DEGENERATE — all four in one cluster —
    // and probing one list mixes clusters. Two Lloyd's rounds must pull
    // centroids toward the true clusters and lift recall.
    val vecs = (0L until 60L).map { i =>
      val c = (i / 20).toInt
      val v = Array.fill(8)(0.0f)
      v(c) = 1.0f
      (0 until 8).foreach(j => v(j) = v(j) + 0.15f * math.sin(i * 1.7 + j).toFloat)
      (i, v.toSeq)
    }.toDF("id", "v")
    val queries = vecs.filter(col("id").isin(5L, 25L, 45L))
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val truth = hits(Similarity.topK(vecs, queries, "id", "v", k = 5))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val h = hits(df)
      truth.map { case (q, t) => h.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / truth.size
    }
    val r0 = recall(Similarity.topKIvf(vecs, queries, "id", "v", k = 5,
      nCentroids = 4, nProbe = 1, kmeansIters = 0))
    val r2 = recall(Similarity.topKIvf(vecs, queries, "id", "v", k = 5,
      nCentroids = 4, nProbe = 1, kmeansIters = 2))
    assert(r2 > r0, s"recall kmeans=$r2 lowestId=$r0")
    assert(r2 >= 0.8, s"refined recall too low: $r2")
  }

  test("int8 quantization bounds reconstruction error by scale/2; zero vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "v")
    val out = Similarity.quantizeInt8(df, "vec_id", "v").collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Long](2), r.getDouble(3))).toMap
    val (scale, q, err) = out(1L)
    assert(q.forall(x => x >= -127 && x <= 127))
    assert(q(1) == -127)                      // max-magnitude element saturates
    assert(err <= scale / 2 + 1e-9)           // round-to-nearest bound
    assert(math.abs(q(0) * scale - 0.5) <= scale / 2 + 1e-9) // dequant close
    val (s0, q0, e0) = out(2L)
    assert(s0 == 0.0 && q0.forall(_ == 0L) && e0 == 0.0) // zero vector: no NaN
  }

  test("brute-force topK ranks by cosine with deterministic ties") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val out = Similarity.topK(df, df.filter(col("id") === 0), "id", "v", k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toList.sortBy(_._2)
    assert(out == List((1L, 1), (2L, 2))) // colinear first, orthogonal second
  }

  test("topK matches single-window reference on a 50-doc corpus") {
    val vecs = (0L until 50L).map(i =>
      (i, Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat, (i % 7).toFloat / 7f)))
    val df = vecs.toDF("id", "v")
    val q = df.filter(col("id") < 3)
    val fast = Similarity.topK(df, q, "id", "v", k = 4).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // reference: plain single window (correct but unscalable)
    val c = df.select(col("id").as("nn_id"), Similarity.normalize(col("v")).as("cv"))
    val qq = q.select(col("id").as("query_id"), Similarity.normalize(col("v")).as("qv"))
    val scored = c.crossJoin(qq).filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", Num.r6(Similarity.dot(col("cv"), col("qv"))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id").asc)
    val ref = scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("nn_id")).toMap
    assert(fast == ref)
  }

  test("native dot agrees bit-for-bit with the HOF fold and SQL name") {
    val df = (0L until 200L).map(i =>
      (i, (0 until 64).map(j => (math.sin(i * 7 + j) * 3).toFloat))).toDF("id", "v")
    val d = df.select(col("id"),
      Similarity.dot(Similarity.normalize(col("v")), Similarity.normalize(col("v"))).as("a"),
      Similarity.dotHof(Similarity.normalize(col("v")), Similarity.normalize(col("v"))).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
    // SQL registration via GraftExtensions
    val viaSql = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect().head.getDouble(0)
    assert(viaSql == 11.0)
  }

  test("rolling hash is the documented fold") {
    val df = Seq(("ab")).toDF("s")
    val h = df.select(TextAnalysis.rollingHash(col("s"))).collect().head.getLong(0)
    // (7*131 + 'a')*131 + 'b' mod 1e9+7
    assert(h == ((7L * 131 + 97) * 131 + 98) % 1000000007L)
  }

  test("native rolling hash agrees with the HOF fold, incl. unicode + empty") {
    val df = Seq("ab", "the quick brown fox", "für", "汉字 test", "", "a b c d")
      .toDF("s")
    val d = df.select(TextAnalysis.rollingHash(col("s")).as("a"),
      TextAnalysis.rollingHashHof(col("s")).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0, d.collect().mkString(","))
  }

  test("language id argmax follows marker precedence") {
    val df = Seq((1L, "the cat and the dog is here"), (2L, "der hund und die katze ist da"))
      .toDF("id", "text")
    val out = TextAnalysis.langId(df, "text").select("id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de"))
  }

  test("winnowFingerprints: guarantee — a shared run of w+k-1 tokens shares a fingerprint") {
    // k=3, w=3: any shared run of >= 5 tokens must yield a shared
    // (h) fingerprint in both docs (the MOSS correctness property)
    val d = Seq(
      (1L, "aa bb one two three four five cc dd"),
      (2L, "xx one two three four five yy zz ww")).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k = 3, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val h1 = fp.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fp.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 intersect h2).nonEmpty, s"no shared fingerprint: $h1 vs $h2")
  }

  test("winnowFingerprints: rightmost minimal hash wins ties") {
    // the same gram repeated inside one window ties on hash; the
    // selected pos must be the RIGHTMOST occurrence
    val d = Seq((1L, "z z z z z z")).toDF("doc_id", "text")
    // k=2 -> 5 identical grams "z z"; w=3 -> windows all tie; rightmost
    // of each window is selected: positions 2, 3, 4
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k = 2, w = 3)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(fp == Seq(2L, 3L, 4L))
  }

  test("winnowFingerprints: density is ~2/(w+1) of the gram count") {
    val text = (1 to 400).map(i => s"tok${i % 97}").mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val nGrams = 400 - 5 + 1
    val n = Dedup.winnowFingerprints(d, "doc_id", "text", k = 5, w = 8).count()
    assert(n > 0 && n <= nGrams * 3 / (8 + 1),
      s"selected $n of $nGrams grams — winnowing must be sparse")
  }

  test("winnowFingerprints: short docs and null text yield no rows, no errors") {
    val d = Seq((1L, "only four tokens here"), (2L, null))
      .toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(d, "doc_id", "text", k = 5, w = 4).count() == 0)
  }

  test("duplicateSpans: shared passage yields one maximal span with exact offsets") {
    // 8-token passage at pos 2 of doc 1 and pos 1 of doc 2; k=4 gives 5
    // matching windows on one diagonal -> ONE island of n_tokens 5+3=8
    val d = Seq(
      (1L, "p q alpha beta gamma delta epsilon zeta eta theta r s"),
      (2L, "w alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(d, "doc_id", "text", k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 2L, 2L, 1L, 8L)))
  }

  test("duplicateSpans: same passage at two alignments stays two spans") {
    val d = Seq(
      (3L, "alpha beta gamma delta u v alpha beta gamma delta"),
      (4L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(d, "doc_id", "text", k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // diag 0 and diag 6 islands never merge; within-doc 3's own repeat is
    // NOT a pair (d1 < d2 is strict)
    assert(out == Set((3L, 4L, 0L, 0L, 4L), (3L, 4L, 6L, 0L, 4L)))
  }

  test("duplicateSpans: maxOcc caps flood windows; None restores them") {
    val d = (1L to 5L).map(i => (i, "same old boilerplate header row")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(d, "doc_id", "text", k = 5, maxOcc = Some(4L)).count() == 0L)
    // 5 docs -> C(5,2)=10 pairs, each one full-width span
    val open = Dedup.duplicateSpans(d, "doc_id", "text", k = 5, maxOcc = None).collect()
    assert(open.length == 10 && open.forall(_.getLong(4) == 5L))
  }

  test("duplicateSpans: docs shorter than k and NULL text yield no rows, no error") {
    val d = Seq((1L, Some("a b c")), (2L, Some("a b c")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(d, "doc_id", "text", k = 4).count() == 0L)
    // at exactly k tokens the single window DOES pair up
    val eq = Dedup.duplicateSpans(d, "doc_id", "text", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(eq.toSeq == Seq((1L, 2L, 0L, 0L, 3L)))
  }

  test("multimodal stub decode is deterministic over the payload bytes") {
    val df = Seq((1L, "AB")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(spark,
      Multimodal.attachPayload(df, "doc_id", "text")).collect()
    assert(feats.length == 1)
    val f = feats.head
    assert(f.n_bytes == 2 && f.width == 65 && f.height == 66 && f.mean_byte == 65.5)
  }

  test("perceptual hash: exact copies collide, distinct photos diverge, PNG round-trip is stable") {
    val ids = Seq(1L, 5L, 42L, 101L, 105L).toDF("doc_id")
    val hashes = Multimodal.perceptualHash(spark,
      Multimodal.attachPhotoPayload(spark, ids, "doc_id"))
      .collect().map(p => p.id -> ((p.phash_hi, p.phash_lo))).toMap
    // ids 100 apart are planted pixel copies — identical hashes
    assert(hashes(1L) === hashes(101L))
    assert(hashes(5L) === hashes(105L))
    // distinct base patterns hash apart
    assert(hashes(1L) !== hashes(5L))
    assert(hashes(1L) !== hashes(42L))
    // hashing twice (fresh encode+decode) is bit-stable
    val again = Multimodal.perceptualHash(spark,
      Multimodal.attachPhotoPayload(spark, ids, "doc_id"))
      .collect().map(p => p.id -> ((p.phash_hi, p.phash_lo))).toMap
    assert(again === hashes)
  }

  test("dHash: brightness-shift invariance, sub-grid images and corrupt payloads are dropped") {
    // dHash compares neighbor blocks: adding a constant to every pixel
    // preserves every comparison (saturating at 255 aside — stay below)
    def img(shift: Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(36, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 36) {
        val p = (7 * (x + 1) * (y + 3) + x * x + 7) % 180 + shift
        im.setRGB(x, y, (p << 16) | (p << 8) | p)
      }
      im
    }
    assert(Multimodal.dHash(img(0)) === Multimodal.dHash(img(50)))
    // sub-grid image: no defined hash
    val tiny = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    assert(Multimodal.dHash(tiny).isEmpty)
    // corrupt payload: dropped, not thrown
    import org.apache.spark.sql.functions.{col, length, lit, struct}
    val corrupt = Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "payload")
      .select(col("id"), col("payload"),
        struct(length(col("payload")).cast("long").as("n_bytes"),
          lit("image/png").as("format")).as("meta"))
    assert(Multimodal.perceptualHash(spark, corrupt).count() === 0L)
  }

  test("MIPS top-k: magnitude changes the winner that cosine ignores") {
    // query (1,0); a = (0.9, 0) perfectly aligned but short;
    // b = (5, 1) slightly off but long. Cosine ranks a first
    // (1.0 > 0.98); inner product ranks b first (5.0 > 0.9).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // the query
      (1L, Array(0.9f, 0.0f)),   // a
      (2L, Array(5.0f, 1.0f)))   // b
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    val mips = Similarity.topKMips(vecs, q, "vec_id", "embedding", k = 2)
      .orderBy(col("rank")).collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(mips.map(_._1).toSeq === Seq(2L, 1L), mips.mkString(","))
    assert(mips(0)._2 === 5.0d && mips(1)._2 === Num.r6(0.9f.toDouble))
    val cos = Similarity.topK(vecs, q, "vec_id", "embedding", k = 2)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(cos === Seq(1L, 2L), s"cosine must prefer the aligned vector: $cos")
  }

  test("prefix-filter join: recall 1.0 vs brute force on random docs; prunes on diverse data") {
    def brute(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] = {
      val sets = docs.map { case (id, txt) =>
        id -> txt.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
      }.filter(_._2.nonEmpty)
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        j = Num.r6(sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble)
        if j >= t
      } yield (a, b, j)).toSet
    }
    def run(docs: Seq[(Long, String)], t: Double): Set[(Long, Long, Double)] =
      Dedup.prefixFilterJoin(docs.toDF("doc_id", "text"), "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // recall 1.0 (it's an EXACT algorithm): seeded random docs over a
    // small vocabulary, several thresholds
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (1L to 40L).map(i =>
      i -> Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      assert(run(docs, t) === brute(docs, t), s"t=$t")
    }
    // selectivity: diverse docs sharing ONE stopword — the naive
    // shared-token join would generate all C(40,2) pairs through it;
    // the rarest-first prefix never indexes the stopword, so zero
    // candidates survive (and indeed no pair reaches the threshold)
    val diverse = (1L to 40L).map(i => i -> s"the unique$i only$i token$i body$i")
    assert(run(diverse, 0.5).isEmpty)
    val prefixes = diverse.toDF("doc_id", "text")
    // the plan's candidate generation must not be a cartesian product
    val plan = Dedup.prefixFilterJoin(prefixes, "doc_id", "text", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(500))
  }

  test("JL random projection: norm preserved in expectation, bounded per-pair distortion") {
    // 80 seeded random 32-dim vectors projected to k=16: the JL
    // contract is E||proj||² = ||v||² with per-vector distortion
    // concentrating as k grows. Deterministic fixture → no flake; the
    // tolerances are loose enough for k=16's distortion tail
    val rnd = new scala.util.Random(271)
    val dim = 32
    val rows: Seq[(Long, Seq[Float])] = (0 until 80).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(df, "vec_id", "embedding", outDim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, xs) =>
        id -> xs.sortBy(_._2).map(_._3).toArray }
    assert(proj.size === 80 && proj.values.forall(_.length === 16))
    val inNorm2 = rows.map { case (id, v) =>
      id -> v.map(x => x.toDouble * x.toDouble).sum }.toMap
    val ratios = proj.map { case (id, p) =>
      p.map(x => x * x).sum / inNorm2(id) }.toSeq
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean off the JL expectation")
    assert(ratios.forall(r => r > 0.15 && r < 3.5),
      s"per-vector distortion out of the k=16 band: ${ratios.min}..${ratios.max}")
    // determinism: projecting again is bit-identical (no RNG state)
    val again = Similarity.randomProject(df, "vec_id", "embedding", outDim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    proj.foreach { case (id, p) =>
      p.zipWithIndex.foreach { case (v, d) => assert(again((id, d)) === v) }
    }
  }

  test("PPJoin length+positional filters: candidates shrink, verified output identical") {
    // skewed fixture: sizes spread 3..30 (length-filter work — a pair
    // with size ratio below t cannot clear the threshold) over a small
    // vocabulary (shared prefix tokens at deep positions — positional-
    // filter work). The filters are necessary conditions of the exact
    // output predicate, so the verified result must be bit-identical
    // with them on or off; only the candidate set may differ.
    val rnd = new scala.util.Random(99)
    val vocab = (0 until 25).map(i => s"w$i")
    val docs = (1L to 50L).map { i =>
      val n = 3 + rnd.nextInt(28)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val t = 0.7
    val candOff = Dedup.prefixFilterCandidates(df, "doc_id", "text", t,
      ppjoinFilters = false).count()
    val candOn = Dedup.prefixFilterCandidates(df, "doc_id", "text", t,
      ppjoinFilters = true).count()
    info(s"candidate pairs: $candOff unfiltered -> $candOn with PPJoin filters")
    assert(candOn < candOff,
      s"filters must prune candidates on this fixture ($candOff -> $candOn)")
    def collectPairs(pp: Boolean): Set[(Long, Long, Double)] =
      Dedup.prefixFilterJoin(df, "doc_id", "text", t, ppjoinFilters = pp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(collectPairs(true) === collectPairs(false),
      "PPJoin filters changed the verified output — they must be pure pruning")
    // exactness sweep: across thresholds (including near the exact-
    // boundary regime) and a second random corpus, filters on === off
    val rnd2 = new scala.util.Random(123)
    val docs2 = (1L to 40L).map { i =>
      val n = 2 + rnd2.nextInt(20)
      i -> Seq.fill(n)(s"t${rnd2.nextInt(12)}").mkString(" ")
    }
    val df2 = docs2.toDF("doc_id", "text")
    for (th <- Seq(0.3, 0.5, 0.8, 0.95); d <- Seq(df, df2)) {
      def run(pp: Boolean) =
        Dedup.prefixFilterJoin(d, "doc_id", "text", th, ppjoinFilters = pp)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(run(true) === run(false), s"filters changed output at t=$th")
    }
  }

  test("scene cuts: planted shot boundaries at frames 8 and 16, nothing else") {
    val ids = Seq(4L, 29L).toDF("doc_id")
    val cuts = Multimodal.sceneCuts(spark,
      Multimodal.attachClipPayload(spark, ids, "doc_id"), threshold = 20L)
      .collect().map(c => (c.id, c.frame, c.diff)).toSet
    // +63 jumps at the scene starts; +1 drift elsewhere never triggers
    assert(cuts === Set((4L, 8, 63L), (4L, 16, 63L), (29L, 8, 63L), (29L, 16, 63L)))
    // a threshold above the jump size reports nothing
    assert(Multimodal.sceneCuts(spark,
      Multimodal.attachClipPayload(spark, ids, "doc_id"), threshold = 64L)
      .count() === 0L)
    // corrupt payload: dropped, not thrown
    import org.apache.spark.sql.functions.{length, lit, struct}
    val junk = Seq((9L, Array[Byte](82, 73, 70, 70, 1, 2, 3))).toDF("id", "payload")
      .select(col("id"), col("payload"),
        struct(length(col("payload")).cast("long").as("n_bytes"),
          lit("video/avi").as("format")).as("meta"))
    assert(Multimodal.sceneCuts(spark, junk, threshold = 1L).count() === 0L)
  }

  test("audio fingerprint: planted tone copies collide, gain-scaled tones collide, others diverge") {
    val ids = Seq(3L, 17L, 103L).toDF("doc_id")
    val fps = Multimodal.audioFingerprints(spark,
      Multimodal.attachTonePayload(spark, ids, "doc_id"))
      .collect().map(f => f.id -> f.afp).toMap
    assert(fps(3L) === fps(103L), "ids 100 apart are exact sample copies")
    assert(fps(3L) !== fps(17L), "distinct tones must fingerprint apart")
    // gain invariance: doubling every sample preserves every energy
    // comparison — the envelope-gradient contract
    val base = (0 until 256).map(t => ((7 * (t + 7) * (t % 13 + 1) + t * t) % 997 - 498).toLong)
    val doubled = base.map(_ * 2L)
    assert(Multimodal.energyFingerprint(base.toArray) ===
      Multimodal.energyFingerprint(doubled.toArray))
    // too-short streams have no envelope
    assert(Multimodal.energyFingerprint(Array.fill(31)(5L)).isEmpty)
    // non-WAV payloads are dropped, not fingerprinted
    import org.apache.spark.sql.functions.{length, lit, struct}
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "payload")
      .select(col("id"), col("payload"),
        struct(length(col("payload")).cast("long").as("n_bytes"),
          lit("audio/wav").as("format")).as("meta"))
    assert(Multimodal.audioFingerprints(spark, junk).count() === 0L)
  }

  test("phashNearDup: planted copies found at Hamming 0 through band join only") {
    val ids = (1L to 30L).union(101L to 110L).toDF("doc_id")
    val hashes = Multimodal.perceptualHash(spark,
      Multimodal.attachPhotoPayload(spark, ids, "doc_id")).toDF()
    val pairs = Multimodal.phashNearDup(hashes, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val planted = (1L to 10L).map(i => (i, i + 100L, 0)).toSet
    assert(planted.subsetOf(pairs), s"missing planted dups: ${planted -- pairs}")
    // every reported pair at maxHamming=0 really is hash-identical
    val hm = hashes.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    pairs.foreach { case (a, b, d) =>
      assert(d === 0 && hm(a) === hm(b), s"pair ($a,$b) not identical")
    }
  }

  test("ingested MinHash index: parity with the incremental twin below the cap; planted near-dup found") {
    // distinct texts, every shingle df far below the cap — in this
    // regime the ingest-time and union-time flood sets are both empty,
    // so the persisted-index probe must match minhashLshIncremental
    // bit-for-bit
    val existing = (1L to 25L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("id", "text")
    val newBatch = Seq(
      (101L, "intro pad alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3 theta3"),
      (102L, "wholly novel content nothing shared with any existing doc here"))
      .toDF("id", "text")
    val table = "graft_mh_dedupspec_idx"
    Dedup.ingestMinhashIndex(existing, "id", "text", n = 3, k = 16,
      rowsPerBand = 4, maxDocFreq = Some(20), table, nBuckets = 2)
    val ing = Dedup.minhashLshIngested(spark, table, newBatch, "id", "text",
      threshold = 0.3)
    val inc = Dedup.minhashLshIncremental(existing, newBatch, "id", "text",
      n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(20))
    assert(ing.collect().map(_.toSeq).toSet === inc.collect().map(_.toSeq).toSet,
      "below the cap the persisted index must reproduce the incremental twin")
    val pairs = ing.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((101L, 3L)), s"planted near-dup missing: $pairs")
    assert(!pairs.exists(_._1 == 102L), "novel doc must admit cleanly")
  }

  test("ingested MinHash index: flood set is fixed at ingest — a batch cannot re-cap the index") {
    // cap = 3; the index holds exactly 3 copies of one boilerplate text
    // (df = 3 ≤ cap → kept), and the new batch adds a 4th copy.
    // Union-cap semantics (minhashLshIncremental) drop every shingle
    // (df = 4 > 3) and find NOTHING; the persisted index's ingest-time
    // flood set keeps them, and the new copy is caught — the exact
    // admission behavior a crawl index must have (an attacker batch
    // can never flood the index's own signatures away)
    val existing = (1L to 3L).map(i =>
      (i, "shared boilerplate run of tokens that repeats verbatim in each copy"))
      .toDF("id", "text")
    val newBatch = Seq(
      (201L, "shared boilerplate run of tokens that repeats verbatim in each copy"))
      .toDF("id", "text")
    val table = "graft_mh_dedupspec_flood"
    Dedup.ingestMinhashIndex(existing, "id", "text", n = 3, k = 16,
      rowsPerBand = 4, maxDocFreq = Some(3), table, nBuckets = 2)
    val ing = Dedup.minhashLshIngested(spark, table, newBatch, "id", "text",
      threshold = 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ing === Set((201L, 1L), (201L, 2L), (201L, 3L)),
      s"ingest-capped index must catch the 4th copy: $ing")
    val inc = Dedup.minhashLshIncremental(existing, newBatch, "id", "text",
      n = 3, k = 16, rowsPerBand = 4, threshold = 0.3, maxDocFreq = Some(3))
      .count()
    assert(inc === 0L,
      "union-cap twin must drop the now-over-cap shingles (the documented contrast)")
  }
}
