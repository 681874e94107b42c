package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.llm.Multimodal

/** Multimodal operator semantics that the gates alone cannot pin:
  * the pHash near-dup banding GUARANTEE at mid-range radii (planted
  * Hamming-4..6 pairs constructed adversarially against the old 4×16
  * banding), the radius→band derivation itself, the streamed WAV
  * sample decode behind the audio fingerprint, the rejection paths of
  * the shared RIFF walker and PCM reader, and null payloads.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ------------------------------------------------- radius → band count

  test("phashBandsFor: smallest guaranteed banding per radius; >15 rejected") {
    (0 to 3).foreach(d => assert(Multimodal.phashBandsFor(d) === 4, s"d=$d"))
    (4 to 7).foreach(d => assert(Multimodal.phashBandsFor(d) === 8, s"d=$d"))
    (8 to 15).foreach(d => assert(Multimodal.phashBandsFor(d) === 16, s"d=$d"))
    intercept[IllegalArgumentException](Multimodal.phashBandsFor(16))
    intercept[IllegalArgumentException](Multimodal.phashBandsFor(-1))
  }

  // --------------------------------------- planted mid-range recall pairs

  /** Pairs constructed so every flipped bit lands in a DIFFERENT 16-bit
    * band — the exact adversarial case 4×16 banding silently drops for
    * d ≥ 4 (no intact band), while the derived 8×8-bit banding keeps
    * ≥ 8−d ≥ 2 intact bands and must find them all.
    */
  test("phashNearDup finds planted Hamming-4..6 pairs adversarial to 4-band keys") {
    import spark.implicits._
    def flip(v: Long, bits: Int*): Long = bits.foldLeft(v)((a, b) => a ^ (1L << b))
    // four base hashes pairwise ≥ 32 bits apart (so ≤6-bit perturbed
    // partners never cross-pair); each partner's flips land in ALL FOUR
    // 16-bit bands — the exact case 4×16 banding drops for d ≥ 4
    val zA = 0xAAAAAAAAL; val z5 = 0x55555555L; val zF = 0xFFFFFFFFL
    val rows = Seq(
      (10L, 0L, 0L), (11L, flip(0L, 0, 16), flip(0L, 0, 16)),            // d=4
      (20L, zA, zA), (21L, flip(zA, 0, 16), flip(zA, 0, 16, 24)),        // d=5
      (30L, z5, z5), (31L, flip(z5, 0, 16, 24), flip(z5, 0, 8, 16)),     // d=6
      (40L, zF, zF), (41L, zF ^ 0x00ff00ffL, zF ^ 0x00ff00ffL)           // d=32: out
    ).toDF("id", "phash_hi", "phash_lo")
    val got = Multimodal.phashNearDup(rows, maxHamming = 6)
      .select("id1", "id2", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got.get((10L, 11L)).contains(4), s"d=4 pair missing: $got")
    assert(got.get((20L, 21L)).contains(5), s"d=5 pair missing: $got")
    assert(got.get((30L, 31L)).contains(6), s"d=6 pair missing: $got")
    assert(got.size === 3, s"exactly the three planted pairs: $got")
  }

  test("phashNearDup recall is 1.0 on randomized planted pairs at every d <= 6") {
    import spark.implicits._
    val rnd = new scala.util.Random(427)
    // 40 random base hashes far apart w.h.p., each with a partner at a
    // random Hamming distance 0..6 over random bit positions
    val rows = (0 until 40).flatMap { i =>
      val hi = rnd.nextLong() & 0xffffffffL
      val lo = rnd.nextLong() & 0xffffffffL
      val d = i % 7
      val bits = rnd.shuffle((0 until 64).toList).take(d)
      var phi = hi; var plo = lo
      bits.foreach { b =>
        if (b >= 32) phi ^= 1L << (b - 32) else plo ^= 1L << b
      }
      Seq((i.toLong * 2, hi, lo), (i.toLong * 2 + 1, phi, plo))
    }.toDF("id", "phash_hi", "phash_lo")
    val got = Multimodal.phashNearDup(rows, maxHamming = 6)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 40).foreach { i =>
      assert(got.contains((i.toLong * 2, i.toLong * 2 + 1)),
        s"planted pair $i (d=${i % 7}) dropped — banding guarantee broken")
    }
  }

  test("phashNearDup at radius 3 keeps the selective 4x16 banding and exact distances") {
    import spark.implicits._
    val rows = Seq(
      (1L, 5L, 9L), (2L, 5L, 9L),           // d=0
      (3L, 5L, 9L ^ (1L << 7)),             // d=1 vs ids 1,2
      (4L, 5L ^ (1L << 3) ^ (1L << 17), 9L ^ (1L << 20) ^ (1L << 31)) // d=4: out
    ).toDF("id", "phash_hi", "phash_lo")
    val got = Multimodal.phashNearDup(rows, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got === Map((1L, 2L) -> 0, (1L, 3L) -> 1, (2L, 3L) -> 1), got.toString)
  }

  // ------------------------------------------------- WAV fingerprint path

  test("audioFingerprints: ids 100 apart are exact sample copies -> equal fingerprints") {
    import spark.implicits._
    val ids = Seq(3L, 17L, 103L, 117L).toDF("doc_id")
    val fps = Multimodal.audioFingerprints(spark,
      Multimodal.attachTonePayload(spark, ids, "doc_id"))
      .collect().map(f => f.id -> f.afp).toMap
    assert(fps.keySet === Set(3L, 17L, 103L, 117L), "all four tones decoded")
    assert(fps(3L) === fps(103L), "planted copy must fingerprint identically")
    assert(fps(17L) === fps(117L), "planted copy must fingerprint identically")
    assert(fps(3L) !== fps(17L), "different tones must differ")
  }

  // --------------------------------------------------------- null payloads

  // A null text attaches a null payload; every verb reads it as an empty
  // one instead of failing the task on a null dereference.
  private def nullDocs = {
    import spark.implicits._
    Seq((0L, null: String), (1L, null: String), (2L, null: String)).toDF("doc_id", "text")
  }

  private val nullPayloadRows: Seq[(String, () => Seq[Any], Seq[Any])] = Seq(
    ("extractFeatures", () => Multimodal.extractFeatures(spark,
        Multimodal.attachPayload(nullDocs, "doc_id", "text")).collect().toSeq.sortBy(_.id),
      (0L to 2L).map(id => Multimodal.MediaFeatures(id, 0L, 0, 0, 0.0))),
    ("dispatchFeatures", () => Multimodal.dispatchFeatures(spark,
        Multimodal.attachMixedPayload(nullDocs, "doc_id", "text")).collect().toSeq.sortBy(_.id),
      Seq(Multimodal.ModalFeatures(0L, "image", 0L, 0.0),
        Multimodal.ModalFeatures(1L, "audio", 0L, 0.0),
        Multimodal.ModalFeatures(2L, "video", 0L, 0.0))),
    ("sampleFrames", () => Multimodal.sampleFrames(spark,
        Multimodal.attachPayload(nullDocs, "doc_id", "text")).collect().toSeq,
      Seq.empty))

  for ((verb, run, expected) <- nullPayloadRows)
    test(s"null payload reads as an empty one: $verb") {
      assert(run() === expected)
    }

  // ------------------------------- walker and reader rejection paths

  private def withBytes(b: Array[Byte], at: Int, bytes: Array[Byte]): Array[Byte] = {
    val c = b.clone()
    System.arraycopy(bytes, 0, c, at, bytes.length)
    c
  }
  private def le32(v: Long): Array[Byte] = Array.tabulate(4)(i => (v >> (8 * i)).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** (case, mime, payload): synthetic clips and tones corrupted one way
    * each. The clip is 8×6 (stride 24) with `avih` at byte 24, so its
    * width sits at byte 64; the tone's `fmt ` chunk id sits at byte 12.
    */
  private val rejected: Seq[(String, String, Array[Byte])] = {
    val clip = Multimodal.syntheticClip(3L)
    val tone = Multimodal.syntheticTone(3L)
    val firstFrame = clip.indexOfSlice(ascii("00db").toSeq)
    Seq(
      ("truncated movi", "video/avi", java.util.Arrays.copyOf(clip, clip.length - 7)),
      ("avih renamed: frames before any header", "video/avi", withBytes(clip, 24, ascii("junk"))),
      ("chunk size past the end", "video/avi", withBytes(clip, firstFrame + 4, le32(0x7fffffffL))),
      ("width breaks the stride check", "video/avi", withBytes(clip, 64, le32(9L))),
      ("non-RIFF text", "video/avi", ascii("not a movie, just text")),
      ("non-RIFF text", "audio/wav", ascii("not a sound, just text")),
      ("corrupt WAV header: fmt chunk renamed", "audio/wav", withBytes(tone, 12, ascii("junk"))),
      ("corrupt WAV header: 8-bit samples", "audio/wav", withBytes(tone, 34, Array[Byte](8, 0))))
  }

  test("rejection rows are corrupt on purpose: the uncorrupted payloads decode and emit rows") {
    import spark.implicits._
    val clip = Multimodal.syntheticClip(3L)
    val tone = Multimodal.syntheticTone(3L)
    assert(Multimodal.decodeVideo(Iterator(Multimodal.MediaRow(1L, clip, "video/avi")))
      .next().n_frames === 24L)
    assert(Multimodal.decodeAudio(Iterator(Multimodal.MediaRow(1L, tone, "audio/wav")))
      .next().sample_rate === 8000)
    val ids = Seq(3L).toDF("doc_id")
    assert(Multimodal.sceneCuts(spark,
      Multimodal.attachClipPayload(spark, ids, "doc_id"), threshold = 20L).count() === 2L)
    assert(Multimodal.audioFingerprints(spark,
      Multimodal.attachTonePayload(spark, ids, "doc_id")).count() === 1L)
  }

  for ((name, mime, payload) <- rejected)
    test(s"$mime $name: decode falls back to the fake, sceneCuts/audioFingerprints emit nothing") {
      import spark.implicits._
      val row = Multimodal.MediaRow(7L, payload, mime)
      val b0 = payload(0) & 0xff
      val b1 = payload(1) & 0xff
      if (mime.startsWith("video/")) {
        val f = Multimodal.decodeVideo(Iterator(row)).next()
        assert((f.width, f.height, f.n_frames) === ((b0, b1, payload.length.toLong)))
      } else {
        val f = Multimodal.decodeAudio(Iterator(row)).next()
        assert((f.sample_rate, f.channels, f.n_frames) === ((0, 0, payload.length.toLong)))
      }
      val df = Seq((7L, payload, mime)).toDF("id", "payload", "format")
        .select(col("id"), col("payload"), struct(col("format")).as("meta"))
      val emitted =
        if (mime.startsWith("video/")) Multimodal.sceneCuts(spark, df, threshold = 1L).count()
        else Multimodal.audioFingerprints(spark, df).count()
      assert(emitted === 0L)
    }
}
