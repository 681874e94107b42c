package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

/** Structured Streaming surface: the windowed aggregate over a memory
  * stream must agree with the same plan run in batch.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("windowed counts over a stream match the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts(0, 5), "click", 1.0), (ts(0, 40), "click", 3.0),
      (ts(0, 50), "view", 2.0), (ts(1, 10), "click", 5.0))

    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData(data: _*)
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.startMemorySink(EventStream.windowCounts(stream), "agg_test")
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("agg_test").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    val batch = EventStream.windowCounts(data.toDF("ts", "event_type", "value")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(streamed == batch)
    assert(batch == Set(
      (ts(0, 0), "click", 2L, 1.0, 3.0),
      (ts(0, 0), "view", 1L, 2.0, 2.0),
      (ts(1, 0), "click", 1L, 5.0, 5.0)))
  }

  test("gap sessionization with custom state emits closed sessions append-mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.SessionEvent

    val mem = MemoryStream[SessionEvent]
    val sessions = EventStream.sessionize(mem.toDS(), gapMinutes = 10)
    val q = sessions.writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      // user 1: two sessions in one batch (gap 00:05 -> 00:30 exceeds 10m);
      // the second stays open until the watermark passes its timeout
      mem.addData(SessionEvent(1L, ts(0, 0)), SessionEvent(1L, ts(0, 5)),
        SessionEvent(1L, ts(0, 30)))
      q.processAllAvailable()
      val afterBatch1 = spark.table("sessions_test").as[graft.streaming.EventStream.Session]
        .collect().map(s => (s.user_id, s.session_start, s.session_end, s.n_events)).toSet
      assert(afterBatch1 == Set((1L, ts(0, 0), ts(0, 5), 2)))

      // a much later event from another user pushes the watermark past
      // 00:30 + 10m -> user 1's open session times out and closes
      mem.addData(SessionEvent(2L, ts(2, 0)))
      q.processAllAvailable()
      // one more microbatch so the timeout (evaluated against the NEW
      // watermark) fires
      mem.addData(SessionEvent(2L, ts(2, 1)))
      q.processAllAvailable()
      val afterTimeout = spark.table("sessions_test").as[graft.streaming.EventStream.Session]
        .collect().map(s => (s.user_id, s.session_start, s.session_end, s.n_events)).toSet
      assert(afterTimeout.contains((1L, ts(0, 30), ts(0, 30), 1)), afterTimeout.toString)
    } finally q.stop()
  }

  test("streaming as-of equals the batch as-of join under ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{Enriched, TickEvent}

    def tick(key: Long, m: Int, right: Boolean, id: Long, v: Double) =
      TickEvent(key, ts(0, m), right, id, v)
    // per-key event-time-ordered delivery across two micro-batches;
    // includes a same-instant right/left pair (right must win) and a
    // left with no prior right (None)
    val batch1 = Seq(tick(1L, 0, right = true, 100L, 1.0),
      tick(1L, 5, right = false, 1L, 0), tick(2L, 3, right = false, 2L, 0))
    val batch2 = Seq(tick(1L, 10, right = true, 101L, 2.0),
      tick(1L, 10, right = false, 3L, 0), tick(1L, 20, right = false, 4L, 0),
      tick(2L, 30, right = true, 102L, 9.0), tick(2L, 31, right = false, 5L, 0))

    val mem = MemoryStream[TickEvent]
    val q = EventStream.asOfStream(mem.toDS()).writeStream.format("memory")
      .queryName("asof_stream_test").outputMode("append").start()
    val streamed = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("asof_stream_test").as[Enriched].collect()
        .map(e => e.id -> e.asof_value).toMap
    } finally q.stop()

    val all = (batch1 ++ batch2).toDS()
    val left = all.filter(!_.isRight).toDF().select(col("key"), col("id"), col("ts"))
    val right = all.filter(_.isRight).toDF().select(col("key"), col("ts"), col("value"))
    val batch = graft.ops.AsOfJoin.asOf(left, right, "key", "ts",
      Seq("value" -> "asof_value")).collect()
      .map(r => r.getLong(r.fieldIndex("id")) ->
        (if (r.isNullAt(r.fieldIndex("asof_value"))) None
         else Some(r.getDouble(r.fieldIndex("asof_value"))))).toMap
    assert(streamed == batch)
    assert(streamed(3L).contains(2.0)) // same-instant right visible (<=)
    assert(streamed(2L).isEmpty)       // no prior right -> None
  }

  test("streaming domain quota equals batch domainCap under ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{Admitted, DocEvent}

    // per-domain id-ordered delivery across two micro-batches; domain a
    // exhausts its quota in batch 1, so batch 2's a-docs must be refused
    val batch1 = Seq(DocEvent(1L, "a"), DocEvent(2L, "a"), DocEvent(3L, "a"),
      DocEvent(10L, "b"))
    val batch2 = Seq(DocEvent(4L, "a"), DocEvent(5L, "a"), DocEvent(11L, "b"))

    val mem = MemoryStream[DocEvent]
    val q = EventStream.quotaStream(mem.toDS(), maxPerDomain = 2)
      .writeStream.format("memory").queryName("quota_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("quota_stream_test").as[Admitted].collect()
        .map(a => a.doc_id -> ((a.domain, a.rank_in_domain))).toMap
    } finally q.stop()

    assert(streamed == Map(1L -> (("a", 1)), 2L -> (("a", 2)),
      10L -> (("b", 1)), 11L -> (("b", 2))))
    // equals the batch twin over the whole delivery (ordered per domain)
    val urls = (batch1 ++ batch2)
      .map(d => (d.doc_id, s"https://${d.domain}.example.com/p/${d.doc_id}"))
      .toDF("doc_id", "url")
    val batch = graft.llm.Corpus.domainCap(urls, "doc_id", "url", maxPerDomain = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank_in_domain")).toMap
    assert(streamed.map { case (id, (_, rk)) => id -> rk } == batch)
  }

  test("streaming per-domain quotas equal batch temperatureSample under hash-ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{Admitted, DocEvent}

    // skewed mixture: 20 docs of a, 6 of b, 2 of c
    val docs = ((1L to 20L).map(DocEvent(_, "a"))
      ++ (21L to 26L).map(DocEvent(_, "b"))
      ++ (27L to 28L).map(DocEvent(_, "c"))).toList

    // the PLANNING pass: batch temperatureSample over the same corpus
    val batchDf = docs.map(d => (d.doc_id, d.domain)).toDF("id", "dom")
    val batch = graft.llm.Corpus.temperatureSample(batchDf, "id", "dom",
      tau = 0.5, nTarget = 10L).collect()
    val quotas = batch.map(r => r.getString(1) -> r.getLong(2).toInt).toMap
    val batchRanks = batch.map(r => r.getLong(0) -> r.getInt(3)).toMap

    // delivery in per-domain (rollingHash, id) order — the admission key
    def h(id: Long) = graft.functions.RollingHash.hashId(id)
    val ordered = docs.sortBy(d => (h(d.doc_id), d.doc_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)

    val mem = MemoryStream[DocEvent]
    val q = EventStream.quotaStream(mem.toDS(), quotas, defaultQuota = 0)
      .writeStream.format("memory").queryName("tquota_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      spark.table("tquota_stream_test").as[Admitted].collect()
        .map(a => a.doc_id -> a.rank_in_domain).toMap
    } finally q.stop()

    // same admitted set, same ranks as the batch planning pass
    assert(streamed == batchRanks)
    // a domain absent from the plan is dropped by defaultQuota = 0
    val mem2 = MemoryStream[DocEvent]
    val q2 = EventStream.quotaStream(mem2.toDS(), Map("a" -> 1), defaultQuota = 0)
      .writeStream.format("memory").queryName("tquota_stream_default")
      .outputMode("append").start()
    val s2 = try {
      mem2.addData(DocEvent(1L, "a"), DocEvent(2L, "zzz")); q2.processAllAvailable()
      spark.table("tquota_stream_default").as[Admitted].collect().map(_.doc_id).toSet
    } finally q2.stop()
    assert(s2 == Set(1L))
  }

  test("streaming length batching equals batch batchByLength under id-ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{BatchEvent, BatchedDoc}

    // counts span all three buckets plus the negative-clamp edge; global
    // id-ordered delivery across two micro-batches
    val docs = (1L to 24L).map(i => BatchEvent(i, i * 25L)) :+ BatchEvent(25L, -9L)
    val (b1, b2) = docs.sortBy(_.doc_id).splitAt(12)

    val mem = MemoryStream[BatchEvent]
    val q = EventStream.batchStream(mem.toDS(), Seq(100L, 300L),
      batchSize = 3, nStreams = 2)
      .writeStream.format("memory").queryName("batch_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      spark.table("batch_stream_test").as[BatchedDoc].collect()
        .map(d => d.doc_id -> ((d.n_toks, d.bucket, d.stream, d.batch_idx, d.pos_in_batch)))
        .toMap
    } finally q.stop()

    val batch = graft.llm.Corpus.batchByLength(
        docs.map(d => (d.doc_id, d.n_toks)).toDF("id", "n"),
        "id", "n", Seq(100L, 300L), batchSize = 3, nStreams = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2),
        r.getLong(3), r.getInt(4), r.getInt(5)))).toMap
    assert(streamed == batch)
  }

  test("streaming url dedup equals batch urlDedup keepers under ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.UrlAdmitted

    // three canonical pages arriving as five raw spellings (tracking
    // params, fragment, default port, host case, trailing slash) across
    // two micro-batches; batch 2's revisits must be refused from state
    val batch1 = Seq((1L, "HTTP://X.com:80/a?utm_source=z"),
      (5L, "http://x.com/a#frag"), (10L, "https://Y.com/b/"))
    val batch2 = Seq((7L, "http://x.com/a"), (11L, "https://y.com/b"),
      (20L, "https://z.com/c?q=1&utm_campaign=2"))

    val mem = MemoryStream[(Long, String)]
    val q = EventStream.urlDedupStream(mem.toDF().toDF("doc_id", "url"), "doc_id", "url")
      .writeStream.format("memory").queryName("url_dedup_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("url_dedup_stream_test").as[UrlAdmitted].collect()
        .map(a => a.canonical_url -> a.doc_id).toMap
    } finally q.stop()

    assert(streamed == Map("http://x.com/a" -> 1L, "https://y.com/b" -> 10L,
      "https://z.com/c?q=1" -> 20L))
    // equals the batch twin's keeper per canonical key (ordered delivery)
    val batch = graft.llm.Corpus.urlDedup(
      (batch1 ++ batch2).toDF("doc_id", "url"), "doc_id", "url")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streaming url dedup drops null id/url rows instead of dying") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.UrlAdmitted
    val mem = MemoryStream[(Option[Long], String)]
    val q = EventStream.urlDedupStream(mem.toDF().toDF("doc_id", "url"),
      "doc_id", "url")
      .writeStream.format("memory").queryName("url_dedup_null_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData((None, "http://a.com/x"), (Some(3L), null),
        (Some(5L), "http://a.com/y"))
      q.processAllAvailable() // one bad record must not kill the query
      spark.table("url_dedup_null_test").as[UrlAdmitted].collect()
        .map(a => a.canonical_url -> a.doc_id).toMap
    } finally q.stop()
    assert(streamed == Map("http://a.com/y" -> 5L))
  }

  test("streaming decontamination gate equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{Decontaminated, DocText}

    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val batch1 = Seq(DocText(1L, "the quick brown fox jumps over the lazy dog today"),
      DocText(2L, "completely different words nothing shared here at all whatsoever"))
    val batch2 = Seq(DocText(3L, "the quick brown fox jumps over the lazy cat instead"))

    val mem = MemoryStream[DocText]
    val q = EventStream.decontaminateStream(mem.toDS(), bench, "doc_id", "text", n = 8)
      .writeStream.format("memory").queryName("decon_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("decon_stream_test").as[Decontaminated].collect()
        .map(d => d.doc_id -> ((d.n_hits, d.keep))).toMap
    } finally q.stop()

    val batch = graft.llm.Corpus.decontaminate(
      (batch1 ++ batch2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(streamed == batch)
    assert(streamed(1L)._2 == false && streamed(2L)._2 == true)
  }

  test("funnel: strict ordering, greedy anchors, monotone step counts") {
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val e = Seq(
      // user 1: full funnel in order
      (1L, "view", ts(0)), (1L, "click", ts(1)), (1L, "purchase", ts(2)),
      // user 2: clicked BEFORE viewing — click must not count
      (2L, "click", ts(0)), (2L, "view", ts(1)), (2L, "purchase", ts(2)),
      // user 3: view only
      (3L, "view", ts(5)),
      // user 4: greedy anchor — first view at 0, click at 1 counts even
      // though a LATER view (at 3) has no click after it
      (4L, "view", ts(0)), (4L, "click", ts(1)), (4L, "view", ts(3)),
      // user 5: never viewed — appears nowhere
      (5L, "purchase", ts(9)))
      .toDF("user_id", "event_type", "ts")
    val out = EventStream.funnel(e, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // view: users 1,2,3,4; click-after-view: 1,4; purchase-after-that: 1
    // (user 2's purchase is dropped: no valid click anchor exists)
    assert(out == Map("view" -> 4L, "click" -> 2L, "purchase" -> 1L))
  }

  test("streaming funnel equals batch per-step counts under ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{FunnelEvent, FunnelProgress}
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val steps = Seq("view", "click", "purchase")
    val batch1 = Seq(
      FunnelEvent(1L, "view", ts(0)), FunnelEvent(1L, "click", ts(1)),
      FunnelEvent(2L, "click", ts(0)), FunnelEvent(2L, "view", ts(1)),
      FunnelEvent(3L, "view", ts(5)))
    val batch2 = Seq( // user 1 completes across batches; user 2's click stays invalid
      FunnelEvent(1L, "purchase", ts(7)), FunnelEvent(2L, "purchase", ts(8)))
    val mem = MemoryStream[FunnelEvent]
    val q = EventStream.funnelStream(mem.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream_test")
      .outputMode("update").start()
    val depths = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("funnel_stream_test").as[FunnelProgress].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.map(_.depth).max }
    } finally q.stop()
    val batchCounts = EventStream.funnel(
      (batch1 ++ batch2).map(e => (e.user_id, e.event_type, e.ts))
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // per-step user counts derived from final stream depths == batch
    (0 until steps.length).foreach { i =>
      assert(depths.values.count(_ >= i + 1).toLong == batchCounts(i.toLong),
        s"step $i diverges: depths=$depths batch=$batchCounts")
    }
    assert(depths == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("streaming perplexity gate equals the batch scorer bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{DocText, ScoredDoc}

    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog the quick end"))
      .toDF("doc_id", "text")
    val (bg, uni) = graft.llm.Corpus.bigramLm(ref, "text", topM = 5)
    val docs = Seq(
      DocText(1L, "the quick brown fox"),       // mostly LM hits
      DocText(2L, "unseen words entirely here"), // OOV backoff
      DocText(3L, "solo"),                       // no bigrams -> rejected
      DocText(4L, null))                         // null -> rejected
    val mem = MemoryStream[DocText]
    val q = EventStream.perplexityStream(mem.toDS(), bg, uni, maxScore = 3.0)
      .writeStream.format("memory").queryName("ppl_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(docs: _*); q.processAllAvailable()
      spark.table("ppl_stream_test").as[ScoredDoc].collect()
        .map(d => d.doc_id -> ((d.ppl, d.keep))).toMap
    } finally q.stop()

    val batchScores = graft.llm.Corpus.perplexityScore(
      docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      "doc_id", "text", bg, uni)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // scored docs: stream ppl equals batch ppl exactly (same JVM libm,
    // same in-order accumulation, same r6)
    assert(streamed(1L)._1.contains(batchScores(1L)))
    assert(streamed(2L)._1.contains(batchScores(2L)))
    assert(streamed(1L)._2 && !streamed(2L)._2) // fluent kept, OOV-heavy rejected
    // scoreless docs: absent from batch output, rejected in stream
    assert(!batchScores.contains(3L) && !batchScores.contains(4L))
    assert(streamed(3L) == ((None, false)) && streamed(4L) == ((None, false)))
    // batch filter agrees with the stream's keep decisions
    val kept = graft.llm.Corpus.perplexityFilter(
      docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      "doc_id", "text", bg, uni, maxScore = 3.0)
      .collect().map(_.getLong(0)).toSet
    assert(kept == streamed.filter(_._2._2).keySet)
  }

  test("streaming perplexity survives an inconsistent model like the batch scorer (skip, not throw)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{DocText, ScoredDoc}
    // hand-built BROKEN model: bigram (ghost, town) exists but 'ghost'
    // is absent from the unigram table — the batch join yields a NULL
    // log-prob for that term and avg() skips it; the stream must do
    // the same instead of dying on a map lookup
    val bg = Seq(("ghost", "town", 3L), ("the", "end", 2L)).toDF("a", "b", "cab")
    val uni = Seq(("the", 5L), ("town", 2L), ("end", 2L)).toDF("b", "cb")
    val docs = Seq(
      DocText(1L, "ghost town the end"), // one skipped term + LM/backoff terms
      DocText(2L, "ghost town"))         // ONLY the skipped term -> no score
    val mem = MemoryStream[DocText]
    val q = EventStream.perplexityStream(mem.toDS(), bg, uni, maxScore = 10.0)
      .writeStream.format("memory").queryName("ppl_broken_model_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(docs: _*); q.processAllAvailable()
      spark.table("ppl_broken_model_test").as[ScoredDoc].collect()
        .map(d => d.doc_id -> ((d.ppl, d.keep))).toMap
    } finally q.stop()
    val batch = graft.llm.Corpus.perplexityScore(
      docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      "doc_id", "text", bg, uni)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(streamed(1L)._1 == batch(1L) && streamed(1L)._1.isDefined)
    // all terms skipped: batch emits a NULL score, stream emits none + reject
    assert(batch(2L).isEmpty && streamed(2L) == ((None, false)))
  }

  test("perplexity LM cap: literal path refuses an over-cap model loudly; the join-path sink is bit-identical and replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStream.DocText
    val bg = Seq(("the", "quick", 3L), ("quick", "brown", 2L),
      ("brown", "fox", 1L)).toDF("a", "b", "cab")
    val uni = Seq(("the", 5L), ("quick", 3L), ("brown", 2L), ("fox", 1L))
      .toDF("b", "cb")
    val docs = Seq(
      DocText(1L, "the quick brown fox"),        // LM hits
      DocText(2L, "unseen words entirely here"), // OOV backoff
      DocText(3L, "solo"),                       // < 2 tokens -> reject
      DocText(4L, null))                         // null -> reject
    // cap 0 forces the switch: the literal path must fail at
    // CONSTRUCTION (not OOM mid-stream) and name the join-path twin
    val ex = intercept[IllegalArgumentException] {
      EventStream.perplexityStream(docs.toDS(), bg, uni, maxScore = 3.0,
        maxLmRows = 0)
    }
    assert(ex.getMessage.contains("perplexityScoredSink"))

    // join path: LM persisted as cluster tables, scored per micro-batch
    val bgT = "graft_ppl_join_bg"
    val uniT = "graft_ppl_join_uni"
    val outT = "graft_ppl_join_out"
    Seq(bgT, uniT, outT, s"${outT}_commits")
      .foreach(graft.ops.Bucketing.dropManaged(spark, _))
    bg.write.format("parquet").saveAsTable(bgT)
    uni.write.format("parquet").saveAsTable(uniT)
    val sink = EventStream.perplexityScoredSink(bgT, uniT, maxScore = 3.0,
      outTable = outT)
    sink(docs.take(2).toDS(), 0L)
    sink(docs.drop(2).toDS(), 1L)
    sink(docs.drop(2).toDS(), 1L) // replayed delivery: must be a no-op
    val got = spark.table(outT).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))))
      .toMap
    assert(spark.table(outT).count() == 4L) // replay appended nothing
    val batch = graft.llm.Corpus.perplexityScore(
      docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      "doc_id", "text", bg, uni)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // scored docs: join-path ppl equals the batch pipeline exactly
    assert(got(1L) == ((Some(batch(1L)), batch(1L) <= 3.0)))
    assert(got(2L) == ((Some(batch(2L)), batch(2L) <= 3.0)))
    // scoreless docs surface as reject rows, matching the stream twin
    assert(got(3L) == ((None, false)) && got(4L) == ((None, false)))
    // and the literal-path stream twin agrees wherever it scores
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocText]
    val q = EventStream.perplexityStream(mem.toDS(), bg, uni, maxScore = 3.0)
      .writeStream.format("memory").queryName("ppl_cap_lit_test")
      .outputMode("append").start()
    val lit = try {
      mem.addData(docs: _*); q.processAllAvailable()
      spark.table("ppl_cap_lit_test")
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))))
        .toMap
    } finally q.stop()
    assert(lit == got)
  }

  test("streaming sequence packing equals the batch operator under ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{PackEvent, PackedDoc}

    // ids rise across batches, so delivery is id-ordered per stream;
    // one NEGATIVE count rides along — both sides must clamp it to 0
    val batch1 = (1L to 6L).map(i => PackEvent(i, 100L * i))
    val batch2 = (7L to 12L).map(i => PackEvent(i, 70L * i)) :+ PackEvent(13L, -40L)

    val mem = MemoryStream[PackEvent]
    val q = EventStream.packStream(mem.toDS(), capacity = 256, nStreams = 4)
      .writeStream.format("memory").queryName("pack_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("pack_stream_test").as[PackedDoc].collect()
        .map(p => p.doc_id -> ((p.stream, p.start_offset, p.seq_first, p.seq_last))).toMap
    } finally q.stop()

    val batch = graft.llm.Corpus.packSequences(
      (batch1 ++ batch2).map(p => (p.doc_id, p.n_toks)).toDF("doc_id", "n"),
      "doc_id", "n", capacity = 256, nStreams = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(streamed == batch)
    assert(streamed.values.map(_._1).toSet.size > 1, "expect several streams in play")
  }

  test("streaming budget admission equals the batch histogram cut") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream.{ScoredTokDoc, BudgetAdmitted}

    // scores cluster on few distinct values so the boundary bin is
    // non-trivial; NULL scores and NULL/negative counts ride along
    val docs = (1L to 60L).map { i =>
      val score = if (i % 11 == 0) None else Some((i % 7).toDouble / 10.0)
      val n = if (i % 13 == 0) -5L else 20L + (i % 5) * 10L
      ScoredTokDoc(i, score, n)
    }
    val batchDf = docs.map(d => (d.doc_id, d.score, d.n_toks))
      .toDF("doc_id", "score", "n")
    val budget = 700L
    val batch = graft.llm.Corpus
      .selectByTokenBudget(batchDf, "doc_id", "score", "n", budget, nBins = 10)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getLong(2), r.getInt(3))).toSet

    val threshold = graft.llm.Corpus.budgetThreshold(
      batchDf, "score", "n", budget, nBins = 10)
    assert(threshold.boundary.nonEmpty,
      "fixture must exercise the ppm boundary bin, not only whole bins")
    val mem = MemoryStream[ScoredTokDoc]
    val q = EventStream.budgetStream(mem.toDS(), threshold)
      .writeStream.format("memory").queryName("budget_stream_test")
      .outputMode("append").start()
    val streamed = try {
      mem.addData(docs.take(25): _*); q.processAllAvailable()
      mem.addData(docs.drop(25): _*); q.processAllAvailable()
      spark.table("budget_stream_test").as[BudgetAdmitted].collect()
        .map(a => (a.doc_id, a.score, a.n_toks, a.bin)).toSet
    } finally q.stop()
    assert(streamed == batch)
    assert(batch.nonEmpty && batch.size < docs.size,
      "fixture must admit a strict non-empty subset")
  }

  test("stream-stream join matches right rows within the bounded window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = EventStream.streamStreamJoin(
      purchases.toDF().toDF("user_id", "pts", "amount"),
      clicks.toDF().toDF("user_id", "cts", "click_id"),
      "user_id", "pts", "cts", withinMinutes = 15)
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts(0, 0), 100L), (1L, ts(0, 50), 101L), (2L, ts(0, 5), 200L))
      purchases.addData((1L, ts(0, 10), 9.99)) // within 15m of click 100 only
      q.processAllAvailable()
      val rows = spark.table("ssj_test").collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getLong(4))).toSet
      // click 101 is AFTER the purchase; click 200 is another user
      assert(rows == Set((1L, 9.99, 100L)))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val deduped = EventStream.dedupStream(
      mem.toDF().toDF("ts", "fingerprint", "text"), "ts", "1 hour",
      Seq("fingerprint"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      // fp 10 twice in one batch, again in the next batch (still inside
      // the horizon) -> emitted once; fp 20 is distinct
      mem.addData((ts(0, 0), 10L, "a"), (ts(0, 5), 10L, "a"), (ts(0, 10), 20L, "b"))
      q.processAllAvailable()
      mem.addData((ts(0, 20), 10L, "a"))
      q.processAllAvailable()
      val fps = spark.table("dedup_test").collect()
        .map(_.getLong(1)).groupBy(identity).view.mapValues(_.length).toMap
      assert(fps == Map(10L -> 1, 20L -> 1))
    } finally q.stop()
  }

  test("streaming edge ingest: foreachBatch log + degree maintenance re-ranks identically to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val log = "edge_log_stream_spec"; val degT = "edge_deg_stream_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$log`")
    spark.sql(s"DROP TABLE IF EXISTS `$degT`")
    // batch 2 repeats edge 1->2 (multi-edge weight grows across
    // batches); batch 3 adds a brand-new node — the crawl-frontier
    // shapes incremental ingest must absorb
    val b1 = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val b2 = Seq((3L, 4L), (4L, 1L), (1L, 2L))
    val b3 = Seq((5L, 1L))
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("s", "d").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Graph.ingestEdges(batch, "s", "d", log, degT, nBuckets = 4)
      }
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    // the co-located log⋈degree join is the point of the layout: both
    // tables bucketed by src into the same count -> zero exchanges.
    // Broadcast off for the assertion: these fixture tables are tiny
    // enough to broadcast, which would hide the exchange question a
    // LARGE graph faces (the BucketingSpec discipline)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.ops.Bucketing.bucketedJoin(spark, log, degT, "src")
      val nEx = "(?<!Reused)Exchange".r
        .findAllIn(joined.queryExecution.executedPlan.toString).size
      assert(nEx === 0, s"log⋈degree join must be exchange-free, found $nEx exchanges")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val streamed = graft.ops.Graph.pageRankIngested(spark, log, degT, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.ops.Graph.pageRank(
      (b1 ++ b2 ++ b3).toDF("s", "d"), "s", "d", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed === batch,
      "incrementally ingested ranks must be bit-identical to batch over all edges")
    spark.sql(s"DROP TABLE IF EXISTS `$log`")
    spark.sql(s"DROP TABLE IF EXISTS `$degT`")
  }

  test("streaming incremental aggregate state equals the one-shot batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the materialized-view-refresh sink: each micro-batch folds into
    // the stored (cnt,sum,min,max) state via mergeStates — history is
    // never rescanned — and the final read-time view must equal the
    // one-shot aggregate over everything ingested
    val rows = (1 to 90).map(i => (s"g${i % 3}", (i * 13 % 200).toLong))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("g", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = graft.ops.Incremental.aggState(batch, Seq("g"), "v")
        state = Some(graft.ops.Incremental.mergeStates(
          state.toSeq :+ b, Seq("g")).localCheckpoint(true))
      }
      .start()
    try {
      mem.addData(rows.take(30): _*); q.processAllAvailable()
      mem.addData(rows.slice(30, 60): _*); q.processAllAvailable()
      mem.addData(rows.drop(60): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.ops.Incremental.finalizeState(state.get, Seq("g"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val batch = graft.ops.Incremental.finalizeState(
      graft.ops.Incremental.aggState(rows.toDF("g", "v"), Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(streamed === batch)
  }

  test("streaming histogram refresh equals the one-shot sketch; quantiles match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the quantile-sketch sibling of the incremental-aggregate sink:
    // each micro-batch's histogram folds into the stored state via
    // histMerge (bin-wise sums — history never rescanned), and the
    // read-time quantiles must equal the one-shot sketch over
    // everything ingested
    val rows = (1 to 120).map(i => ("g", ((i * 37) % 97).toDouble * 9.7))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val mem = MemoryStream[(String, Double)]
    val q = mem.toDF().toDF("g", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = graft.ops.Sketch.histogram(batch, "v", Seq("g"), 0.0, 1000.0, 32)
        state = Some(graft.ops.Sketch.histMerge(state.toSeq :+ b, Seq("g"))
          .localCheckpoint(true))
      }
      .start()
    try {
      mem.addData(rows.take(40): _*); q.processAllAvailable()
      mem.addData(rows.slice(40, 80): _*); q.processAllAvailable()
      mem.addData(rows.drop(80): _*); q.processAllAvailable()
    } finally q.stop()
    val oneShot = graft.ops.Sketch.histogram(rows.toDF("g", "v"), "v",
      Seq("g"), 0.0, 1000.0, 32)
    assert(state.get.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet)
    val qs = Seq(0.5, 0.9)
    val a = graft.ops.Sketch.histQuantiles(state.get, Seq("g"), 0.0, 1000.0, 32, qs)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val b = graft.ops.Sketch.histQuantiles(oneShot, Seq("g"), 0.0, 1000.0, 32, qs)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(a === b)
  }

  test("streaming HLL register maintenance equals the one-shot sketch, estimate bit-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the cardinality-sketch sibling of the histogram-refresh sink:
    // each micro-batch's registers fold into the stored state via
    // hllMerge (bucket-wise max — idempotent, so replayed or
    // overlapping batches cannot corrupt the estimate), and the
    // read-time estimate must be BIT-identical to the one-shot sketch
    // over everything ingested (register-max plus the ρ-cap's exact
    // dyadic sums make the estimator order-independent)
    val rows = (1 to 150).map(i => (s"g${i % 2}", (i * 17 % 97).toLong))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("g", "k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = graft.ops.Sketch.hllRegisters(batch, "k", Seq("g"))
        state = Some(graft.ops.Sketch.hllMerge(state.toSeq :+ b, Seq("g"))
          .localCheckpoint(true))
      }
      .start()
    try {
      mem.addData(rows.take(50): _*); q.processAllAvailable()
      mem.addData(rows.slice(50, 100): _*); q.processAllAvailable()
      // deliberate OVERLAP with batch 2: hllMerge is idempotent, the
      // folded state must not drift
      mem.addData(rows.drop(80): _*); q.processAllAvailable()
    } finally q.stop()
    val oneShot = graft.ops.Sketch.hllRegisters(rows.toDF("g", "k"), "k", Seq("g"))
    assert(state.get.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet,
      "stream-folded registers must equal the one-shot register table")
    val a = graft.ops.Sketch.hllEstimate(state.get, Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = graft.ops.Sketch.hllEstimate(oneShot, Seq("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a === b, "estimates must be bit-identical across the two states")
  }

  test("streaming count-min maintenance equals the one-shot sketch; point estimates match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the frequency-sketch sibling: counter-wise SUM folding (linear
    // sketch — NOT idempotent, batches must partition the stream, the
    // caller's exactly-once contract shared with Incremental)
    val rows = (1 to 200).map(i => Tuple1((i % 13).toLong))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val mem = MemoryStream[Tuple1[Long]]
    val q = mem.toDF().toDF("k").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = graft.ops.Sketch.countMinSketch(batch, "k")
        state = Some(graft.ops.Sketch.countMinMerge(state.toSeq :+ b)
          .localCheckpoint(true))
      }
      .start()
    try {
      mem.addData(rows.take(70): _*); q.processAllAvailable()
      mem.addData(rows.slice(70, 140): _*); q.processAllAvailable()
      mem.addData(rows.drop(140): _*); q.processAllAvailable()
    } finally q.stop()
    val oneShot = graft.ops.Sketch.countMinSketch(rows.toDF("k"), "k")
    assert(state.get.collect().map(_.toSeq).toSet ===
      oneShot.collect().map(_.toSeq).toSet,
      "stream-folded counters must equal the one-shot counter table")
    val keys = (0L until 13L).map(Tuple1(_)).toDF("k")
    val a = graft.ops.Sketch.countMinEstimate(state.get, keys, "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.ops.Sketch.countMinEstimate(oneShot, keys, "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // one-sided error: estimates never undercount the true frequency
    val truth = rows.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    truth.foreach { case (k, c) => assert(a(k) >= c, s"undercount at $k") }
  }

  test("decayedSum: hand-computed bucketed decay, clamped tail, nulls ignored") {
    import spark.implicits._
    def ts(day: String) = Timestamp.valueOf(s"$day 12:00:00")
    val rows = Seq(
      ("a", Some(100.0), Some(ts("2024-03-01"))), // k=0, weight 1
      ("a", Some(50.0), Some(ts("2024-02-23"))),  // 7d → k=1, weight 1/2
      ("a", Some(40.0), Some(ts("2024-02-10"))),  // 20d → k=2, weight 1/4
      ("a", Some(80.0), Some(ts("2023-01-26"))),  // 400d → k=57, clamps to 40
      ("a", None, Some(ts("2024-03-01"))),        // null value ignored
      ("a", Some(9.0), None),                     // null ts ignored
      ("b", Some(8.0), Some(ts("2024-02-27"))))   // 3d → k=0 (same ref: corpus max)
    val df = rows.toDF("g", "value", "ts")
    val got = graft.streaming.EventStream.decayedSum(df, "ts", "value", Seq("g"), 7)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // exact replica: Σ cents·2^(40−k), then the identical two divisions
    val num = BigInt(10000) * BigInt(2).pow(40) + BigInt(5000) * BigInt(2).pow(39) +
      BigInt(4000) * BigInt(2).pow(38) + BigInt(8000)
    val expA = Num.r6(num.toDouble / math.pow(2.0, 40.0) / 100.0)
    assert(got === Map("a" -> expA, "b" -> 8.0d), got.toString)
    // the clamped 400-day-old event contributes BELOW the r6 grid but
    // the dominant terms are exact: 100 + 25 + 10
    assert(got("a") === 135.0d)
  }

  test("streaming posting-list maintenance: folded BM25 inputs equal the one-shot index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the retrieval sibling of the sketch-maintenance sinks: the BM25
    // inputs — (doc, term, tf), (doc, dl) — are count states, mergeable
    // by SUM per key, so a crawl can fold new documents into its index
    // without rescanning history; df and the corpus stats derive from
    // the folded tf state at read time. Scores over the folded index
    // must be bit-identical to indexing everything at once
    val docs = (1L to 60L).map(i =>
      (i, s"term${i % 7} term${i % 5} filler${i % 3} term${i % 7} common"))
    var tfState: Option[org.apache.spark.sql.DataFrame] = None
    var dlState: Option[org.apache.spark.sql.DataFrame] = None
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val toks = batch.where(col("text").isNotNull)
          .select(col("doc_id").as("doc"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .where(col("term") =!= "")
        val tfB = toks.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
        val dlB = toks.groupBy(col("doc")).agg(count(lit(1)).as("dl"))
        tfState = Some((tfState.toSeq :+ tfB).reduce(_ unionByName _)
          .groupBy(col("doc"), col("term")).agg(sum(col("tf")).as("tf"))
          .localCheckpoint(true))
        dlState = Some((dlState.toSeq :+ dlB).reduce(_ unionByName _)
          .groupBy(col("doc")).agg(sum(col("dl")).as("dl"))
          .localCheckpoint(true))
      }
      .start()
    try {
      mem.addData(docs.take(20): _*); q.processAllAvailable()
      mem.addData(docs.slice(20, 40): _*); q.processAllAvailable()
      mem.addData(docs.drop(40): _*); q.processAllAvailable()
    } finally q.stop()
    val full = docs.toDF("doc_id", "text")
    val oneTf = full.select(col("doc_id").as("doc"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    assert(tfState.get.collect().map(_.toSeq).toSet ===
      oneTf.collect().map(_.toSeq).toSet,
      "folded tf state must equal the one-shot posting lists")
    // end-to-end: BM25 over the full corpus equals BM25 over a corpus
    // reconstructed from nothing but the folded states (tf carries all
    // token multiplicity — rebuild doc texts from it)
    val rebuilt = tfState.get
      .select(col("doc").as("doc_id"),
        expr("array_join(transform(sequence(1, cast(tf as int)), x -> term), ' ')").as("piece"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", sort_array(collect_list(col("piece")))).as("text"))
    val qs = Seq(("q", "term1 common")).toDF("qid", "qtext")
    def score(corpus: org.apache.spark.sql.DataFrame) =
      graft.llm.Retrieval.bm25TopK(corpus, "doc_id", "text", qs, "qid", "qtext", topK = 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(score(rebuilt) === score(full),
      "BM25 over the folded index must equal one-shot indexing")
  }

  test("cohort retention: offset-0 cells are the cohort sizes; matrix matches by hand") {
    import spark.implicits._
    // 2024-01-01 is a Monday, so each dts below IS its own week start
    def wk(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val events = Seq(
      (1L, wk(1)), (1L, wk(8)), (1L, wk(22)),            // u1: W0, W1, W3
      (2L, wk(1)), (2L, wk(3)), (2L, wk(15)),            // u2: W0, W0(dup), W2
      (3L, wk(9)), (3L, wk(17))                          // u3: W1, W2
    ).toDF("user_id", "ts")
    val got = EventStream.cohortRetention(events, "user_id", "ts")
      .collect().map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    val w0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val w1 = Timestamp.valueOf("2024-01-08 00:00:00")
    assert(got === Map(
      (w0, 0) -> 2L, (w0, 1) -> 1L, (w0, 2) -> 1L, (w0, 3) -> 1L,
      (w1, 0) -> 1L, (w1, 1) -> 1L))
  }

  test("streaming CDC apply: foreachBatch replay equals the one-shot change log") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // binlog replay as a stream: each micro-batch (arriving in seq
    // order) folds into the snapshot via applyChangeLog; the final
    // snapshot must equal applying the whole log at once
    val base = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("k", "v")
    val log = Seq(
      (1L, 1L, "U", "a1"), (2L, 1L, "D", null: String), (4L, 1L, "U", "d1"),
      (1L, 2L, "D", null: String), (3L, 2L, "U", "c2"), (2L, 3L, "U", "b3"))
    var state = base
    val mem = MemoryStream[(Long, Long, String, String)]
    val q = mem.toDF().toDF("k", "seq", "op", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = graft.ops.Load.applyChangeLog(state, batch, "k", "seq", "op")
          .localCheckpoint(true)
      }
      .start()
    try {
      mem.addData(log.filter(_._2 == 1L): _*); q.processAllAvailable()
      mem.addData(log.filter(_._2 == 2L): _*); q.processAllAvailable()
      mem.addData(log.filter(_._2 == 3L): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = state.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val oneShot = graft.ops.Load.applyChangeLog(base,
        log.toDF("k", "seq", "op", "v"), "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === oneShot)
    // k1: delete at seq 2 wins; k2: delete at 1 then reinsert at 3
    assert(oneShot === Map(2L -> "b3", 3L -> "c2", 4L -> "d1"))
  }

  test("streaming anomaly gate flags exactly the batch z-score outliers, identical z") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic skewed fixture: group a has a 3-sigma spike, group
    // b is noisy-but-flat, group c too small to score
    val rows = ((1 to 9).map(i => EventStream.ValueEvent(i.toLong, "a", 10.0)) :+
      EventStream.ValueEvent(10L, "a", 110.0)) ++
      (11 to 30).map(i => EventStream.ValueEvent(i.toLong, "b", (i % 5).toDouble)) :+
      EventStream.ValueEvent(31L, "c", 42.0)
    val df = rows.toDF()
    val stats = graft.ops.Profile.momentState(df, "value", Seq("g"))

    val mem = MemoryStream[EventStream.ValueEvent]
    val scored = EventStream.anomalyStream(mem.toDS(), stats, "g", threshold = 2.0)
    val q = scored.writeStream.format("memory").queryName("anomaly_test")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(12): _*); q.processAllAvailable()
      mem.addData(rows.drop(12): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anomaly_test").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(streamed.length === rows.length, "stateless gate scores every event")
    val streamedFlagged = streamed.filter(_._3).map(t => t._1 -> t._2).toMap

    val batch = graft.ops.Profile.zscoreOutliers(df, "value", Seq("g"), 2.0)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z")).toMap
    assert(streamedFlagged === batch)
    assert(batch.contains(10L), "the spike must be flagged")
  }

  test("exactly-once bucketed log sink: a re-delivered batch does NOT double rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = "graft_xonce_log_spec"
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    spark.sql(s"DROP TABLE IF EXISTS `${t}_commits`")
    try {
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("k", "v").writeStream
        .foreachBatch(graft.streaming.BucketedLogSink.sink(t, "k", 4))
        .start()
      try {
        mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
        mem.addData((3L, "c")); q.processAllAvailable()
      } finally q.stop()
      assert(spark.table(t).count() === 3L)
      val lastBatch = spark.table(s"${t}_commits")
        .agg(max(col("batch_id"))).first().getLong(0)
      // simulate Structured Streaming's at-least-once replay after a
      // failure: the SAME batch id is delivered again — the commit-log
      // check must make it a no-op
      val replayed = graft.streaming.BucketedLogSink.exactlyOnceAppend(
        Seq((3L, "c")).toDF("k", "v"), lastBatch, t, "k", 4)
      assert(!replayed, "re-delivered batch id must be skipped")
      assert(spark.table(t).count() === 3L, "replay doubled rows")
      // a genuinely NEW batch id still appends
      assert(graft.streaming.BucketedLogSink.exactlyOnceAppend(
        Seq((4L, "d")).toDF("k", "v"), lastBatch + 1, t, "k", 4))
      assert(spark.table(t).count() === 4L)
      // and the log keeps the bucketed layout appends rely on
      assert(graft.ops.Bucketing.bucketCountOf(spark, t) === 4)
      // snapshot reads: AS OF a batch id sees exactly the batches ≤ it,
      // and stays stable as later batches land (reproducibility)
      val asOf0 = graft.streaming.BucketedLogSink.asOf(spark, t, 0L)
      assert(asOf0.count() === 2L)
      assert(!asOf0.columns.contains("_batch_id"), "stamp column must not leak")
      assert(graft.streaming.BucketedLogSink.asOf(spark, t, lastBatch).count() === 3L)
      assert(graft.streaming.BucketedLogSink.asOf(spark, t, lastBatch + 1).count() === 4L)
      // crash-window exclusion: data files landed for a batch whose
      // commit record never made it (the documented two-writes window).
      // A snapshot must NOT see those rows — they would double when the
      // batch replays, breaking snapshot reproducibility
      graft.ops.Bucketing.appendBucketed(
        Seq((5L, "e")).toDF("k", "v")
          .withColumn("_batch_id", lit(lastBatch + 2)),
        t, "k")
      assert(spark.table(t).count() === 5L, "uncommitted data landed")
      assert(graft.streaming.BucketedLogSink.asOf(spark, t, lastBatch + 2)
        .count() === 4L, "snapshot leaked uncommitted crash-window rows")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      spark.sql(s"DROP TABLE IF EXISTS `${t}_commits`")
    }
  }

  test("streamed BM25 maintenance with a replayed batch is bit-identical to a batch ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = "graft_bm25_stream_spec"; val ref = "graft_bm25_streamref_spec"
    val all = Seq(t, ref).flatMap(x =>
      Seq(x, s"${x}_dl", s"${x}_stats", s"${x}_commits"))
    all.foreach(graft.ops.Bucketing.dropManaged(spark, _))
    val b1 = Seq((1L, "spark shuffles data across executors"),
      (2L, "posting lists make retrieval fast"))
    val b2 = Seq((3L, "spark buckets co locate joins"))
    try {
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(graft.llm.Retrieval.bm25Sink(t, "doc_id", "text", 4))
        .start()
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      // at-least-once replay of the LAST batch id must be a no-op
      val lastBatch = spark.table(s"${t}_commits")
        .agg(max(col("batch_id"))).first().getLong(0)
      graft.llm.Retrieval.bm25Sink(t, "doc_id", "text", 4)(
        b2.toDF("doc_id", "text"), lastBatch)
      graft.llm.Retrieval.ingestBm25((b1 ++ b2).toDF("doc_id", "text"),
        "doc_id", "text", ref, nBuckets = 4)
      // data columns only: the snapshot stamp legitimately differs
      // (streamed batches 0/1 vs the reference ingest's all-0)
      def rows(x: String) =
        spark.table(x).drop(graft.ops.Snapshots.BatchCol)
          .collect().map(_.toString).sorted.toSeq
      assert(rows(t) == rows(ref), "postings diverge after replay")
      assert(rows(s"${t}_dl") == rows(s"${ref}_dl"))
      assert(rows(s"${t}_stats") == rows(s"${ref}_stats"),
        "a replayed batch shifted N/sumdl")
      val qdf = Seq((1L, "spark retrieval")).toDF("qid", "qtext")
      assert(graft.llm.Retrieval.bm25TopKIngested(spark, t, qdf,
          "qid", "qtext", topK = 3).collect().map(_.toString).sorted.toSeq ==
        graft.llm.Retrieval.bm25TopKIngested(spark, ref, qdf,
          "qid", "qtext", topK = 3).collect().map(_.toString).sorted.toSeq)
    } finally all.foreach(graft.ops.Bucketing.dropManaged(spark, _))
  }
}
