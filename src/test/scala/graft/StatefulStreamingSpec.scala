package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{SessionEvent, SessionOut}

/** flatMapGroupsWithState sessionization: sessions survive micro-batch
  * boundaries and close on gap. */
class StatefulStreamingSpec extends SparkSpec {

  test("trained text models apply in streaming plans: nb, lm, bpe, standardize (stream == batch)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.text.{Bpe, NaiveBayes, NgramLm}
    import org.apache.spark.sql.functions.col
    // models trained on a static "trusted" corpus once; the stream is
    // new documents — all four applications are stateless projections/
    // broadcast joins, so they run unchanged under Structured Streaming
    val train = Seq((1, "apple banana apple", "fruit"),
      (2, "bolt nut washer", "hardware")).toDF("id", "text", "label")
    val nb = NaiveBayes.train(train, "id", "text", "label")
    val lm = NgramLm.train(train, "id", "text")
    val bpe = Bpe.train(train, "text", numMerges = 5)
    val batchDocs = Seq((10, "apple nut banana"), (11, "bolt bolt washer"))
    val batch = batchDocs.toDF("id", "text")
    val expectNb = NaiveBayes.predict(nb, batch, "id", "text")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val expectLm = NgramLm.score(lm, batch, "id", "text")
      .collect().map(r => (r.getInt(0), r.getDouble(2))).toSet
    val input = MemoryStream[(Int, String)]
    val streamed = input.toDS().toDF("id", "text")
      .withColumn("n_bpe", Bpe.tokenCount(col("text"), bpe))
    val query = streamed.writeStream.format("memory").queryName("txtmodels")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(batchDocs.head)
      query.processAllAvailable()
      input.addData(batchDocs(1))
      query.processAllAvailable()
      val got = spark.table("txtmodels").collect()
        .map(r => r.getInt(0) -> r.getInt(2)).toMap
      val want = batch.select(col("id"), Bpe.tokenCount(col("text"), bpe))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got === want)
    } finally query.stop()
    // nb predict + lm score need a grouped fold (collect_list), so run
    // them per micro-batch via foreachBatch — the composition pattern
    // the streaming-ANN row already pins; stream results == batch
    val got2 = scala.collection.mutable.Set.empty[(Int, String)]
    val got3 = scala.collection.mutable.Set.empty[(Int, Double)]
    val input2 = MemoryStream[(Int, String)]
    val q2 = input2.toDS().toDF("id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got2 ++= NaiveBayes.predict(nb, b, "id", "text")
          .collect().map(r => (r.getInt(0), r.getString(1)))
        got3 ++= NgramLm.score(lm, b, "id", "text")
          .collect().map(r => (r.getInt(0), r.getDouble(2)))
        ()
      }.start()
    try {
      input2.addData(batchDocs.head); q2.processAllAvailable()
      input2.addData(batchDocs(1)); q2.processAllAvailable()
    } finally q2.stop()
    assert(got2.toSet === expectNb)
    assert(got3.toSet === expectLm)
  }

  test("streamingIntervalJoin: stream ≡ batch intervalJoin across ≥3 micro-batches with late data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams
    // offset from epoch 0: a streaming query starts with watermark =
    // 1970-01-01T00:00:00, and the pre-join late-record filter drops
    // input rows whose event time does not exceed the current watermark
    // — so a row at exactly ts(0) silently vanishes before the join
    def ts(sec: Long) = new java.sql.Timestamp((1000L + sec) * 1000L)
    val leftRows = Seq(("u", ts(0), "a"), ("u", ts(500), "b"), ("w", ts(0), "c"))
    val rightRows = Seq(("u", ts(10), "x"), ("u", ts(100), "y"),
      ("u", ts(101), "z"), ("v", ts(10), "q"),
      // arrive in batch 3 OUT OF ORDER (event times far behind the max
      // already seen) but inside the watermark delay: w1 matches a's
      // band, r1 matches b's band
      ("u", ts(50), "w1"), ("u", ts(550), "r1"))
    val band = (0L, 100L * 1000000000L)
    val lBatch = leftRows.toDF("user_id", "ts", "id")
    val rBatch = rightRows.toDF("user_id", "ts", "id")
    // batch reference: the bucketed interval join, [0s, 100s] band
    val expected = EventStreams.intervalJoin(
      lBatch, rBatch, "user_id", "ts", band._1, band._2)
      .select("l_id", "r_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(expected === Set(("a", "x"), ("a", "y"), ("a", "w1"), ("b", "r1")))
    // the SAME operator on two batch frames: identical result + contract
    val onBatch = EventStreams.streamingIntervalJoin(
      lBatch, rBatch, "user_id", "ts", band._1, band._2)
    assert(onBatch.columns.toSeq ===
      Seq("user_id", "l_ts", "l_id", "r_ts", "r_id", "delta_ns"))
    assert(onBatch.select("l_id", "r_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet === expected)
    // streaming: native watermarked stream-stream inner join; the
    // watermark delay (600s) admits the batch-3 out-of-order rows
    val lIn = MemoryStream[(String, java.sql.Timestamp, String)]
    val rIn = MemoryStream[(String, java.sql.Timestamp, String)]
    val joined = EventStreams.streamingIntervalJoin(
      lIn.toDS().toDF("user_id", "ts", "id"), rIn.toDS().toDF("user_id", "ts", "id"),
      "user_id", "ts", band._1, band._2, watermark = "600 seconds")
    val q = joined.select("l_id", "r_id", "delta_ns").writeStream
      .format("memory").queryName("bandjoin")
      .outputMode(OutputMode.Append()).start()
    def got() = spark.table("bandjoin").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    try {
      // micro-batch 1: left a,b + right x — eager inner emission
      lIn.addData(leftRows.take(2): _*); rIn.addData(rightRows.head)
      q.processAllAvailable()
      assert(got() === Set(("a", "x")))
      // micro-batch 2: right y,z,q + left c — y joins buffered a
      lIn.addData(leftRows.drop(2): _*); rIn.addData(rightRows.slice(1, 4): _*)
      q.processAllAvailable()
      assert(got() === Set(("a", "x"), ("a", "y")))
      // micro-batch 3: LATE right rows (event time behind max seen, but
      // within the 600s watermark) still join the buffered left state
      rIn.addData(rightRows.drop(4): _*)
      q.processAllAvailable()
      assert(got() === expected)
      // heartbeats advance the watermark past every band: buffered
      // state is evicted without retracting already-emitted rows
      lIn.addData(("hb", ts(100000), "hb")); rIn.addData(("hb2", ts(100000), "hb"))
      q.processAllAvailable()
      lIn.addData(("hb", ts(100001), "hb")); rIn.addData(("hb2", ts(100001), "hb"))
      q.processAllAvailable()
      assert(got() === expected)
      // delta_ns contract matches the batch operator
      val deltas = spark.table("bandjoin").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(deltas(("a", "y")) === 100L * 1000000000L)
      assert(deltas(("b", "r1")) === 50L * 1000000000L)
      // the watermark boundary is REAL: a right row whose event time is
      // behind (max seen - 600s) arrives too late — its left partner's
      // state has been evicted, so it joins nothing. This is the one
      // deliberate divergence from the batch form (which sees all rows);
      // bounded state is the price of an unbounded stream.
      rIn.addData(("u", ts(20), "too_late"))
      q.processAllAvailable()
      assert(!spark.table("bandjoin").collect()
        .map(_.getString(1)).contains("too_late"))
    } finally q.stop()
  }

  test("sliding windows: streaming native hopping window ≡ batch slidingWindowStats") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions.{col, unix_timestamp}
    def ts(sec: Long) = new java.sql.Timestamp((100000L + sec) * 1000L)
    val rows = Seq(
      (ts(0), "view", 1.0), (ts(400), "view", 2.0), (ts(950), "click", 3.0),
      (ts(1000), "view", 4.0), (ts(2700), "click", 5.0), (ts(3650), "view", 6.0))
    val batch = EventStreams.slidingWindowStats(
      rows.toDF("ts", "event_type", "value"), 3600L, 900L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // each event covers 4 windows; spot-pin one: the 1h window starting
    // at +0s holds view@0,400,1000 and click@950
    val base = 100000L - (100000L % 900L) // ts() offset lands mid-bucket
    assert(batch.exists { case (w, t, c, s) => t == "view" && c == 3 && s == 7.0 && w >= base - 3600 })
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = EventStreams.streamingSlidingWindowStats(
      input.toDF().toDF("ts", "event_type", "value"), "1 hour", "15 minutes",
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("slide_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.take(3): _*); q.processAllAvailable()
      input.addData(rows.drop(3): _*); q.processAllAvailable()
      // two heartbeat rounds: advance the watermark past every window,
      // then run a micro-batch with it applied so closed windows emit
      input.addData((ts(100000), "hb", 0.0)); q.processAllAvailable()
      input.addData((ts(100001), "hb", 0.0)); q.processAllAvailable()
      val got = spark.table("slide_out")
        .filter(col("event_type") =!= "hb")
        .select(unix_timestamp(col("window_start")).as("w"),
          col("event_type"), col("cnt"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("native session_window: streaming ≡ batch sessionWindowStats across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions.col
    def ts(sec: Long) = new java.sql.Timestamp((50000L + sec) * 1000L)
    // user 1: one session split across micro-batches, then a second
    // session after the gap; user 2: single event
    val rows = Seq(
      (1L, ts(0), "e", 1.0), (1L, ts(600), "e", 2.0),
      (1L, ts(1000), "e", 3.0), (1L, ts(4000), "e", 4.0),
      (2L, ts(100), "e", 7.0))
    val batch = EventStreams.sessionWindowStats(
      rows.toDF("user_id", "ts", "event_type", "value"), gapSeconds = 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch.size === 3) // (u1 x2, u2 x1)
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = EventStreams.sessionWindowStats(
      input.toDF().toDF("user_id", "ts", "event_type", "value"),
      gapSeconds = 1800L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sesswin_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.take(2): _*); q.processAllAvailable()
      input.addData(rows.drop(2): _*); q.processAllAvailable()
      input.addData((99L, ts(100000), "hb", 0.0)); q.processAllAvailable()
      input.addData((99L, ts(100001), "hb", 0.0)); q.processAllAvailable()
      val got = spark.table("sesswin_out")
        .filter(col("user_id") =!= 99L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("stateful funnel: chain completes across micro-batches, stream ≡ batch, horizon binds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import EventStreams.{FunnelEvent, FunnelOut}
    val sec = 1000000000L
    val input = MemoryStream[FunnelEvent]
    val q = EventStreams.statefulFunnel(input.toDS(), numSteps = 3,
      horizonSeconds = 3600L)
      .writeStream.format("memory").queryName("funnel_stream_out")
      .outputMode(OutputMode.Append()).start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[FunnelEvent]
    def feed(evs: FunnelEvent*): Unit = {
      fed ++= evs; input.addData(evs: _*); q.processAllAvailable()
    }
    try {
      // batch 1: u1 opens (steps 0,1), u2 opens (step 0) — nothing emits
      feed(FunnelEvent(1L, 10 * sec, 0), FunnelEvent(1L, 20 * sec, 1),
        FunnelEvent(2L, 10 * sec, 0))
      assert(spark.table("funnel_stream_out").count() === 0)
      // batch 2: u1's final step lands -> exactly one emission, exact times
      feed(FunnelEvent(1L, 30 * sec, 2), FunnelEvent(2L, 20 * sec, 1))
      val done = spark.table("funnel_stream_out").as[FunnelOut].collect()
      assert(done.toSeq === Seq(FunnelOut(1L, Seq(10 * sec, 20 * sec, 30 * sec))))
      // equal-ts final step is NOT strictly after u2's click -> no emission
      feed(FunnelEvent(2L, 20 * sec, 2))
      assert(spark.table("funnel_stream_out").count() === 1)
      // u3: final step outside the anchored 3600s horizon never completes
      feed(FunnelEvent(3L, 1000 * sec, 0))
      feed(FunnelEvent(3L, 1001 * sec, 1), FunnelEvent(3L, 6000 * sec, 2))
      assert(spark.table("funnel_stream_out").count() === 1)
      // u2 finally converts in a later batch
      feed(FunnelEvent(2L, 40 * sec, 2))
      val out = spark.table("funnel_stream_out").as[FunnelOut].collect()
        .map(o => o.user_id -> o.step_times_ns).toMap
      assert(out === Map(
        1L -> Seq(10 * sec, 20 * sec, 30 * sec),
        2L -> Seq(10 * sec, 20 * sec, 40 * sec)))
      // stream ≡ batch: the batch funnelSteps over every event fed so far
      // finds exactly the streamed completions (single-chain users)
      val evDf = fed.toSeq.map(e => (e.user_id, s"s${e.step}", e.ts_ns))
        .toDF("user_id", "event_type", "ts")
      val batchDone = EventStreams.funnelSteps(evDf, Seq("s0", "s1", "s2"),
        horizonSeconds = 3600L)
        .filter(col("depth") === 3).collect()
        .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(batchDone === out.view.mapValues(_.map(_ / 1000L)).toMap)
    } finally q.stop()
  }

  test("stateful rolling stats: per-event trailing frame ≡ batch window, bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.{RollEvent, RollOut}
    val ms = 1000000L
    val b1 = Seq(RollEvent(1L, 1L * ms, 1L, 1.5), RollEvent(1L, 2L * ms, 2L, 2.25),
      RollEvent(2L, 5L * ms, 4L, 10.0), RollEvent(2L, 5L * ms, 5L, 20.0))
    val b2 = Seq(RollEvent(1L, 3L * ms, 3L, 3.125), RollEvent(2L, 6L * ms, 6L, 30.0))
    val input = MemoryStream[RollEvent]
    val q = EventStreams.statefulRollingStats(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("roll_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val stream = spark.table("roll_stream_out").as[RollOut].collect()
        .map(o => o.event_id -> ((o.roll_n, o.roll_sum, o.roll_avg, o.roll_max)))
        .toMap
      val batch = EventStreams.rollingStats(
        (b1 ++ b2).map(e => (e.event_id, e.user_id, e.ts_ns, e.value))
          .toDF("event_id", "user_id", "ts", "value"), k = 2)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
      assert(stream === batch) // exact doubles, not approximate
      assert(stream(3L) === ((2L, 5.375, 2.6875, 3.125))) // ring spans the batch boundary
    } finally q.stop()
  }

  test("stateful sessionize across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sec = 1000000000L
    val input = MemoryStream[SessionEvent]
    val sessions = EventStreams.statefulSessionize(input.toDS(), gapSeconds = 60, idleFlush = false)
    val query = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 opens a session with two close events
      input.addData(SessionEvent(1L, 0L, 1.0), SessionEvent(1L, 10L * sec, 2.0))
      query.processAllAvailable()
      // still open -> nothing emitted
      assert(spark.table("sess_out").count() === 0)

      // batch 2: an event 120 s later closes the first session
      input.addData(SessionEvent(1L, 130L * sec, 5.0))
      query.processAllAvailable()
      val closed = spark.table("sess_out").as[SessionOut].collect()
      assert(closed.length === 1)
      assert(closed.head === SessionOut(1L, 0L, 10L * sec, 2, 3.0))

      // batch 3: interleaved second user; gap closes their session too
      input.addData(SessionEvent(2L, 0L, 7.0), SessionEvent(2L, 200L * sec, 1.0))
      query.processAllAvailable()
      val all = spark.table("sess_out").as[SessionOut].collect()
      assert(all.contains(SessionOut(2L, 0L, 0L, 1, 7.0)))
    } finally query.stop()
  }

  test("streaming exact dedup holds fingerprints within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val deduped = graft.dedup.Dedup.streamingExactDedup(
      df, org.apache.spark.sql.functions.col("text"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:01:00")
      input.addData((t0, "hello"), (t1, "hello"), (t1, "world"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text")
        .collect().map(_.getString(0)).sorted
      assert(texts.toSeq === Seq("hello", "world"))
      // duplicate arriving in a later batch within the watermark: dropped
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), "hello"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }

  test("streaming minhash novelty: band collisions mark near-dups online") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "id", "text")
    val novelty = graft.dedup.Dedup.streamingMinhashNovelty(
      df, "id", org.apache.spark.sql.functions.col("text"),
      "ts", watermark = "5 minutes", k = 2, numHashes = 8, bands = 4,
      windowLength = "1 minute")
    val q = novelty.writeStream.format("memory").queryName("novel_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      val near = base + " extra" // shares most shingles -> most bands collide
      val other = "completely different words populate this other document body"
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((t0, "a", base), (t0, "b", near), (t0, "c", other))
      q.processAllAvailable()
      // advance the watermark far enough to close t0's window
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "z", "late sentinel"))
      q.processAllAvailable()
      val out = spark.table("novel_out")
        .select("id", "novel").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(out.get("a") === Some(true))   // first-seen: all bands novel
      assert(out.get("c") === Some(true))   // unrelated text: all bands novel
      // near-dup: at least one band collides with "a", so either absent
      // (all collided) or explicitly non-novel
      assert(!out.getOrElse("b", false))
      // exact duplicate arriving in a LATER batch within the watermark of
      // its original: all bands collide with held state -> absent/non-novel
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:31:00"), "d", base))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:32:00"), "e", base))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), "y", "flush sentinel two"))
      q.processAllAvailable()
      val out2 = spark.table("novel_out").select("id", "novel").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(out2.get("d") === Some(true)) // original state expired -> novel again
      assert(!out2.getOrElse("e", false))  // within watermark of d -> duplicate
    } finally q.stop()
  }

  test("streaming minhash novelty with fastHash: same online semantics, long-key state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val novelty = graft.dedup.Dedup.streamingMinhashNovelty(
      input.toDF().toDF("ts", "id", "text"), "id",
      org.apache.spark.sql.functions.col("text"),
      "ts", watermark = "5 minutes", k = 2, numHashes = 8, bands = 4,
      windowLength = "1 minute", fastHash = true)
    val q = novelty.writeStream.format("memory").queryName("novel_fast_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((t0, "a", base), (t0, "b", base + " extra"),
        (t0, "c", "completely different words populate this other document body"))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), "z", "late sentinel"))
      q.processAllAvailable()
      val out = spark.table("novel_fast_out").select("id", "novel").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(out.get("a") === Some(true))
      assert(out.get("c") === Some(true))
      assert(!out.getOrElse("b", false)) // near-dup bands collide online too
    } finally q.stop()
  }

  test("streaming embedding novelty: cosine-LSH bands flag near-dup vectors") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Seq[Float])]
    val df = input.toDF().toDF("ts", "id", "vector")
    val novelty = graft.dedup.Dedup.streamingEmbeddingNovelty(
      df, "id", "vector", "ts", watermark = "5 minutes",
      windowLength = "1 minute")
    val q = novelty.writeStream.format("memory").queryName("emb_novel_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val base = Synth.synthVector(7L, 32).toSeq
      val nearDup = base.updated(0, base.head + 0.001f)
      val unrelated = Synth.synthVector(99L, 32).toSeq
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((t0, "a", base), (t0, "b", nearDup), (t0, "c", unrelated))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"),
        "z", Synth.synthVector(500L, 32).toSeq))
      q.processAllAvailable()
      val out = spark.table("emb_novel_out")
        .select("id", "novel").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(out.get("a") === Some(true))
      assert(out.get("c") === Some(true))
      assert(!out.getOrElse("b", false)) // near-identical vector collides
    } finally q.stop()
  }

  test("asof lookup: identical on batch and stream; matches the union-window asof join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val right = Seq((1L, 40L, 4.0), (1L, 100L, 10.0), (1L, 101L, 99.0), (3L, 5L, 3.0))
      .toDF("k", "t", "v")
    val leftRows = Seq((1L, 100L, "p1"), (1L, 50L, "p0"), (2L, 10L, "p2"), (1L, 300L, "p3"))
    val leftBatch = leftRows.toDF("k", "t", "label")
    val batchOut = EventStreams.asofLookup(leftBatch, right, "k", "t", "v")
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(batchOut === Map("p1" -> Some(10.0), "p0" -> Some(4.0),
      "p2" -> None, "p3" -> Some(99.0)))
    // equivalent to the union-window as-of join on the same inputs
    val joined = EventStreams.asofJoin(leftBatch, right, "k", "t", Seq("v"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(joined === batchOut)
    // same operator on a stream (stateless broadcast lookup)
    val input = MemoryStream[(Long, Long, String)]
    val q = EventStreams.asofLookup(input.toDF().toDF("k", "t", "label"),
      right, "k", "t", "v")
      .writeStream.format("memory").queryName("asof_lookup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(leftRows: _*)
      q.processAllAvailable()
      val streamOut = spark.table("asof_lookup_out")
        .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
      assert(streamOut === batchOut)
    } finally q.stop()
  }

  test("stateful as-of vs UPDATING history: stream ≡ batch asofJoin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.{AsofStreamEvent, AsofStreamOut}
    val input = MemoryStream[AsofStreamEvent]
    val joined = EventStreams.statefulAsofJoin(input.toDS())
    val q = joined.writeStream.format("memory").queryName("asof_stream_out")
      .outputMode(OutputMode.Append()).start()
    def R(k: Long, t: Long, v: Double) = AsofStreamEvent(k, t, 0, v, null)
    def L(k: Long, t: Long, label: String) = AsofStreamEvent(k, t, 1, 0.0, label)
    try {
      // batch 1: first history tick, then a query after it
      input.addData(R(1L, 40L, 4.0), L(1L, 50L, "p0"))
      q.processAllAvailable()
      // batch 2: history UPDATES (two ticks, one at the query's own ts —
      // inclusive match) — the shape the static-broadcast lookup can't do
      input.addData(R(1L, 100L, 10.0), R(1L, 101L, 99.0), L(1L, 100L, "p1"))
      q.processAllAvailable()
      // batch 3: keyless query, unrelated key's history
      input.addData(L(2L, 10L, "p2"), R(3L, 5L, 3.0))
      q.processAllAvailable()
      // batch 4+5: another tick arrives, then queries after it — history
      // keeps updating between emissions
      input.addData(R(1L, 150L, 15.0))
      q.processAllAvailable()
      input.addData(L(1L, 200L, "p4"), L(1L, 300L, "p3"))
      q.processAllAvailable()
      val streamOut = spark.table("asof_stream_out").as[AsofStreamOut]
        .collect().map(o => o.label -> o.asof_value).toMap
      // batch asofJoin over the SAME accumulated inputs: equal, because
      // every tick arrived before the first query it should match
      val right = Seq((1L, 40L, 4.0), (1L, 100L, 10.0), (1L, 101L, 99.0),
        (3L, 5L, 3.0), (1L, 150L, 15.0)).toDF("k", "t", "v")
      val left = Seq((1L, 50L, "p0"), (1L, 100L, "p1"), (1L, 300L, "p3"),
        (2L, 10L, "p2"), (1L, 200L, "p4")).toDF("k", "t", "label")
      val batchOut = EventStreams.asofJoin(left, right, "k", "t", Seq("v"))
        .collect().map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
      assert(streamOut === batchOut)
      assert(streamOut === Map("p0" -> Some(4.0), "p1" -> Some(10.0),
        "p2" -> None, "p3" -> Some(15.0), "p4" -> Some(15.0)))
      // a LATE old tick corrects future matches only — already-emitted
      // rows are never retracted (append mode)
      input.addData(R(1L, 45L, 4.5))
      q.processAllAvailable()
      input.addData(L(1L, 46L, "p5"))
      q.processAllAvailable()
      val after = spark.table("asof_stream_out").as[AsofStreamOut]
        .collect().map(o => o.label -> o.asof_value).toMap
      assert(after("p5") === Some(4.5)) // late tick visible to later queries
      assert(after("p0") === Some(4.0)) // earlier emission unchanged
    } finally q.stop()
  }

  test("streaming document pipeline: quality filter -> PII scrub -> chunking, batch ≡ stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.text.TextAnalysis
    def pipeline(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      TextAnalysis.chunkTokens(
        docs.filter(TextAnalysis.gopherKeep(col("text"), minWords = 8))
          .withColumn("text", TextAnalysis.redactPii(col("text"))),
        "text", chunkSize = 6, overlap = 2)
        .select(col("id"), col("chunk_idx"), col("chunk"))
    val goodText = "please contact me at someone@example.com about the available cats " +
      "and dogs they are very good animals indeed"
    val docs = Seq(
      ("keep", goodText),
      ("drop_short", "too short"),
      ("drop_rep", ("spam " * 20).trim))
    val batchOut = pipeline(docs.toDF("id", "text")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(batchOut.nonEmpty && batchOut.forall(_._1 == "keep"))
    assert(batchOut.forall(!_._3.contains("example.com")), "PII must be scrubbed")
    assert(batchOut.exists(_._3.contains("[PII]")))
    val input = MemoryStream[(String, String)]
    val q = pipeline(input.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("doc_pipeline_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamOut = spark.table("doc_pipeline_out").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      assert(streamOut === batchOut)
    } finally q.stop()
  }

  test("streaming novelty against a static corpus: foreachBatch novelty cut, stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the incremental-ingest composition: an at-rest corpus (static),
    // documents ARRIVING AS A STREAM, each micro-batch cut to its novel
    // rows with the same against-dedup the batch pipeline uses
    val corpus = Seq(
      ("c1", (1 to 40).map(i => s"tok$i").mkString(" ")),
      ("c2", (100 to 140).map(i => s"tok$i").mkString(" "))
    ).toDF("id", "text")
    val arriving = Seq(
      ("b1", (1 to 40).map(i => s"tok$i").mkString(" ")),             // dup of c1
      ("b2", (100 to 140).map(i => s"tok$i").mkString(" ") + " t"),   // near c2
      ("b3", (500 to 540).map(i => s"tok$i").mkString(" ")))          // novel
    val expected = graft.dedup.Dedup.dropNearAgainst(corpus,
      arriving.toDF("id", "text"), "id", col("text"),
      k = 3, numHashes = 8, bands = 4, threshold = 0.5)
      .collect().map(_.getString(0)).toSet
    assert(expected === Set("b3"))
    val novel = scala.collection.mutable.Set.empty[String]
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.dedup.Dedup.dropNearAgainst(corpus, batch.toDF(), "id",
          col("text"), k = 3, numHashes = 8, bands = 4, threshold = 0.5)
          .collect().foreach(r => novel.synchronized { novel += r.getString(0) })
        ()
      }.start()
    try {
      input.addData(arriving: _*)
      q.processAllAvailable()
      assert(novel.toSet === expected)
    } finally q.stop()
  }

  test("streaming drift monitor: per-micro-batch PSI vs a static reference, stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Drift
    // the ops composition: a tuned-on reference at rest, new data
    // arriving as a stream, each micro-batch scored for drift with the
    // same batch PSI the offline monitor uses (foreachBatch — no
    // separate streaming scorer to keep correct)
    val ref = (1 to 200).map(_.toDouble).toDF("x")
    val arriving = (901 to 1000).map(_.toDouble)
    val expected = Drift.psi(ref, arriving.toDF("x"), "x")
      .agg(org.apache.spark.sql.functions.sum("psi_term")).head.getDouble(0)
    assert(expected > 0.25, "planted shift must read as drifted")
    val got = scala.collection.mutable.ArrayBuffer.empty[Double]
    val input = MemoryStream[Double]
    val q = input.toDF().toDF("x").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          val s = Drift.psi(ref, b.toDF(), "x")
            .agg(org.apache.spark.sql.functions.sum("psi_term")).head.getDouble(0)
          got.synchronized { got += s }
        }
        ()
      }.start()
    try {
      input.addData(arriving: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.size === 1 && got.head === expected)
  }

  test("streaming ANN: query stream answered per micro-batch via searchMany, stream ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the online-retrieval composition: a STATIC quantized corpus (codes
    // + model trained offline), queries ARRIVING AS A STREAM, each
    // micro-batch answered with the same batch searchMany the offline
    // pipeline uses (foreachBatch — no separate streaming search path to
    // keep correct)
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
    val model = graft.ann.Sq8.train(coll)
    val coded = graft.ann.Sq8.withCodes(coll, model).cache()
    coded.count()
    val qs = Tables.read(spark, sfDir, "embeddings").filter(col("vec_id") < 6)
      .select(col("vec_id").cast("string"), col("embedding"))
      .as[(String, Seq[Float])].collect().toSeq
    val input = MemoryStream[(String, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = input.toDF().toDF("qid", "qvector").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val res = graft.ann.Sq8.searchMany(coded, config, model, batch, 5,
          candidates = 30, knownNq = batch.count())
          .select("qid", "id").collect()
        got.synchronized { got ++= res.map(r => (r.getString(0), r.getString(1))) }
        ()
      }
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(qs.take(3))
      q.processAllAvailable()
      input.addData(qs.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val batchRes = graft.ann.Sq8.searchMany(coded, config, model,
      qs.toDF("qid", "qvector"), 5, candidates = 30, knownNq = qs.length.toLong)
      .select("qid", "id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sorted.toSeq === batchRes.sorted.toSeq)
    coded.unpersist()
  }

  test("streaming ingest into a persisted IVF-PQ layout: append per micro-batch, search ≡ batch-built") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the continuous-ingest half of the at-rest lifecycle: the layout is
    // trained and written ONCE, then arriving vectors append through the
    // SIDECAR's model per micro-batch (foreachBatch + appendPartitioned)
    // — no retraining, and the landed layout is indistinguishable from
    // one built in a single batch write
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.dims(spark, sfDir)
    val config = Tables.l2Config(d)
    val coll = Tables.embeddingsCollection(spark, sfDir, config)
      .select("id", "value", "vector").cache()
    val order = col("id").cast("long")
    val cents = graft.ann.IvfIndex.trainOrdered(coll, config,
      graft.ann.IvfIndex.IvfConfig(k = 4, iterations = 2), order)
    val cb = graft.ann.Pq.trainOrdered(coll, config,
      graft.ann.Pq.PqConfig(m = 4, k = 8, iterations = 2, sampleSize = 128), order)
    val ids = coll.select("id").as[String].collect().sorted
    val (seedIds, streamIds) = ids.splitAt(ids.length / 2)
    val path = java.nio.file.Files.createTempDirectory("graft_stream_ingest").toString + "/t"
    graft.ann.IvfPq.writePartitioned(
      coll.filter(col("id").isin(seedIds: _*)), cents, cb, path)
    val streamRows = coll.filter(col("id").isin(streamIds: _*))
      .select("id", "value", "vector")
      .as[(String, String, Seq[Float])].collect().toSeq
    val input = MemoryStream[(String, String, Seq[Float])]
    val q = input.toDF().toDF("id", "value", "vector").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // ids are disjoint by construction (exactly-once source); the
        // per-batch duplicate scan is the cautious mode, not needed here
        graft.ann.IvfPq.appendPartitioned(batch.sparkSession, path, batch,
          checkIds = false)
        ()
      }
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = streamRows.splitAt(streamRows.length / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(path).count() === coll.count())
    // partial probe: misplaced appended rows would surface here
    val qv = Tables.queryVector(spark, sfDir, 3L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSeq
    val streamed = key(graft.ann.IvfPq.searchPartitioned(spark, path, config,
      cents, cb, qv, 5, nprobe = 2, candidates = 40))
    val inMem = key(graft.ann.IvfPq.search(coll, config, cents, cb,
      qv, 5, nprobe = 2, candidates = 40))
    assert(streamed === inMem)
    coll.unpersist()
  }

  test("streaming embedding drift: windowed cell-mix PSI == the batch fold per closed window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cents = Array(Array(1f, 0f), Array(-1f, 0f))
    def v(plus: Boolean) = if (plus) Array(0.9f, 0.1f) else Array(-0.9f, 0.1f)
    val ref = ((0 until 50).map(_ => v(true)) ++ (0 until 50).map(_ => v(false)))
      .map(Tuple1(_)).toDF("vector")
    val input = MemoryStream[(java.sql.Timestamp, Array[Float])]
    val stream = graft.functions.Drift.psiEmbeddingStream(
      input.toDF().toDF("ts", "vector"), "vector", "ts", ref, cents,
      windowDur = "1 minute", watermark = "5 minutes")
    val q = stream.writeStream.format("memory").queryName("edrift_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val tA = java.sql.Timestamp.valueOf("2024-01-01 10:00:10")
      val tB = java.sql.Timestamp.valueOf("2024-01-01 10:10:10")
      // window A collapses onto the +x cell (9:1); window B is balanced
      val winA = (0 until 9).map(_ => v(true)) :+ v(false)
      val winB = (0 until 5).map(_ => v(true)) ++ (0 until 5).map(_ => v(false))
      input.addData(winA.map(x => (tA, x)))
      input.addData(winB.map(x => (tB, x)))
      q.processAllAvailable()
      // sentinel advances the watermark past both windows
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), v(true)))
      q.processAllAvailable()
      val out = spark.table("edrift_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(2)) ->
          (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      assert(out.size === 4, s"two closed windows x two cells: ${out.keySet}")
      // the drifted window matches the BATCH fold of its rows bit-exactly
      // (same ref counts, same IEEE double arithmetic)
      val batchA = graft.functions.Drift.psiEmbedding(ref,
        winA.map(Tuple1(_)).toDF("vector"), "vector", cents)
        .collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
      val aStart = "2024-01-01 10:00:00.0"
      (0 until 2).foreach { c =>
        assert(out((aStart, c)) === batchA(c), s"cell $c: stream != batch")
      }
      val psiA = (0 until 2).map(c => out((aStart, c))._3).sum
      val psiB = (0 until 2).map(c => out(("2024-01-01 10:10:00.0", c))._3).sum
      assert(psiA > 0.25, s"collapsed window must flag as drifted: $psiA")
      assert(psiB === 0.0, s"balanced window is exactly zero drift: $psiB")
    } finally q.stop()
  }

  test("facade streaming embedding drift: served from the collection's cells, self window zero, collapsed window flagged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val db = new graft.api.GraftDb(spark)
    val vecs = (0 until 240).map { i =>
      val a = i * 0.262
      db.EmbeddingInput(id = f"d$i%03d", vector = Array(
        math.cos(a).toFloat, math.sin(a).toFloat,
        ((i % 13) / 12.0f) - 0.5f, ((i % 7) / 6.0f) - 0.5f))
    }
    db.createCollection("sdrift", 4, metric = "cosine", index = "ivf")
    db.batch("sdrift", vecs)
    val input = MemoryStream[(java.sql.Timestamp, Array[Float])]
    val stream = db.embeddingDriftStream("sdrift",
      input.toDF().toDF("ts", "vector"), "ts",
      windowDur = "1 minute", watermark = "5 minutes")
    val q = stream.writeStream.format("memory").queryName("sdrift_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val tA = java.sql.Timestamp.valueOf("2024-01-01 10:00:10")
      val tB = java.sql.Timestamp.valueOf("2024-01-01 10:10:10")
      // window A replays the corpus's own RAW vectors — normalization
      // through the facade matches the put path, so drift is exactly
      // zero; window B is one angular sector
      input.addData(vecs.map(v => (tA, v.vector)))
      input.addData(vecs.filter(_.vector(0) > 0.8f).map(v => (tB, v.vector)))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 11:00:00"),
        vecs.head.vector))
      q.processAllAvailable()
      val rows = spark.table("sdrift_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(2), r.getDouble(5)))
      assert(rows.nonEmpty, "watermark must close both windows")
      val psiA = rows.filter(_._1 == "2024-01-01 10:00:00.0").map(_._3).sum
      val psiB = rows.filter(_._1 == "2024-01-01 10:10:00.0").map(_._3).sum
      assert(psiA === 0.0, s"self window must be exactly zero: $psiA")
      assert(psiB > 0.25, s"collapsed window must flag as drifted: $psiB")
    } finally { q.stop(); db.close("sdrift") }
  }

  test("streaming heavy hitters: the weighted summary aggregates across microbatches, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.text.TextAnalysis
    // an online data-mix monitor: sources ranked by token mass over
    // everything ingested so far — the stateful streaming form of the
    // text_heavy_sources gate row. The Misra-Gries buffer IS the
    // streaming state (serialize/deserialize through the state store),
    // bounded by `capacity` counters regardless of stream length.
    val rows = (0 until 120).map(i => (s"s${i % 6}", (i % 9 + 1).toLong))
    val expect = TextAnalysis.heavyHitters(rows.toDF("grp", "w"),
      col("grp"), col("w"), k = 4, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val input = MemoryStream[(String, Long)]
    val q = TextAnalysis.heavyHitters(input.toDF().toDF("grp", "w"),
      col("grp"), col("w"), k = 4, capacity = 64)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = rows.splitAt(70)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = spark.table("hh_stream")
        .orderBy(col("weight").desc, col("item").asc)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === expect, "streaming summary diverged from the batch fold")
    } finally q.stop()
  }

  test("appendStream: facade continuous ingest — per-batch capture, replay-idempotent, search == batch-built") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.GraftDb
    val db = new GraftDb(spark)
    val vecs = (0 until 80).map(i =>
      db.EmbeddingInput(id = f"w$i%02d", vector = Array(
        math.cos(i * 0.19).toFloat, math.sin(i * 0.23).toFloat,
        (i % 9) / 8.0f, (i % 4) / 3.0f)))
    val (seed, arriving) = vecs.splitAt(40)
    db.createCollection("si", 4, metric = "cosine", index = "ivf")
    db.batch("si", seed)
    val tmp = java.nio.file.Files.createTempDirectory("graft_append_stream")
    val path = tmp.toString + "/layout"
    db.persistIndex("si", path)
    val db2 = new GraftDb(spark)
    db2.openIndexed("si2", path)
    // the facade ground truth: a flat collection holding ALL the rows
    db.createCollection("si_flat", 4, metric = "cosine", index = "flat")
    db.batch("si_flat", vecs)
    val q = Array(0.7f, -0.2f, 0.5f, 0.3f)
    def top(d: GraftDb, name: String) =
      d.search(name, q, 10).select("id", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val input = MemoryStream[(String, Seq[Float])]
    val stream = input.toDF().toDF("id", "vector")
    // wide-open adaptive probes make the opened ivf collection exact —
    // any ingest misplacement (wrong cell, missed capture) surfaces
    spark.conf.set("spark.graft.ivf.ratio", "1e9")
    spark.conf.set("spark.graft.ivf.maxProbe", "64")
    val query = db2.appendStream("si2", stream, tmp.toString + "/ckpt")
    try {
      val (b1, b2) = arriving.map(e => (e.id, e.vector.toSeq)).splitAt(20)
      input.addData(b1); query.processAllAvailable()
      assert(db2.count("si2") === 60L, "batch 1 did not land or capture")
      input.addData(b2); query.processAllAvailable()
      assert(db2.count("si2") === 80L)
      assert(top(db2, "si2") === top(db, "si_flat"),
        "stream-ingested index diverges from the batch-built corpus")
      // REPLAY: re-delivering an already-committed microbatch must be a
      // no-op (a restarted stream re-runs its last uncommitted batch)
      db2.appendBatchIdempotent("si2", b2.toDF("id", "vector"))
      assert(db2.count("si2") === 80L, "replayed batch duplicated rows")
      assert(top(db2, "si2") === top(db, "si_flat"))
      // an id colliding WITHIN one microbatch is a data bug, not replay
      val dup = Seq(("x00", Seq(1f, 0f, 0f, 0f)), ("x00", Seq(0f, 1f, 0f, 0f)))
      val err = intercept[IllegalArgumentException] {
        db2.appendBatchIdempotent("si2", dup.toDF("id", "vector"))
      }
      assert(err.getMessage.contains("duplicate id within one microbatch"))
      assert(db2.count("si2") === 80L)
    } finally {
      query.stop()
      spark.conf.unset("spark.graft.ivf.ratio")
      spark.conf.unset("spark.graft.ivf.maxProbe")
    }
    // the at-rest layout itself holds exactly one row per id
    val atRest = spark.read.parquet(path)
    assert(atRest.count() === 80L &&
      atRest.select("id").distinct().count() === 80L)
    db.close("si"); db.close("si_flat"); db2.close("si2")
  }

  test("streaming quantized ingest: sq8/pq/cell columns are stateless projections") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // models trained offline on a static batch, applied to the stream
    val trainRows = (0 until 64).map(i => (i.toString, Seq.tabulate(4)(d => (i * (d + 1)).toFloat)))
    val static = trainRows.toDF("id", "vector")
    val model = graft.ann.Sq8.train(static)
    val config = graft.core.CollectionConfig("s", 4, graft.core.Metric.L2)
    val cb = graft.ann.Pq.trainOrdered(static, config,
      graft.ann.Pq.PqConfig(m = 2, k = 4, iterations = 2, sampleSize = 64), col("id"))
    val cents = graft.ann.IvfIndex.trainOrdered(static, config,
      graft.ann.IvfIndex.IvfConfig(k = 4, iterations = 2), col("id"))
    val input = MemoryStream[(String, Seq[Float])]
    val enc = graft.ann.IvfIndex.withCells(
      graft.ann.Pq.withCodes(
        graft.ann.Sq8.withCodes(input.toDF().toDF("id", "vector"), model), cb), cents)
    val q = enc.writeStream.format("memory").queryName("quant_stream_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(("x", Seq(1f, 2f, 3f, 4f)), ("y", Seq(60f, 120f, 180f, 240f)))
      q.processAllAvailable()
      val rows = spark.table("quant_stream_out").collect()
      assert(rows.length === 2)
      rows.foreach { r =>
        val v = r.getSeq[Float](r.fieldIndex("vector")).toArray
        assert(r.getAs[Array[Byte]]("sq8_codes").toSeq === graft.ann.Sq8.encodeVec(v, model).toSeq)
        assert(r.getAs[Array[Byte]]("pq_codes").toSeq === graft.ann.Pq.encodeVec(v, cb).toSeq)
        assert(r.getAs[Int]("ivf_cell") === graft.ann.IvfIndex.nearestCentroid(v, cents))
      }
    } finally q.stop()
  }

  test("streamingGate: quality + blocklist gates and within-watermark exact dedup, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import graft.functions.Curation
    // 20 distinct alpha words each: passes the Gopher gate
    val docA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docB = "uniform victor whiskey xray yankee zulu apple banana cherry " +
      "durian elder fig grape honey iris jasmine kiwi lemon mango nectar"
    val docBad = docA.replace("tango", "badterm") // gate-passing but listed
    val base = 1700000000L
    val rows1 = Seq((1, base, docA), (2, base + 10, docA), // dup, later arrival
      (3, base + 11, "too short"), (4, base + 12, docBad))
    val rows2 = Seq((5, base + 40, docB), (6, base + 41, docA)) // dup again
    val input = MemoryStream[(Int, Long, String)]
    val gated = Curation.streamingGate(
      input.toDS().toDF("id", "secs", "text")
        .withColumn("ts", timestamp_seconds(col("secs"))),
      "text", "ts", watermark = "10 minutes", blocklist = Seq("badterm"))
    val q = gated.writeStream.format("memory").queryName("curgate")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows1: _*); q.processAllAvailable()
      input.addData(rows2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("curgate").select("id")
      .collect().map(_.getInt(0)).toSet
    assert(streamed === Set(1, 5),
      "first arrivals of each unique gate-passing text only")
    // batch equivalence on the same rows (first arrival here = min id,
    // so the batch canonical-min dedup agrees)
    val all = (rows1 ++ rows2).toDF("id", "secs", "text")
    val batch = graft.dedup.Dedup.dropExactDuplicates(
      all.filter(graft.text.TextAnalysis.gopherKeep(col("text"), minWords = 20))
        .filter(graft.text.TextAnalysis.blocklistHits(col("text"), Seq("badterm")) <= 0),
      "id", col("text")).select("id").collect().map(_.getInt(0)).toSet
    assert(batch === streamed, "stream gate != batch gate on the same rows")
  }

  test("streamingGate nearDup: gate + exact + online minhash near-dup, stream == batch fold on planted near-copies") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import graft.functions.Curation
    // 20+ distinct words each so the Gopher gate passes; B is a planted
    // near-copy of A (one word appended -> most shingles shared), E a
    // near-copy of C, D an EXACT copy of A (killed by the exact stage
    // BEFORE its bands could enter near-dup state)
    val docA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docB = docA + " extra"
    val docC = "uniform victor whiskey xray yankee zulu apple banana cherry " +
      "durian elder fig grape honey iris jasmine kiwi lemon mango nectar"
    val docE = docC + " coda"
    val base = 1700000000L
    val rows = Seq((1, base, docA), (2, base + 10, docB), (3, base + 20, docC),
      (4, base + 30, docA), (5, base + 40, docE))
    val input = MemoryStream[(Int, Long, String)]
    val gated = Curation.streamingGate(
      input.toDS().toDF("id", "secs", "text")
        .withColumn("ts", timestamp_seconds(col("secs"))),
      "text", "ts", watermark = "10 minutes",
      nearDup = true, nearDupK = 2, nearDupHashes = 8, nearDupBands = 4)
    val q = gated.writeStream.format("memory").queryName("curgate_nd")
      .outputMode(OutputMode.Append()).start()
    try {
      // one microbatch per row: arrival order == event order, so the
      // batch fold below sees the same first-seen band sequence
      rows.foreach { r => input.addData(r); q.processAllAvailable() }
      // flush sentinel advances the watermark so all windows close
      input.addData((9, base + 3600, docC.replace("uniform", "sentinel")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("curgate_nd").select("id")
      .collect().map(_.getInt(0)).toSet
    // batch twin of the online contract: gate -> exact dedup (keep min
    // id) -> fold docs in arrival order, novel iff ALL band keys unseen;
    // every first-seen band enters the seen set whether or not its doc
    // survived (exactly dropDuplicatesWithinWatermark's state)
    val all = rows.toDF("id", "secs", "text")
    val exact = graft.dedup.Dedup.dropExactDuplicates(
      all.filter(graft.text.TextAnalysis.gopherKeep(col("text"), minWords = 20)),
      "id", col("text"))
    val banded = exact.select(col("id"),
        graft.text.TextAnalysis.minhashBandKeys(col("text"), 2, 8, 4).as("bands"))
      .collect().map(r => (r.getInt(0), r.getSeq[String](1))).sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    val batchKept = banded.collect { case (id, bands) =>
      val novel = bands.forall(b => !seen.contains(b))
      bands.foreach { b => if (!seen.contains(b)) seen += b }
      if (novel) Some(id) else None
    }.flatten.toSet
    assert(batchKept === Set(1, 3), "fixture sanity: near-copies must collide")
    assert(streamed === batchKept,
      "stream gate+nearDup != batch fold on the same rows")
  }

  test("streamingGate semanticDedup: paraphrase near-copies drop at the embedding stage, stream == batch fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    import graft.functions.Curation
    import graft.ann.CosineLsh
    val dims = 16
    // doc 2 is a PARAPHRASE of doc 1: zero shared words (the exact key
    // and MinHash bands admit it) but a near-identical embedding — only
    // the embedding bands can catch it. doc 4 = exact copy of doc 1
    // (killed by the exact stage, so NONE of its bands enter state);
    // doc 5 = TEXT near-copy of doc 3 (MinHash bands collide)
    val docA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val docP = "swift auburn foxes vault past sleepy canines while morning " +
      "light paints amber stripes across quiet meadows beyond silver rivers today"
    val docC = "uniform victor whiskey xray yankee zulu apple banana cherry " +
      "durian elder fig grape honey iris jasmine kiwi lemon mango nectar"
    val docE = docC + " coda"
    def emb(axis: Int, eps: Float): Seq[Float] =
      Seq.tabulate(dims)(d => (if (d == axis) 1f else 0f) +
        (if (d == (axis + 1) % dims) eps else 0f))
    // doc 6 has NO embedding: its e-keys are vacuous, so it gates on
    // text bands alone (and they must still ENTER state — doc 7, a text
    // near-copy of 6 with a fresh embedding, must drop against them)
    val docF = "ocean currents carry warm water toward northern coasts " +
      "while cold streams sink below and circle back along deep basins " +
      "feeding plankton blooms each spring season"
    val docG = docF + " coda"
    val base = 1700000000L
    val rows = Seq(
      (1, base, docA, emb(0, 0f)),
      (2, base + 10, docP, emb(0, 1e-4f)), // paraphrase of 1
      (3, base + 20, docC, emb(5, 0f)),
      (4, base + 30, docA, emb(9, 0f)),    // exact text copy of 1
      (5, base + 40, docE, emb(12, 0f)),   // text near-copy of 3
      (6, base + 50, docF, null: Seq[Float]),
      (7, base + 60, docG, emb(7, 0f)))    // text near-copy of the null-emb 6
    val lsh = CosineLsh.LshConfig(bands = 4, bitsPerBand = 4)
    // both minhash key families through the tagged union: md5 string
    // keys and the fast long keys (each casts into the m: namespace)
    for (fast <- Seq(false, true)) {
      val input = MemoryStream[(Int, Long, String, Seq[Float])]
      val gated = Curation.streamingGate(
        input.toDS().toDF("id", "secs", "text", "embedding")
          .withColumn("ts", timestamp_seconds(col("secs"))),
        "text", "ts", watermark = "10 minutes",
        nearDup = true, nearDupK = 2, nearDupHashes = 8, nearDupBands = 4,
        fastHash = fast, semanticDedup = true, semanticLsh = lsh)
      val q = gated.writeStream.format("memory")
        .queryName(s"curgate_sd_$fast")
        .outputMode(OutputMode.Append()).start()
      try {
        rows.foreach { r => input.addData(r); q.processAllAvailable() }
        input.addData((9, base + 3600,
          docC.replace("uniform", "sentinel"), emb(14, 0f)))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(s"curgate_sd_$fast").select("id")
        .collect().map(_.getInt(0)).toSet
      // batch twin: gate -> exact dedup -> ONE first-seen fold over the
      // tagged union of MinHash + embedding bands in arrival order (every
      // first-seen band of an exact survivor enters state, emitted iff
      // ALL bands novel — the gate's documented combined contract)
      val all = rows.toDF("id", "secs", "text", "embedding")
      val exact = graft.dedup.Dedup.dropExactDuplicates(
        all.filter(graft.text.TextAnalysis.gopherKeep(col("text"), minWords = 20)),
        "id", col("text"))
      val mk =
        if (fast) graft.text.TextAnalysis.minhashBandKeysFast(col("text"), 2, 8, 4)
        else graft.text.TextAnalysis.minhashBandKeys(col("text"), 2, 8, 4)
      val banded = exact.select(col("id"), mk.cast("array<string>").as("mb"),
          CosineLsh.bandKeysColumn(lsh)(
            graft.functions.VectorFunctions.normalizeVector(
              graft.core.Normalize.L2, col("embedding"))).as("eb"))
        .collect().map(r => (r.getInt(0),
          r.getSeq[String](1).map("m:" + _) ++
            (if (r.isNullAt(2)) Nil else r.getSeq[Int](2).map("e:" + _))))
        .sortBy(_._1)
      val seen = scala.collection.mutable.Set.empty[String]
      val batchKept = banded.collect { case (id, bands) =>
        val novel = bands.forall(b => !seen.contains(b))
        bands.foreach(seen += _)
        if (novel) Some(id) else None
      }.flatten.toSet
      assert(batchKept === Set(1, 3, 6),
        s"fixture sanity (fast=$fast): the paraphrase collides only on embedding " +
          "bands; the null-embedding doc passes but its text bands enter state")
      assert(streamed === batchKept,
        s"stream gate+semanticDedup != batch fold on the same rows (fast=$fast)")
    }
    // semantic-ONLY mode (no text family): a null-embedding row has no
    // band keys at all — it bypasses the stateful stage and is emitted,
    // exactly like the batch SemDeDup stage (a null cell pairs with
    // nothing); the paraphrase still drops
    locally {
      val input = MemoryStream[(Int, Long, String, Seq[Float])]
      val gated = Curation.streamingGate(
        input.toDS().toDF("id", "secs", "text", "embedding")
          .withColumn("ts", timestamp_seconds(col("secs"))),
        "text", "ts", watermark = "10 minutes",
        semanticDedup = true, semanticLsh = lsh)
      val q = gated.writeStream.format("memory").queryName("curgate_sd_only")
        .outputMode(OutputMode.Append()).start()
      try {
        rows.foreach { r => input.addData(r); q.processAllAvailable() }
        input.addData((9, base + 3600,
          docC.replace("uniform", "sentinel"), emb(14, 0f)))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("curgate_sd_only").select("id")
        .collect().map(_.getInt(0)).toSet
      // batch fold twin with e-bands only: a row with no embedding
      // bypasses (kept, contributes nothing) — text near-copies are
      // invisible to this mode. At bitsPerBand=4 novel embeddings can
      // still collide on single bands by chance, so the expectation is
      // the FOLD, not a hand-picked set
      val all = rows.toDF("id", "secs", "text", "embedding")
      val exact = graft.dedup.Dedup.dropExactDuplicates(
        all.filter(graft.text.TextAnalysis.gopherKeep(col("text"), minWords = 20)),
        "id", col("text"))
      val banded = exact.select(col("id"),
          CosineLsh.bandKeysColumn(lsh)(
            graft.functions.VectorFunctions.normalizeVector(
              graft.core.Normalize.L2, col("embedding"))).as("eb"))
        .collect().map(r => (r.getInt(0),
          if (r.isNullAt(1)) Nil else r.getSeq[Int](1)))
        .sortBy(_._1)
      val seen = scala.collection.mutable.Set.empty[Int]
      val batchKept = banded.collect { case (id, eb) =>
        val novel = eb.forall(b => !seen.contains(b))
        eb.foreach(seen += _)
        if (novel) Some(id) else None
      }.flatten.toSet
      // fixture sanity: the paraphrase drops on embedding bands, the
      // exact copy at the exact stage, the null-embedding row bypasses
      assert(!batchKept.contains(2) && !batchKept.contains(4) &&
        batchKept.contains(6) && batchKept.contains(1) && batchKept.contains(3))
      assert(streamed === batchKept,
        "semantic-only gate: stream != batch fold (null-embedding bypass)")
    }
  }
}
