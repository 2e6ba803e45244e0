package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, hour: Int) =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  private val sample = Seq(
    StreamDemo.Event(ts(1, 1), "click", 1.0),
    StreamDemo.Event(ts(1, 2), "click", 2.0),
    StreamDemo.Event(ts(1, 3), "view", 3.0),
    StreamDemo.Event(ts(2, 1), "click", 4.0),
    StreamDemo.Event(ts(2, 5), "view", 5.0))

  test("session replay coarsening (the bench knob) leaves the append " +
      "output unchanged for both the custom-state and native gates") {
    // graft.Bench sets graft.replay.coarsen=40 (clamped: env overrides
    // other than 1/40 fall back — r14 ADVICE, so the bench can never
    // run a coarsening this spec does not pin) so every replay
    // collapses to ~1 bucket + flush instead of ~30 daily ones — the
    // claim that this is pure latency trimming (same rows, same
    // event-time order, same final sessions) is pinned here for the
    // boundary-sensitive native MergingSessionsExec path (ev23) and
    // the flatMapGroupsWithState path (ev12).
    // ...and (round-14) for the two-sided lockstep interval-join
    // replays — inner, left-outer (tail flush via watermark expiry),
    // and full-outer (both unmatched sides) — whose buckets coarsen
    // the same way.
    // ...and (round-14 optimization) for the three fixed-width replay
    // gates whose semantics are slicing-invariant by construction:
    // append-on-window-finalize (ev14 — coarser buckets finalize
    // windows in groups), update-mode upsert (ev18 — every batch
    // emits the complete new aggregate per touched key), and
    // keep-latest CDC (ev24 — state depends on event-time order, not
    // batch slicing).
    for (q <- Seq("ev12_stream_sessions", "ev22_tws_sessions",
        "ev23_session_window", "ev13_stream_join",
        "ev17_stream_left_join", "ev25_stream_full_join",
        "ev14_stream_windows", "ev18_stream_upsert",
        "ev24_stream_cdc")) {
      def run(): Seq[Seq[Any]] =
        EventWindows.queries(q)(spark, sf)
          .collect().toSeq.map(_.toSeq)
      val daily = run()
      System.setProperty("graft.replay.coarsen", "40")
      val coarse = try run()
        finally System.clearProperty("graft.replay.coarsen")
      assert(coarse == daily,
        s"$q: coarsened replay changed the session output")
      assert(daily.nonEmpty)
    }
  }

  test("streaming windowed aggregation equals its batch evaluation") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamDemo.Event]
    val q = StreamDemo.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(sample: _*)
      q.processAllAvailable()
      val streaming = spark.table("win_out")
        .orderBy("ws", "eventType")
        .collect().map(_.toSeq).toSeq
      val batch = StreamDemo.windowedCounts(sample.toDF())
        .orderBy("ws", "eventType")
        .collect().map(_.toSeq).toSeq
      assert(streaming == batch)
      assert(batch.size == 4, "two days × two types")
    } finally q.stop()
  }

  test("streaming dedup emits each event id once, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = StreamDemo.dedupStream(
      stream.toDF().toDF("ts", "event_id", "value"), "event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((ts(1, 1), 1L, 1.0), (ts(1, 1), 1L, 1.0), (ts(1, 2), 2L, 2.0))
      q.processAllAvailable()
      stream.addData((ts(1, 2), 1L, 9.0)) // duplicate id across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_out")
        .select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-static incremental dedup drops corpus dups and in-stream repeats") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("existing doc one", "existing doc two").toDF("text")
      .select(org.apache.spark.sql.functions.sha2(col("text"), 256)
        .as("digest"))
    val stream = MemoryStream[(Timestamp, Long, String)]
    val q = StreamDemo.incrementalDedupStream(
      stream.toDF().toDF("ts", "doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(
        (ts(1, 1), 10L, "existing doc one"),   // exact dup of corpus
        (ts(1, 1), 11L, "genuinely novel doc"),
        (ts(1, 2), 12L, "genuinely novel doc")) // in-stream repeat
      q.processAllAvailable()
      stream.addData((ts(1, 3), 13L, "another novel doc"))
      q.processAllAvailable()
      val ids = spark.table("incdedup_out")
        .select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(11L, 13L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks within the window, equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clks = MemoryStream[(Timestamp, String)]
    val q = StreamDemo.intervalJoin(
      imps.toDF().toDF("impTs", "impAd"),
      clks.toDF().toDF("clickTs", "clickAd"))
      .writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val impData = Seq((ts(1, 1), "a"), (ts(1, 3), "a"), (ts(1, 5), "b"))
      val clkData = Seq(
        (ts(1, 1), "a"),  // joins the 01:00 impression (same instant)
        (ts(1, 4), "a"),  // within 1h of the 03:00 impression only
        (ts(2, 5), "b"))  // a day late — no impression within 1h
      imps.addData(impData: _*)
      clks.addData(clkData: _*)
      q.processAllAvailable()
      val streaming = spark.table("ij_out")
        .orderBy("ad", "impTs", "clickTs").collect().map(_.toSeq).toSeq
      val batch = StreamDemo.intervalJoin(
        impData.toDF("impTs", "impAd"), clkData.toDF("clickTs", "clickAd"))
        .orderBy("ad", "impTs", "clickTs").collect().map(_.toSeq).toSeq
      assert(streaming == batch, s"streaming $streaming vs batch $batch")
      assert(batch.size == 2, s"expected exactly two joined pairs: $batch")
    } finally q.stop()
  }

  test("FULL OUTER interval join flushes BOTH unmatched sides, equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clks = MemoryStream[(Timestamp, String)]
    val q = StreamDemo.intervalJoinFullOuter(
      imps.toDF().toDF("impTs", "impAd"),
      clks.toDF().toDF("clickTs", "clickAd"))
      .writeStream.format("memory").queryName("fj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val impData = Seq((ts(1, 1), "a"), (ts(1, 5), "b")) // b never clicked
      val clkData = Seq((ts(1, 1), "a"), (ts(2, 5), "c")) // c organic click
      imps.addData(impData: _*)
      clks.addData(clkData: _*)
      q.processAllAvailable()
      // far-future keep-alives on BOTH sides push the (min-of-sources)
      // watermark past every real row so unmatched state expires
      imps.addData((ts(9, 1), "zi"))
      clks.addData((ts(9, 1), "zc"))
      q.processAllAvailable()
      val streaming = spark.table("fj_out")
        .filter(!col("ad").isin("zi", "zc"))
        .orderBy("ad", "impTs", "clickTs").collect().map(_.toSeq).toSeq
      val batch = StreamDemo.intervalJoinFullOuter(
        impData.toDF("impTs", "impAd"), clkData.toDF("clickTs", "clickAd"))
        .orderBy("ad", "impTs", "clickTs").collect().map(_.toSeq).toSeq
      assert(streaming == batch, s"streaming $streaming vs batch $batch")
      // a matched, b null-click, c null-impression
      assert(batch.size == 3, s"expected 3 rows: $batch")
      assert(batch.count(_.contains(null)) == 2)
    } finally q.stop()
  }

  test("stream-stream interval join is provider-invariant: RocksDB " +
      "state store yields the same joins") {
    // The ev21/ev22 argument extended to JOIN state: the state-store
    // backend (HDFS-default vs RocksDB) is an execution choice, never
    // a semantics one. Same fixture as the spec above, run with the
    // RocksDB provider pinned before query start (a streaming query
    // fixes its provider at first start).
    implicit val sqlCtx = spark.sqlContext
    graft.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val imps = MemoryStream[(Timestamp, String)]
      val clks = MemoryStream[(Timestamp, String)]
      val q = StreamDemo.intervalJoin(
        imps.toDF().toDF("impTs", "impAd"),
        clks.toDF().toDF("clickTs", "clickAd"))
        .writeStream.format("memory").queryName("ij_rocks_out")
        .outputMode(OutputMode.Append()).start()
      try {
        val impData = Seq((ts(1, 1), "a"), (ts(1, 3), "a"), (ts(1, 5), "b"))
        val clkData = Seq((ts(1, 1), "a"), (ts(1, 4), "a"), (ts(2, 5), "b"))
        imps.addData(impData: _*)
        clks.addData(clkData: _*)
        q.processAllAvailable()
        val streaming = spark.table("ij_rocks_out")
          .orderBy("ad", "impTs", "clickTs").collect().map(_.toSeq).toSeq
        val batch = StreamDemo.intervalJoin(
          impData.toDF("impTs", "impAd"), clkData.toDF("clickTs", "clickAd"))
          .orderBy("ad", "impTs", "clickTs").collect().map(_.toSeq).toSeq
        assert(streaming == batch,
          s"RocksDB streaming $streaming vs batch $batch")
        assert(batch.size == 2)
      } finally q.stop()
    }
  }

  test("interval join under bucketed replay joins across the bucket boundary") {
    // The ev13_stream_join exactness argument: with ordered ≥1h-wide
    // buckets and 2h watermark delay, an impression buffered near a
    // bucket's end must survive into the next micro-batch to meet its
    // click — eviction only once the watermark passes impTs+1h. Replay
    // two day-buckets; the day-1 23:00 impression joins the day-2 00:00
    // click (next batch), while a click 2h after its impression never
    // joins even though both sides share an ad.
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clks = MemoryStream[(Timestamp, String)]
    val q = StreamDemo.intervalJoin(
      imps.toDF().toDF("impTs", "impAd"),
      clks.toDF().toDF("clickTs", "clickAd"))
      .writeStream.format("memory").queryName("ij_bucket_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // bucket 1 (day 1): boundary impression + an impression whose
      // click comes too late; per-stream keep-alives pin the watermark.
      imps.addData((ts(1, 23), "a"), (ts(1, 3), "b"), (ts(1, 23), "ka1"))
      clks.addData((ts(1, 23), "ka2"))
      q.processAllAvailable()
      // bucket 2 (day 2): the cross-boundary click (in-window for "a");
      // "b"'s click is 2h after its impression — out of window.
      imps.addData((ts(2, 23), "ka1"))
      clks.addData((ts(2, 0), "a"), (ts(1, 5), "b"), (ts(2, 23), "ka2"))
      q.processAllAvailable()
      val got = spark.table("ij_bucket_out")
        .select("ad").as[String].collect().toSeq
      assert(got == Seq("a"), s"expected only the cross-boundary pair: $got")
    } finally q.stop()
  }

  test("stream-static semantic dedup drops near vectors, keeps orthogonal ones") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    def prep(df: org.apache.spark.sql.DataFrame, vc: String, nc: String) = {
      val v = transform(col("embedding"), _.cast("double"))
      df.withColumn(vc, v)
        .withColumn(nc, sqrt(graft.functions.VecDot.vecDot(col(vc), col(vc))))
    }
    val corpus = prep(Seq(Seq(1f, 0f)).toDF("embedding"), "cv", "cnrm")
      .select("cv", "cnrm")
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamDemo.semanticDedupStream(
      prep(stream.toDF().toDF("vec_id", "embedding"), "v", "nrm"),
      corpus, tau = 0.9)
      .select("vec_id")
      .writeStream.format("memory").queryName("semdedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((1L, Seq(0.9f, 0.1f)), (2L, Seq(0f, 1f)))
      q.processAllAvailable()
      stream.addData((3L, Seq(2f, 0f))) // parallel, scaled — still cos 1
      q.processAllAvailable()
      val kept = spark.table("semdedup_out")
        .select("vec_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(2L), s"got ${kept.toSeq}")
    } finally q.stop()
  }

  test("file-source readStream over the events parquet equals its batch evaluation") {
    // stage the events file into a landing DIRECTORY (the file-stream
    // source tails a directory; testdata ships a single file)
    val dir = graft.lake.Lake.scratchDir("stream_landing")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events-0.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val streamed = StreamDemo.eventStream(spark, dir, schema)
      .select(col("ts").cast("timestamp").as("ts"),
        col("event_type").as("eventType"), col("value"))
    val q = StreamDemo.windowedCounts(streamed)
      .writeStream.format("memory").queryName("file_win_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streaming = spark.table("file_win_out")
        .orderBy("ws", "eventType").collect().map(_.toSeq).toSeq
      val batch = StreamDemo.windowedCounts(
        graft.Tables.load(spark, sf, "events")
          .select(col("ts"), col("event_type").as("eventType"), col("value")))
        .orderBy("ws", "eventType").collect().map(_.toSeq).toSeq
      assert(streaming == batch && batch.nonEmpty,
        s"stream=${streaming.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("checkpointed file sink restarts exactly-once: no loss, no duplicates") {
    import java.nio.file.{Files, Paths}
    val landing = graft.lake.Lake.scratchDir("eo_landing")
    val out = graft.lake.Lake.scratchDir("eo_out")
    val ckpt = graft.lake.Lake.scratchDir("eo_ckpt")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val allIds = raw.select("event_id").as[Long].collect().toSet
    def stage(tag: String, pred: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.lake.Lake.scratchDir(s"eo_$tag")
      raw.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$landing/$tag.parquet"))
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema(raw.schema).parquet(landing)
        .select(col("event_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // first half, run, STOP (simulated failure/redeploy)
    stage("h1", $"event_id" % 2 === 0)
    runOnce()
    // second half lands while the job is down; restart from checkpoint
    stage("h2", $"event_id" % 2 =!= 0)
    runOnce()
    val got = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(got.length == allIds.size, s"${got.length} rows vs ${allIds.size}")
    assert(got.toSet == allIds, "ids lost or invented across restart")
  }

  test("flatMapGroupsWithState sessionization closes sessions on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Timestamp)]
    val q = StreamDemo.sessionize(stream.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // two users with open sessions
      stream.addData((1L, ts(1, 1)), (2L, ts(1, 1)))
      q.processAllAvailable()
      // batch 2 is 60 min later — BEYOND the 30-min gap: the arrival
      // itself closes the first sessions (data-driven split; the
      // watermark is only at 01:00, so a timeout could not have fired)
      stream.addData((1L, ts(1, 2)), (2L, ts(1, 2)))
      q.processAllAvailable()
      val afterSplit = spark.table("sess_out")
        .as[StreamDemo.SessionOut].collect().toSet
      assert(afterSplit == Set(
        StreamDemo.SessionOut(1L, 1, ts(1, 1).getTime, ts(1, 1).getTime),
        StreamDemo.SessionOut(2L, 1, ts(1, 1).getTime, ts(1, 1).getTime)),
        s"data-driven split should close the 01:00 sessions: $afterSplit")
      // a far-future event advances the watermark past the second
      // sessions' timeouts
      stream.addData((3L, ts(2, 12)))
      q.processAllAvailable()
      stream.addData((3L, ts(2, 13))) // one more batch so timeouts fire
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .as[StreamDemo.SessionOut].collect()
        .groupBy(_.userId).view.mapValues(_.toSet).toMap
      assert(sessions.keySet == Set(1L, 2L, 3L), s"got ${sessions.keySet}")
      for (u <- Seq(1L, 2L)) assert(sessions(u) == Set(
        StreamDemo.SessionOut(u, 1, ts(1, 1).getTime, ts(1, 1).getTime),
        StreamDemo.SessionOut(u, 1, ts(1, 2).getTime, ts(1, 2).getTime)),
        s"user $u sessions: ${sessions(u)}")
      // user 3's own two events are 60 min apart — its first session
      // closes by data-driven split; the second stays open (no later
      // watermark advance), correctly unemitted
      assert(sessions(3L) == Set(
        StreamDemo.SessionOut(3L, 1, ts(2, 12).getTime, ts(2, 12).getTime)),
        s"user 3 sessions: ${sessions(3L)}")
    } finally q.stop()
  }

  test("upsertState merges changed keys and rewrites only affected buckets") {
    val dir = java.nio.file.Files
      .createTempDirectory("upsert_spec_").toString + "/state"
    def bucketFiles(): Map[String, Set[String]] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("kb="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    StreamDemo.upsertState(spark,
      dir, Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "n"),
      Seq("k"), nBuckets = 4)
    val before = bucketFiles()
    // empty batch is a no-op (streams deliver them on keep-alives)
    StreamDemo.upsertState(spark,
      dir, Seq.empty[(String, Long)].toDF("k", "n"), Seq("k"), 4)
    assert(bucketFiles() == before, "empty batch must not touch state")
    val b2 = Seq(("b", 20L), ("d", 4L)).toDF("k", "n")
    val touched = b2.select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("k")),
          org.apache.spark.sql.functions.lit(4L)).cast("int"))
      .as[Int].collect().map(k => s"kb=$k").toSet
    StreamDemo.upsertState(spark, dir, b2, Seq("k"), 4)
    val out = spark.read.parquet(dir).select("k", "n")
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 1L, "b" -> 20L, "c" -> 3L, "d" -> 4L),
      "changed keys overwritten, unchanged keys survive, new keys land")
    val after = bucketFiles()
    for ((kb, fs) <- before if !touched.contains(kb))
      assert(after(kb) == fs,
        s"bucket $kb held no changed key but its files were rewritten")
  }

  test("applyCdcState deletes keys, upserts rows, and lets a later " +
      "upsert resurrect a deleted key") {
    val dir = java.nio.file.Files
      .createTempDirectory("cdc_spec_").toString + "/state"
    def state(): Map[String, Long] =
      spark.read.parquet(dir).select("k", "n")
        .as[(String, Long)].collect().toMap
    // Delete-only batch before any state exists: a clean no-op.
    StreamDemo.applyCdcState(spark, dir,
      Seq(("x", 0L, "d")).toDF("k", "n", "op"), "op", Seq("k"), 4)
    assert(!new java.io.File(dir).exists())
    StreamDemo.applyCdcState(spark, dir,
      Seq(("a", 1L, "u"), ("b", 2L, "u"), ("c", 3L, "u"))
        .toDF("k", "n", "op"), "op", Seq("k"), 4)
    assert(state() == Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
    // Tombstone b, overwrite c, insert d — one batch.
    StreamDemo.applyCdcState(spark, dir,
      Seq(("b", 0L, "d"), ("c", 30L, "u"), ("d", 4L, "u"))
        .toDF("k", "n", "op"), "op", Seq("k"), 4)
    assert(state() == Map("a" -> 1L, "c" -> 30L, "d" -> 4L),
      "tombstone must retire b; upserts must land")
    // A later upsert resurrects the deleted key.
    StreamDemo.applyCdcState(spark, dir,
      Seq(("b", 22L, "u")).toDF("k", "n", "op"), "op", Seq("k"), 4)
    assert(state() == Map("a" -> 1L, "b" -> 22L, "c" -> 30L, "d" -> 4L))
    // Delete-only batch against existing state.
    StreamDemo.applyCdcState(spark, dir,
      Seq(("a", 0L, "d"), ("d", 0L, "d")).toDF("k", "n", "op"),
      "op", Seq("k"), 4)
    assert(state() == Map("b" -> 22L, "c" -> 30L))
  }

  test("mapGroupsWithState keeps running counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Double)]
    val q = StreamDemo.runningCounts(stream.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update()).start()
    try {
      stream.addData((1L, 1.0), (1L, 2.0), (2L, 1.0))
      q.processAllAvailable()
      stream.addData((1L, 3.0)) // second micro-batch must see prior state
      q.processAllAvailable()
      val last = spark.table("state_out")
        .groupBy("userId").max("n")
        .as[(Long, Long)].collect().toMap
      assert(last == Map(1L -> 3L, 2L -> 1L),
        "state accumulated across batches")
    } finally q.stop()
  }
}
