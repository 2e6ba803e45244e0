package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming shapes (SURVEY §2.10 is batch-only; these are
  * the EXT streaming ports). The transformations are defined once over
  * DataFrames/Datasets, so the same code runs in batch and behind a
  * `readStream` source — the streaming tests drive them through
  * MemoryStream and compare against the batch evaluation.
  */
object StreamDemo {

  final case class Event(ts: java.sql.Timestamp, eventType: String, value: Double)
  final case class UserEvent(userId: Long, n: Long)

  /** Watermarked tumbling-window aggregation — identical plan shape in
    * batch and streaming (incremental state store aside). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("eventType"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("ws"), col("eventType"), col("n"),
        col("sum_value"))

  /** Stream-static incremental dedup — the live-ingest counterpart of
    * `Dedup.incrementalDedup`'s exact stage: an arriving doc is dropped
    * if it repeats within the stream inside the watermark window
    * (dropDuplicatesWithinWatermark on the sha2 digest — bounded state,
    * fixed-width key) or if its digest already exists in the static
    * corpus (stream-static left-anti join: the static side holds no
    * stream state, re-resolves per micro-batch, and broadcasts when
    * small — at 100 TB the digest table is a bucketed lake table and
    * the anti-join shuffles 32-byte keys only). */
  def incrementalDedupStream(docs: DataFrame,
      corpusDigests: DataFrame): DataFrame =
    docs.withColumn("digest", sha2(col("text"), 256))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("digest")
      .join(corpusDigests, Seq("digest"), "left_anti")

  /** Stream-static SEMANTIC dedup — the embedding-space counterpart of
    * [[incrementalDedupStream]]: an arriving vector is dropped when its
    * cosine against ANY static-corpus vector reaches `tau`. A
    * stream-static left-anti join is STATELESS (the static side
    * re-resolves per micro-batch, no stream state accumulates), so no
    * watermark is needed and the answer is EXACT — this dim-sized-
    * corpus shape broadcasts the corpus and nested-loops per batch; at
    * index scale the same anti-join keys on the IVF cell (equi-join)
    * with the cosine bound as a residual condition. Caller supplies
    * (v, nrm) on the stream and (cv, cnrm) on the corpus. */
  def semanticDedupStream(fresh: DataFrame, corpus: DataFrame,
      tau: Double): DataFrame =
    fresh.join(corpus,
      graft.functions.VecDot.vecDot(col("v"), col("cv")) /
        (col("nrm") * col("cnrm")) >= tau,
      "left_anti")

  /** Language-routing transform for the foreachBatch fan-out sink:
    * map-only marker-set scoring (no state, no watermark), so the
    * streamed routing decision is EXACTLY the batch one. The sink side
    * writes each micro-batch `partitionBy("pred")` — the
    * one-stream-to-many-destinations shape a multilingual ingest
    * pipeline runs, with the partition column doubling as the route. */
  def routeByLang(docs: DataFrame): DataFrame =
    docs.withColumn("pred",
      graft.ext.TextStats.languageIdHeuristic(col("text")))

  /** Keyed UPSERT sink for an update-mode streaming aggregation — the
    * foreachBatch MERGE shape (Delta `MERGE INTO` on a plain-parquet
    * state table). Update mode emits, per micro-batch, the COMPLETE new
    * aggregate row for every key the batch touched, so upserting those
    * rows keeps the state table equal to the batch aggregate over all
    * data seen. The state table is hash-bucketed on the key
    * (`kb = pmod(xxhash64(keys), nBuckets)`) and a batch rewrites ONLY
    * the buckets holding changed keys: survivors of each affected
    * bucket are kept via a key anti-join, merged rows land in a staging
    * dir, and the affected `kb=` directories are swapped in driver-side
    * — per-refresh cost is O(|batch| + |affected buckets|), never
    * O(|state|), and the only driver-sized value is the distinct-bucket
    * list (≤ nBuckets). At lake scale the same dataflow is dynamic
    * partition overwrite on the bucket column. */
  def upsertState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, batch: DataFrame, keyCols: Seq[String],
      nBuckets: Int): Unit = {
    if (batch.isEmpty) return
    mergeBuckets(spark, stateDir, batch,
      batch.select(keyCols.map(col): _*), keyCols, nBuckets)
  }

  /** Row-level CDC apply — [[upsertState]] generalized with DELETES
    * (the Debezium-feed shape: a change stream carries upserts AND
    * tombstones; ev18 covers the former, this also retires keys).
    * `batch` must already be reduced to ONE row per key — the batch's
    * last op wins; the caller owns that reduction because only it
    * knows the op order (event time + a total tie-break) — with
    * `opCol` ∈ {"u","d"}. Upserts replace the key's row; deletes
    * remove it; both only ever rewrite the key's hash bucket. Cost per
    * batch is O(|batch| + |affected buckets|) like the plain upsert —
    * a delete is not a full-state scan. */
  def applyCdcState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, batch: DataFrame, opCol: String,
      keyCols: Seq[String], nBuckets: Int): Unit = {
    if (batch.isEmpty) return
    val upserts = batch.filter(col(opCol) === "u").drop(opCol)
    // Delete-only first batch: no state dir yet, nothing to create.
    if (!new java.io.File(stateDir).exists() && upserts.isEmpty) return
    mergeBuckets(spark, stateDir, upserts,
      batch.select(keyCols.map(col): _*), keyCols, nBuckets)
  }

  /** Bucket-scoped merge core shared by [[upsertState]] and
    * [[applyCdcState]]: drop every `allKeys` row from its bucket, add
    * the `upserts` rows, rewrite only the affected `kb=` directories
    * (staging write + driver-side swap). `allKeys` ⊇ upsert keys —
    * for a plain upsert they are equal; CDC passes deleted keys too. */
  private def mergeBuckets(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, upserts: DataFrame, allKeys: DataFrame,
      keyCols: Seq[String], nBuckets: Int): Unit = {
    def kbOf(df: DataFrame): DataFrame = df.withColumn("kb",
      pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong))
        .cast("int"))
    val withKb = kbOf(upserts)
    val root = new java.io.File(stateDir)
    if (!root.exists()) {
      withKb.write.partitionBy("kb").parquet(stateDir)
      return
    }
    val kbs = kbOf(allKeys).select(col("kb")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nBuckets
    val current = spark.read.parquet(stateDir)
      .filter(col("kb").isin(kbs.map(Integer.valueOf): _*))
    val keep = current.join(
      allKeys.select(keyCols.map(col): _*), keyCols, "left_anti")
    val staging = stateDir + "_staging"
    keep.unionByName(withKb, allowMissingColumns = false)
      .write.mode("overwrite").partitionBy("kb").parquet(staging)
    for (k <- kbs) {
      val dst = new java.io.File(root, s"kb=$k")
      val src = new java.io.File(staging, s"kb=$k")
      graft.lake.Lake.deleteRecursively(dst)
      if (src.exists())
        java.nio.file.Files.move(src.toPath, dst.toPath)
    }
    graft.lake.Lake.deleteRecursively(new java.io.File(staging))
  }

  /** Stream-stream interval join: impressions matched to clicks within
    * one hour AFTER the impression. Both sides watermarked and the join
    * condition carries the time bound — that pair is what lets the
    * engine expire buffered state (an unbounded-condition stream-stream
    * join would buffer both streams forever). Works identically over
    * batch frames, which is how the spec checks it. */
  def intervalJoin(impressions: DataFrame, clicks: DataFrame): DataFrame = {
    val imp = impressions.withWatermark("impTs", "2 hours")
    val clk = clicks.withWatermark("clickTs", "2 hours")
    imp.join(clk,
      col("impAd") === col("clickAd") &&
        col("clickTs") >= col("impTs") &&
        col("clickTs") <= col("impTs") + expr("INTERVAL 1 HOUR"))
      .select(col("impAd").as("ad"), col("impTs"), col("clickTs"))
  }

  /** LEFT OUTER variant of [[intervalJoin]]: same watermarks and time
    * bound (both REQUIRED by Spark for outer stream-stream joins — the
    * bound is what lets it ever declare an impression unmatched), with
    * unmatched impressions emitted null-click once the watermark
    * expires their buffered state. */
  def intervalJoinLeftOuter(impressions: DataFrame,
      clicks: DataFrame): DataFrame = {
    val imp = impressions.withWatermark("impTs", "2 hours")
    val clk = clicks.withWatermark("clickTs", "2 hours")
    imp.join(clk,
      col("impAd") === col("clickAd") &&
        col("clickTs") >= col("impTs") &&
        col("clickTs") <= col("impTs") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("impAd").as("ad"), col("impTs"), col("clickTs"))
  }

  /** FULL OUTER variant of [[intervalJoin]] — both unmatched sides
    * survive: an impression nobody clicked emits null-click, a click
    * with no prior impression (organic traffic, attribution loss)
    * emits null-impression; each appears only when the watermark
    * expires its buffered state. Same REQUIRED watermark + in-condition
    * time bound as the left-outer case; the result keys on
    * coalesce(both ads) since either side may be null. */
  def intervalJoinFullOuter(impressions: DataFrame,
      clicks: DataFrame): DataFrame = {
    val imp = impressions.withWatermark("impTs", "2 hours")
    val clk = clicks.withWatermark("clickTs", "2 hours")
    imp.join(clk,
      col("impAd") === col("clickAd") &&
        col("clickTs") >= col("impTs") &&
        col("clickTs") <= col("impTs") + expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(coalesce(col("impAd"), col("clickAd")).as("ad"),
        col("impTs"), col("clickTs"))
  }

  /** Arbitrary stateful processing: running per-user event counts via
    * mapGroupsWithState — the custom-state primitive (the scale story:
    * state is partitioned by key in the state store, updates are
    * incremental per micro-batch). */
  def runningCounts(events: Dataset[(Long, Double)]): Dataset[UserEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserEvent(userId, n)
      }
  }

  /** File-source ingestion of the events table: `readStream` over a
    * landing directory (new files picked up per micro-batch — the lake
    * tail-ingest shape). The schema is passed EXPLICITLY: the normal
    * start state of tail-ingest is an empty directory, where schema
    * inference would fail — and a stream's schema is a contract, not a
    * discovery. The ts normalization dispatches on the declared type,
    * same as `Tables.load` in batch: long = nanos → rebuild; timestamp
    * (incl. NTZ) → pass through/cast. */
  def eventStream(spark: org.apache.spark.sql.SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val raw = spark.readStream
      .schema(schema)
      .parquet(landingDir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  final case class SessionOut(userId: Long, nEvents: Int,
    startMs: Long, endMs: Long)

  /** Event-time sessionization via flatMapGroupsWithState — the
    * variable-arity custom-state primitive: events accumulate per user;
    * a session CLOSES two ways, both exact:
    *  - TIMEOUT: the watermark passes `gapMs` beyond the user's last
    *    event while the user is silent — emitted from the timeout
    *    branch;
    *  - DATA-DRIVEN SPLIT: a batch's events are gap-split into runs
    *    first (sorted times break wherever consecutive events sit
    *    > `gapMs` apart); a run starting more than `gapMs` after the
    *    stored session end closes that session immediately, and every
    *    non-final run closes within the batch (a timeout is NOT
    *    guaranteed to fire first: if no other key advanced the
    *    watermark during the silence, the key's own late-arriving data
    *    would otherwise merge across the gap).
    * Semantics are therefore INVARIANT to how the stream is sliced
    * into micro-batches (no per-key batch-span contract — any slicing
    * of an event-time-ordered stream yields the batch
    * gaps-and-islands answer exactly; the replay-coarsening spec pins
    * it). State per key is three longs regardless of session length,
    * and the event-time timeout bounds its lifetime — the at-scale
    * contract for billions of keys. */
  def sessionize(events: Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.toDF("userId", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long, Long), SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, rows, state) =>
          if (state.hasTimedOut) {
            val (n, s0, e0) = state.get
            state.remove()
            Iterator.single(SessionOut(userId, n, s0, e0))
          } else {
            // Gap-split the batch FIRST (sorted event times break into
            // runs wherever consecutive times sit > gapMs apart), so
            // session semantics no longer depend on how the stream is
            // sliced into micro-batches: a batch spanning several gaps
            // closes every interior session, exactly as if each run
            // had arrived in its own batch. (Before r13 this impl
            // carried an exact-gap batch contract — at most one gap
            // per key per batch — which the native session_window
            // never needed; the four implementations are now all
            // slicing-invariant, and the bench-time replay coarsening
            // spec pins it.)
            val times = rows.map(_._2.getTime).toSeq.sorted
            var runs = List.empty[(Int, Long, Long)] // newest first
            for (t <- times) runs = runs match {
              case (n, mn, mx) :: rest if t <= mx + gapMs =>
                (n + 1, mn, math.max(mx, t)) :: rest
              case _ => (1, t, t) :: runs
            }
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (run <- runs.reverse) cur match {
              case Some((n0, s0, e0)) if run._2 <= e0 + gapMs =>
                cur = Some((n0 + run._1, math.min(s0, run._2),
                  math.max(e0, run._3)))
              case Some((n0, s0, e0)) =>
                closed = SessionOut(userId, n0, s0, e0) :: closed
                cur = Some(run)
              case None => cur = Some(run)
            }
            val fin = cur.get
            state.update(fin)
            state.setTimeoutTimestamp(fin._3 + gapMs)
            closed.reverse.iterator
          }
      }
  }

  /** The [[sessionize]] semantics expressed DECLARATIVELY via Spark's
    * built-in `session_window` aggregation (SPARK-10816) — no custom
    * state function at all: the engine merges per-event windows
    * `[ts, ts+gap)` whenever they overlap, so a merged session's start
    * is its first event, its end is its last event + gap, and the
    * count is the event count. This is the Spark-first formulation —
    * Catalyst owns the merge (`MergingSessionsExec` sorts each
    * partition once and merges adjacent sessions in one pass, no
    * per-key state function invocation), the optimizer sees a normal
    * aggregate, and slicing-invariance is structural: windows merge
    * by VALUE overlap, not by arrival (the custom-state versions get
    * the same invariance from their gap-split-first batch handling).
    * The custom-state versions ([[sessionize]] /
    * [[SessionProcessor]]) remain the template for state machines the
    * declarative operator cannot express (k-of-n patterns, per-key
    * models); where session_window CAN express it, prefer this. Output
    * is mapped to the same [[SessionOut]] shape (endMs = window end −
    * gap = last event) so all four implementations share one oracle. */
  def sessionizeNative(events: Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.toDF("userId", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("userId"),
        session_window(col("ts"), s"$gapMs milliseconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("userId"), col("n").cast("int").as("nEvents"),
        unix_millis(col("w.start")).as("startMs"),
        (unix_millis(col("w.end")) - gapMs).as("endMs"))
      .as[SessionOut]
  }

  /** The [[sessionize]] state machine re-expressed on Spark 4's
    * `transformWithState` API (SPARK-46815, the arbitrary-state
    * successor to flatMapGroupsWithState): typed [[ValueState]] holds
    * the same three longs per key, and EXPLICIT EVENT-TIME TIMERS
    * replace the implicit per-key timeout — registered at
    * `sessionEnd + gap`, DELETED and re-registered when the session
    * extends, fired by the watermark to close a silent key's session.
    * The API additions that matter at 100 TB: state is declared
    * per-variable (value/list/map) with optional TTL so the RocksDB
    * backend can store and checkpoint each variable natively, and
    * timers are first-class (one key can hold many), not a single
    * timeout slot. Close semantics are bit-identical to [[sessionize]]:
    *  - DATA-DRIVEN SPLIT in `handleInputRows` — the same gap-split-
    *    first run handling as [[sessionize]], so any micro-batch
    *    slicing of an ordered stream yields the exact batch answer;
    *  - TIMER in `handleExpiredTimer`, guarded so only the timer
    *    matching the CURRENT session end may close it (a stale timer
    *    from a since-extended session is ignored — deleteTimer plus
    *    this guard makes the pair exact).
    * Requires the RocksDB state store provider (the API is
    * built on its virtual-column-family layout); callers set it. */
  final class SessionProcessor(gapMs: Long) extends
      org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), SessionOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}

    @transient private var sess: ValueState[(Int, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState("sess",
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
          Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(userId: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[SessionOut] = {
      // Same gap-split-first shape as [[sessionize]] (slicing-
      // invariant since r13): sorted times break into gap-separated
      // runs; every non-final run closes a session this batch.
      val times = rows.map(_._2.getTime).toSeq.sorted
      var runs = List.empty[(Int, Long, Long)] // newest first
      for (t <- times) runs = runs match {
        case (n, mn, mx) :: rest if t <= mx + gapMs =>
          (n + 1, mn, math.max(mx, t)) :: rest
        case _ => (1, t, t) :: runs
      }
      val prev = if (sess.exists()) Some(sess.get()) else None
      prev.foreach { case (_, _, e0) => getHandle.deleteTimer(e0 + gapMs) }
      var closed = List.empty[SessionOut]
      var cur = prev
      for (run <- runs.reverse) cur match {
        case Some((n0, s0, e0)) if run._2 <= e0 + gapMs =>
          cur = Some((n0 + run._1, math.min(s0, run._2),
            math.max(e0, run._3)))
        case Some((n0, s0, e0)) =>
          closed = SessionOut(userId, n0, s0, e0) :: closed
          cur = Some(run)
        case None => cur = Some(run)
      }
      val fin = cur.get
      sess.update(fin)
      getHandle.registerTimer(fin._3 + gapMs)
      closed.reverse.iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (sess.exists()) {
        val (n, s0, e0) = sess.get()
        // Stale-timer guard: close only if this timer is the CURRENT
        // session's expiry (an extension re-registered a later one).
        if (expired.getExpiryTimeInMs == e0 + gapMs) {
          sess.clear()
          Iterator.single(SessionOut(userId, n, s0, e0))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** [[sessionize]] via [[SessionProcessor]] — same input/output
    * contract, same oracle; only the state API differs. */
  def sessionizeTws(events: Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.toDF("userId", "ts")
      .withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
