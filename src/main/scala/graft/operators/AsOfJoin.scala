package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** As-of (temporal) join — J7, the canonical "operator Spark lacks".
  *
  * Each left row is matched with the latest right row at or before its
  * timestamp within the same key. Rather than a custom physical
  * operator, this composes built-ins (preference (a) in the design
  * brief): union both sides, one window pass per key ordered by
  * (ts, side) carrying the right payload forward, keep left rows.
  *
  * Scale shape: ONE shuffle by key (the window partition), one sorted
  * pass — same cost as a single window aggregate, no range-join
  * explosion. Right keys must be unique per (key, ts) for
  * deterministic results (pre-aggregate if not).
  */
object AsOfJoin {

  /** left ⟕asof right: adds `payload` from the latest right row with
    * rightTs <= leftTs per key (null when none precedes). */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      payload: String): DataFrame = {
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(0))
    // The payload rides inside a never-null struct marker: last(...,
    // ignoreNulls) must skip LEFT rows but still match a right row whose
    // payload is NULL (a bare `last(payload)` would silently substitute
    // an earlier non-null right row, diverging from ASOF semantics).
    val r = right.select(
      col(key), col(rightTs).as("_ts"), lit(1).as("_side"),
      struct(col(payload)).as("_p"))
    // Right rows sort before left rows at equal _ts (side desc), so an
    // exactly-simultaneous right row IS matched (ts >= semantics).
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts"), col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn(payload,
        last(col("_p"), ignoreNulls = true).over(w).getField(payload))
      .filter(col("_side") === 0)
      .drop("_ts", "_side", "_p")
  }

  /** As-of join WITH TOLERANCE (pandas `merge_asof(tolerance=…)`, the
    * market-data staleness bound): the match is dropped — payload
    * NULL — when the latest preceding right row is older than
    * `tolMicros`. Same single-shuffle window composition as
    * [[asofJoin]]; the struct marker additionally carries the matched
    * right timestamp so staleness is a map-side comparison after the
    * window pass. Timestamps are LONG micros columns (callers convert
    * with `unix_micros` — exact under the UTC session). */
  def asofJoinTolerance(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      payload: String, tolMicros: Long): DataFrame = {
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(0))
    val r = right.select(
      col(key), col(rightTs).as("_ts"), lit(1).as("_side"),
      struct(col(rightTs).as("_rts"), col(payload)).as("_p"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ts"), col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("_m", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 0)
      .withColumn(payload,
        when(col("_ts") - col("_m").getField("_rts") <= tolMicros,
          col("_m").getField(payload)))
      .drop("_ts", "_side", "_p", "_m")
  }

  /** J7: each view event matched to the user's latest click at or
    * before it — DuckDB recomputes with its native ASOF LEFT JOIN. */
  private val j7Asof: Q = (s, dir) => {
    val events = Tables.load(s, dir, "events")
    // Unique (user_id, ts) on the right for deterministic matching.
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(views, clicks, "user_id", "ts", "ts", "click_value")
      .select(col("event_id"), col("click_value"))
      .orderBy(col("event_id"))
  }

  /** Bucketed range join — J9, the other canonical "join Spark lacks":
    * points matched to enclosing time intervals WITHOUT an equi key.
    * The naive spelling is a BroadcastNestedLoopJoin over a range
    * predicate — quadratic, the classic Spark scale-killer. The
    * standard fix (preference (a): compose built-ins): quantize time
    * into buckets no narrower than the longest interval, expand each
    * interval to the buckets it covers (≤ 2 here), equi-join on the
    * bucket, re-check the exact range. Each point lives in EXACTLY one
    * bucket, so no dedup step is needed and the join is a plain
    * shuffle/broadcast hash join whose fanout is bounded by interval
    * length / bucket width + 1.
    *
    * `points` needs (pt: long micros); `intervals` (s, e: long micros,
    * half-open [s, e)); `bucketW` must be ≥ max(e − s). */
  def rangeJoinBucketed(points: DataFrame, intervals: DataFrame,
      bucketW: Long): DataFrame = {
    val winB = intervals.withColumn("bk",
      explode(sequence(expr(s"s DIV $bucketW"),
        expr(s"(e - 1) DIV $bucketW"))))
    points.withColumn("bk", expr(s"pt DIV $bucketW"))
      .join(winB, Seq("bk"))
      .filter(col("pt") >= col("s") && col("pt") < col("e"))
      .drop("bk")
  }

  /** J9: events counted into 50 two-hour windows anchored at the first
    * 50 events' timestamps — value-level DuckDB oracle over the naive
    * range join (the bucketed plan must reproduce it exactly, empty
    * windows included). */
  private val j9Range: Q = (s, dir) => {
    val events = Tables.load(s, dir, "events")
    val W = 7200000000L // 2 h in micros
    val wins = events.filter(col("event_id") < 50)
      .select(col("event_id").as("window_id"),
        unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + W)
    val pts = events.select(unix_micros(col("ts")).as("pt"), col("value"))
    val agg = rangeJoinBucketed(pts, wins, bucketW = W)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    wins.select(col("window_id")).join(agg, Seq("window_id"), "left")
      .select(col("window_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("window_id"))
  }

  /** Interval×interval overlap join without equi keys — same bucket-
    * quantization family as [[rangeJoinBucketed]]: each interval
    * explodes to its covered buckets (bounded by len/bucketW + 1), the
    * overlap candidates meet in a plain hash equi-join on the bucket,
    * and each overlapping PAIR is kept exactly once — only in the
    * bucket containing max(a.s, b.s), which both sides of a true
    * overlap always cover. Exact overlap recheck after the join; no
    * BNLJ anywhere. */
  def intervalOverlapBucketed(a: DataFrame, b: DataFrame,
      bucketW: Long): DataFrame = {
    def expand(df: DataFrame, p: String) = df
      .select(col("id").as(s"${p}_id"), col("s").as(s"${p}_s"),
        col("e").as(s"${p}_e"))
      .withColumn("bk", explode(sequence(
        expr(s"${p}_s DIV $bucketW"), expr(s"(${p}_e - 1) DIV $bucketW"))))
    expand(a, "a").join(expand(b, "b"), Seq("bk"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .filter(col("bk") === expr(s"greatest(a_s, b_s) DIV $bucketW"))
      .drop("bk")
  }

  /** J10: overlap pairs between even- and odd-keyed order "activity
    * windows" ([orderdate, +1..30 days]); per-month pair counts +
    * key checksums, DuckDB oracle is the naive inequality join (its
    * IEJoin handles it) over the same bounded interval sets. */
  private val j10Overlap: Q = (s, dir) => {
    val base = Tables.load(s, dir, "orders").filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey").as("id"),
        // o_orderdate is TIMESTAMP_NTZ; UTC session makes the cast exact
        unix_micros(col("o_orderdate").cast("timestamp")).as("s"))
      .withColumn("e",
        col("s") + (col("id") % 30 + 1) * 86400000000L)
    val a = base.filter(col("id") % 2 === 0)
    val b = base.filter(col("id") % 2 === 1)
    intervalOverlapBucketed(a, b, bucketW = 86400000000L * 31)
      .groupBy(date_trunc("MONTH",
        timestamp_micros(col("a_s"))).as("month"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a_id") + col("b_id")).as("sum_pair_keys"))
      .orderBy(col("month"))
  }

  /** J13: tolerance-bounded as-of — each view matched to the user's
    * latest click at or before it, but only if that click is at most
    * ONE HOUR old; staler matches surface as NULL (exactly pandas
    * merge_asof's tolerance semantics). The oracle is DuckDB's native
    * ASOF LEFT JOIN with the match's timestamp exposed and the same
    * staleness CASE applied — a tolerance applied before the as-of
    * selection (which would wrongly promote an OLDER in-window row)
    * produces different rows and hash-fails. */
  private val j13AsofTolerance: Q = (s, dir) => {
    val events = Tables.load(s, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
      .select(col("user_id"), unix_micros(col("ts")).as("cts"),
        col("click_value"))
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("vts"))
    asofJoinTolerance(views, clicks, "user_id", "vts", "cts",
        "click_value", tolMicros = 3600000000L)
      .select(col("event_id"), col("click_value"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, Q] = Map(
    "j13_asof_tolerance" -> j13AsofTolerance,
    "j7_asof" -> j7Asof,
    "j9_range" -> j9Range,
    "j10_interval_overlap" -> j10Overlap,
  )

  val oracles: Map[String, String] = Map(
    // Native ASOF LEFT JOIN picks the match; the SAME staleness CASE
    // then nulls payloads older than the tolerance.
    "j13_asof_tolerance" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts) AS cts,
        |    round(max(value), 2) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |views AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS vts FROM events
        |  WHERE event_type = 'view')
        |SELECT v.event_id,
        |  CASE WHEN v.vts - c.cts <= 3600000000 THEN c.click_value
        |       END AS click_value
        |FROM views v ASOF LEFT JOIN clicks c
        |  ON v.user_id = c.user_id AND v.vts >= c.cts
        |ORDER BY v.event_id""".stripMargin,
    "j10_interval_overlap" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, epoch_us(o_orderdate) AS s,
        |    epoch_us(o_orderdate)
        |      + (o_orderkey % 30 + 1) * 86400000000 AS e
        |  FROM orders WHERE o_orderkey < 1000),
        |a AS (SELECT * FROM base WHERE id % 2 = 0),
        |b AS (SELECT * FROM base WHERE id % 2 = 1),
        |j AS (
        |  SELECT a.id AS a_id, b.id AS b_id, a.s AS a_s
        |  FROM a JOIN b ON a.s < b.e AND b.s < a.e)
        |SELECT date_trunc('month', make_timestamp(a_s)) AS month,
        |  count(*)::BIGINT AS n_pairs,
        |  sum(a_id + b_id)::BIGINT AS sum_pair_keys
        |FROM j GROUP BY month ORDER BY month""".stripMargin,
    "j9_range" ->
      """WITH w AS (
        |  SELECT event_id AS window_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 7200000000 AS e
        |  FROM events WHERE event_id < 50),
        |j AS (
        |  SELECT w.window_id, ev.value
        |  FROM w JOIN events ev
        |    ON epoch_us(ev.ts) >= w.s AND epoch_us(ev.ts) < w.e)
        |SELECT w.window_id, coalesce(a.n_events, 0) AS n_events,
        |  coalesce(a.sum_value, 0.0) AS sum_value
        |FROM w LEFT JOIN (
        |  SELECT window_id, count(*)::BIGINT AS n_events,
        |    round(sum(value), 4) AS sum_value
        |  FROM j GROUP BY window_id) a USING (window_id)
        |ORDER BY window_id""".stripMargin,
    "j7_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, round(max(value), 2) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |views AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view')
        |SELECT v.event_id, c.click_value
        |FROM views v ASOF LEFT JOIN clicks c
        |  ON v.user_id = c.user_id AND v.ts >= c.ts
        |ORDER BY v.event_id""".stripMargin,
  )
}
