package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Z-order (Morton-curve) data layout — the multi-dimensional clustering
  * every lake engine grew (Delta OPTIMIZE ZORDER BY, Iceberg sort
  * orders) because a Hive layout prunes on ONE leading column only. The
  * reference's layout story stops at single-column Hive partitioning
  * (glue_scripts/scripts/csv_to_parquet.py:58 partitionKeys); this
  * operator is the 100 TB successor for 2-D range workloads ("events
  * for users U in time window T"): quantize both columns onto a 16-bit
  * grid, interleave bits, partition by the z-prefix bucket, sort files
  * by full z-value.
  *
  * Scale shape: the write is one repartition-by-bucket shuffle (the
  * price of clustering, paid once at layout time); a box query then
  * enumerates the bucket prefixes intersecting the box — pure driver
  * arithmetic on the ≤256-bucket grid, NO data read — and scans only
  * those Hive directories (PartitionFilters prune, plan-pinned in
  * LayoutSpec), with row groups inside each file z-sorted so min/max
  * stats skip within the directory too. A 1-D layout scans every
  * partition for the second dimension; the z-layout reads
  * O(box area / bucket area) of the table for any 2-D box.
  */
object Layout {

  /** How a 2-D z-layout maps raw columns onto the 16-bit × 16-bit grid:
    * fixed expected domains (like any table sort/cluster spec, chosen
    * at layout-declaration time). Values outside [lo, hi] clamp onto
    * the boundary cell — monotone, so box→bucket enumeration stays a
    * superset and correctness never depends on the domain guess. */
  final case class ZSpec(xCol: String, xLo: Long, xHi: Long,
      yCol: String, yLo: Long, yHi: Long) {
    require(xHi > xLo && yHi > yLo, "need non-empty domains")
  }

  private val Bits = 16            // per-dimension grid resolution
  private val BucketBits = 4       // per-dimension prefix bits → ≤256 buckets

  /** Linear quantization onto [0, 2¹⁶): long→double keeps the product
    * exact (< 2⁵³) and sidesteps ANSI long-multiply overflow. */
  private def quantize(c: Column, lo: Long, hi: Long): Column =
    least(lit((1L << Bits) - 1), greatest(lit(0L),
      floor((c - lit(lo)).cast("double") * ((1L << Bits) - 1) / (hi - lo))))

  /** The same quantization, driver-side, for bucket enumeration. */
  private[lake] def quantizeL(v: Long, lo: Long, hi: Long): Long =
    math.min((1L << Bits) - 1, math.max(0L,
      math.floor((v - lo).toDouble * ((1L << Bits) - 1) / (hi - lo)).toLong))

  /** Bit-interleave two quantized coordinates (x even bits, y odd) —
    * a flat sum of shift/mask terms, fully inside whole-stage codegen. */
  private def interleave(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private[lake] def interleaveL(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.sum

  /** Full z-value (file-internal sort key). */
  def zValue(spec: ZSpec): Column =
    interleave(quantize(col(spec.xCol), spec.xLo, spec.xHi),
      quantize(col(spec.yCol), spec.yLo, spec.yHi), Bits)

  /** Partition bucket: the interleaved top-[[BucketBits]] of each
    * dimension — the z-prefix, so one bucket is one grid macro-cell. */
  def zBucket(spec: ZSpec): Column =
    interleave(
      shiftright(quantize(col(spec.xCol), spec.xLo, spec.xHi), Bits - BucketBits),
      shiftright(quantize(col(spec.yCol), spec.yLo, spec.yHi), Bits - BucketBits),
      BucketBits)

  /** Buckets whose macro-cell intersects the box — driver arithmetic
    * over the bounded grid (≤256 cells), no data touched. */
  def bucketsForBox(spec: ZSpec, xLo: Long, xHi: Long,
      yLo: Long, yHi: Long): Seq[Long] = {
    val shift = Bits - BucketBits
    val (x0, x1) = (quantizeL(xLo, spec.xLo, spec.xHi) >> shift,
      quantizeL(xHi, spec.xLo, spec.xHi) >> shift)
    val (y0, y1) = (quantizeL(yLo, spec.yLo, spec.yHi) >> shift,
      quantizeL(yHi, spec.yLo, spec.yHi) >> shift)
    for { xh <- x0 to x1; yh <- y0 to y1 }
      yield interleaveL(xh, yh, BucketBits)
  }

  /** Lay the frame out z-ordered: Hive-partitioned by bucket, rows
    * inside each partition sorted by full z-value so parquet row-group
    * min/max stats are tight on BOTH dimensions. */
  def zorderWrite(df: DataFrame, path: String, spec: ZSpec): Unit =
    Lake.writeParquet(
      df.withColumn("zb", zBucket(spec))
        .repartition(col("zb"))
        .sortWithinPartitions(col("zb"), zValue(spec)),
      path, Seq("zb"))

  /** Box query over a z-layout: directory pruning via the enumerated
    * bucket IN-list, exact box predicate on the raw columns inside. */
  def zScan(s: SparkSession, path: String, spec: ZSpec,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame =
    s.read.parquet(path)
      .filter(col("zb").isin(bucketsForBox(spec, xLo, xHi, yLo, yHi): _*))
      .filter(col(spec.xCol).between(xLo, xHi) &&
        col(spec.yCol).between(yLo, yHi))

  // ------------------------------------------------------------ queries

  /** The demo layout: events on (minutes-since-2024-01-01, user_id).
    * Domains cover every SF (January 2024; user_id < 1500). */
  private[lake] val EventsSpec =
    ZSpec("x_min", 0L, 44640L, "user_id", 0L, 1500L)

  /** Jan 8–16 (minute-aligned bounds: x ≤ 21599 ⟺ ts < Jan 16 00:00,
    * so the minute-floor predicate is exactly the timestamp predicate)
    * × users 5–60. */
  private[lake] val Box = (10080L, 21599L, 5L, 60L)

  private[lake] def eventsWithX(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("x_min",
        floor((unix_timestamp(col("ts")) - lit(1704067200L)) / 60.0))

  /** K13: z-order round trip — write events z-ordered on (time, user),
    * answer a 2-D box aggregation through bucket pruning; the oracle is
    * the plain box filter over the raw table, so a lost bucket (bad
    * enumeration, bad interleave) is a hash mismatch, not a silent
    * partial answer. */
  private val k13ZorderPrune: Q = (s, dir) => {
    val out = Lake.scratchDir("k13")
    zorderWrite(eventsWithX(s, dir), out, EventsSpec)
    val (xLo, xHi, yLo, yHi) = Box
    zScan(s, out, EventsSpec, xLo, xHi, yLo, yHi)
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  // ----------------------------------------- hidden partition transforms

  /** Iceberg-style hidden partitioning (Iceberg spec, "Partition
    * Transforms"): the table is laid out by a TRANSFORM of a data
    * column — day(ts) or bucket(n, key) — recorded as table metadata,
    * and queries filter on the RAW column only; the engine derives the
    * partition predicate from the transform. The reference's layout
    * story is explicit Hive partitioning (csv_to_parquet.py:58) where
    * every query must name the partition column; hidden transforms are
    * the 100 TB successor — the layout can change without rewriting a
    * single query, and a mis-derived predicate is a correctness bug
    * (an oracle hash mismatch), never a silent slowdown. */
  sealed trait HiddenTransform {
    def sourceCol: String
    /** The partition value expression (written as the `_p` column). */
    def partitionOf: Column
    /** Serialized spec line for the `_hidden_spec` sidecar. */
    def spec: String
  }

  final case class DayTransform(sourceCol: String) extends HiddenTransform {
    def partitionOf: Column = date_format(col(sourceCol), "yyyy-MM-dd")
    def spec: String = s"day $sourceCol"
    /** Day partitions for [from, until) — driver date arithmetic over
      * the range, no data read (the derivation step). */
    def daysBetween(from: String, until: String): Seq[String] = {
      val u = java.time.LocalDate.parse(until)
      Iterator.iterate(java.time.LocalDate.parse(from))(_.plusDays(1))
        .takeWhile(_.isBefore(u)).map(_.toString).toSeq
    }
  }

  final case class BucketTransform(n: Int, sourceCol: String)
      extends HiddenTransform {
    /** Knuth multiplicative hash with the id folded BEFORE the multiply
      * (the TrainPrep.splitBucket pattern — Spark 4 ANSI mode throws on
      * long-multiply overflow). */
    def partitionOf: Column =
      pmod(pmod(pmod(col(sourceCol), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L)), lit(n.toLong))
    /** The same hash driver-side, for predicate derivation. floorMod at
      * each step: Scala % is a SIGNED remainder, so a negative key would
      * disagree with the in-plan pmod and hiddenScanKey would silently
      * scan the wrong (empty) bucket directory. */
    def bucketOf(key: Long): Long =
      Math.floorMod(Math.floorMod(
        Math.floorMod(key, 2147483648L) * 2654435761L,
        4294967296L), n.toLong)
    def spec: String = s"bucket $n $sourceCol"
  }

  /** Lay `df` out by the hidden transform: one repartition on the
    * derived `_p` (so each partition dir gets one file at gate SF),
    * Hive dirs on `_p`, spec recorded in an underscore-prefixed sidecar
    * (invisible to the parquet reader, like `_SUCCESS`). */
  def hiddenWrite(df: DataFrame, root: String, t: HiddenTransform): Unit = {
    Lake.writeParquet(
      df.withColumn("_p", t.partitionOf).repartition(col("_p")),
      root, Seq("_p"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_hidden_spec"),
      t.spec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The table's recorded transform spec. */
  def hiddenSpec(root: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_hidden_spec")),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Time-range scan on the RAW timestamp column: the day transform
    * turns [from, until) into a `_p` IN-list (PartitionFilters prune
    * the directories — plan-pinned in LayoutSpec); the raw predicate
    * still applies inside, so exactness never depends on the
    * derivation being more than a superset. */
  def hiddenScanRange(s: SparkSession, root: String, t: DayTransform,
      from: String, until: String): DataFrame =
    s.read.parquet(root)
      .filter(col("_p").isin(t.daysBetween(from, until): _*))
      .filter(col(t.sourceCol) >= lit(from).cast("timestamp") &&
        col(t.sourceCol) < lit(until).cast("timestamp"))

  /** Key-equality scan on the RAW key column: one derived bucket dir. */
  def hiddenScanKey(s: SparkSession, root: String, t: BucketTransform,
      key: Long): DataFrame =
    s.read.parquet(root)
      .filter(col("_p") === lit(t.bucketOf(key)))
      .filter(col(t.sourceCol) === key)

  /** K34: hidden-partitioning round trip — events laid out by day(ts),
    * orders by bucket(8, o_custkey), both queried through RAW-column
    * predicates only. The partition counts are computed on the
    * partition-pruned frames BEFORE the raw predicate, so an
    * over-derived IN-list (an extra directory scanned) shifts
    * n_day_partitions and hash-fails. */
  private val k34HiddenPartition: Q = (s, dir) => {
    val evRoot = Lake.scratchDir("k34ev")
    val ordRoot = Lake.scratchDir("k34ord")
    val day = DayTransform("ts")
    val buck = BucketTransform(8, "o_custkey")
    hiddenWrite(Tables.load(s, dir, "events"), evRoot, day)
    hiddenWrite(Tables.load(s, dir, "orders"), ordRoot, buck)
    require(hiddenSpec(evRoot) == "day ts" &&
      hiddenSpec(ordRoot) == "bucket 8 o_custkey", "sidecar round-trip")
    val (from, until) = ("2024-01-08", "2024-01-16")
    val ev = hiddenScanRange(s, evRoot, day, from, until)
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    val evDirs = s.read.parquet(evRoot)
      .filter(col("_p").isin(day.daysBetween(from, until): _*))
      .agg(countDistinct(col("_p")).as("n_day_partitions"))
    val ord = hiddenScanKey(s, ordRoot, buck, key = 421L)
      .agg(count(lit(1)).as("n_key_orders"))
    val ordDirs = s.read.parquet(ordRoot)
      .filter(col("_p") === lit(buck.bucketOf(421L)))
      .agg(countDistinct(col("_p")).as("n_bucket_partitions"))
    ev.crossJoin(evDirs).crossJoin(ord).crossJoin(ordDirs)
  }

  val queries: Map[String, Q] = Map(
    "k13_zorder_prune" -> k13ZorderPrune,
    "k34_hidden_partition" -> k34HiddenPartition,
  )

  val oracles: Map[String, String] = Map(
    "k13_zorder_prune" ->
      """SELECT count(*)::BIGINT AS n_events,
        |  round(sum(value), 4) AS sum_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |  AND user_id BETWEEN 5 AND 60""".stripMargin,
    // The range/key answers restated over the raw tables; the partition
    // counts restated set-algebraically (days-with-rows in the range =
    // directories the derivation may touch; the key's bucket = 1 dir).
    "k34_hidden_partition" ->
      """WITH r AS (
        |  SELECT count(*)::BIGINT AS n_events,
        |    round(sum(value), 4) AS sum_value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |d AS (
        |  SELECT count(DISTINCT date_trunc('day', ts))::BIGINT
        |      AS n_day_partitions
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |k AS (
        |  SELECT count(*)::BIGINT AS n_key_orders
        |  FROM orders WHERE o_custkey = 421),
        |b AS (SELECT 1::BIGINT AS n_bucket_partitions)
        |SELECT n_events, sum_value, n_day_partitions, n_key_orders,
        |  n_bucket_partitions
        |FROM r, d, k, b""".stripMargin,
  )
}
