package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Regression for the events.ts encoding drift (round-6 verdict item 1):
  * the testdata has shipped `events.ts` both as INT64 TIMESTAMP(NANOS)
  * (reads as LongType under nanosAsLong=true) and as plain timestamp[us]
  * (reads as TIMESTAMP_NTZ). `Tables.load` must normalize BOTH to one
  * TimestampType column with identical instants.
  *
  * `Tables.load` also keeps each inferred parquet schema by file identity
  * and schema-conversion confs: a warm load runs no job, while a rewritten
  * table, another conf set or a missing path each behave as an uncached
  * read would.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs `body` starts, counted after the listener bus drains. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(counter)
    try { body; TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(counter)
    n.get
  }

  /** A scratch testdata dir holding `nation` with the given columns. */
  private def nationDir(cols: String*): String = {
    val dir = lake.Lake.scratchDir("tables_cache")
    writeNation(dir, cols: _*)
    dir
  }

  private def writeNation(dir: String, cols: String*): Unit =
    spark.read.parquet(Tables.path(sf, "nation")).select(cols.map(col): _*)
      .write.mode("overwrite").parquet(Tables.path(dir, "nation"))

  test("Tables.load normalizes events.ts under both parquet encodings") {
    // the shipped encoding, whatever it currently is
    val shipped = Tables.load(spark, sf, "events")
    assert(shipped.schema("ts").dataType == TimestampType,
      s"shipped encoding → ${shipped.schema("ts").dataType}")

    // re-encode the same rows as INT64 nanos (what nanosAsLong=true
    // yields for the old TIMESTAMP(NANOS) files: a plain LongType read)
    val dir = lake.Lake.scratchDir("events_nanos_enc")
    shipped.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val asLong = spark.read.parquet(s"$dir/events.parquet")
    assert(asLong.schema("ts").dataType == LongType)

    val rebuilt = Tables.load(spark, dir, "events")
    assert(rebuilt.schema("ts").dataType == TimestampType)

    val a = shipped.select("event_id", "ts").orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    val b = rebuilt.select("event_id", "ts").orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty, s"instants diverge: ${a.size} vs ${b.size}")
  }

  test("every testdata table honors its column contract at every SF") {
    // The driver regenerates /root/testdata each round and has changed
    // encodings under us before (the round-6 events.ts break). This
    // smoke-checks ONLY parquet footers (no data read) for the columns
    // the query suite keys on, at all three scale factors — so any
    // schema/type drift fails one obvious test instead of 30 obscure
    // queries.
    import org.apache.spark.sql.types._
    val contract: Map[String, Seq[String]] = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_size"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag"),
      "events" -> Seq("event_id", "user_id", "ts", "event_type", "value"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1"); (tbl, cols) <- contract) {
      val schema = Tables.load(spark, sfDir, tbl).schema
      val missing = cols.filterNot(schema.fieldNames.contains)
      assert(missing.isEmpty, s"$sfDir/$tbl missing: $missing")
      if (tbl == "events")
        assert(schema("ts").dataType == TimestampType,
          s"$sfDir events.ts: ${schema("ts").dataType}")
      if (tbl == "embeddings")
        assert(schema("embedding").dataType ==
          ArrayType(FloatType, containsNull = true) ||
          schema("embedding").dataType ==
          ArrayType(FloatType, containsNull = false),
          s"$sfDir embedding: ${schema("embedding").dataType}")
    }
  }

  test("a warm Tables.load or Tables.register of the same dir runs 0 jobs") {
    Tables.register(spark, sf) // infers whatever is not yet known
    assert(jobsOf(Tables.load(spark, sf, "lineitem")) == 0)
    assert(jobsOf(Tables.load(spark, sf, "events")) == 0)
    assert(jobsOf(Tables.register(spark, sf)) == 0)
    val dir = nationDir("n_nationkey", "n_name")
    assert(jobsOf(Tables.load(spark, dir, "nation")) == 1, "cold load")
    assert(jobsOf(Tables.load(spark, dir, "nation")) == 0, "warm load")
  }

  test("a table rewritten at the same path shows its new column") {
    val dir = nationDir("n_nationkey", "n_name")
    assert(Tables.load(spark, dir, "nation").columns.toSeq ==
      Seq("n_nationkey", "n_name"))
    writeNation(dir, "n_nationkey", "n_name", "n_regionkey")
    val wider = Tables.load(spark, dir, "nation")
    assert(wider.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(wider.agg(sum("n_regionkey")).head().getLong(0) ==
      spark.read.parquet(Tables.path(sf, "nation"))
        .agg(sum("n_regionkey")).head().getLong(0))
  }

  test("a session with other parquet confs infers its own schema, and " +
      "events.ts normalizes under both encodings in each") {
    // the nanos-as-long re-encoding of events, next to the shipped one
    val dir = lake.Lake.scratchDir("events_conf")
    Tables.load(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(Tables.path(dir, "events"))
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def instants(s: SparkSession, d: String) = {
      val df = Tables.load(s, d, "events")
      assert(df.schema("ts").dataType == TimestampType, s"$d in $s")
      df.select("event_id", "ts").orderBy("event_id")
        .collect().map(_.toSeq).toSeq
    }
    val expected = instants(spark, sf)
    assert(expected.nonEmpty)
    for (s <- Seq(spark, other); d <- Seq(sf, dir))
      assert(instants(s, d) == expected, s"$d diverges")
    // each conf value has its own entry: warm in both, neither evicted
    for (s <- Seq(spark, other, spark))
      assert(jobsOf(Tables.load(s, dir, "events")) == 0)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    fresh.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(jobsOf(Tables.load(fresh, dir, "events")) == 1, "cold conf set")
    // a conf that changes the inferred type is seen through the cache
    Tables.load(spark, sf, "orders")
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.load(spark, sf, "orders").schema("o_orderdate").dataType ==
      TimestampNTZType)
    assert(Tables.load(ltz, sf, "orders").schema("o_orderdate").dataType ==
      TimestampType)
  }

  test("a self-join of two loads of one table resolves both sides") {
    val a = Tables.load(spark, sf, "nation")
    val b = Tables.load(spark, sf, "nation")
    val ids = (d: org.apache.spark.sql.DataFrame) =>
      d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "shared expression ids")
    val joined = a.join(b, a("n_regionkey") === b("n_nationkey"))
      .select(a("n_nationkey"), b("n_name"))
    assert(joined.count() == a.count())
  }

  test("a missing path throws and caches nothing") {
    val dir = lake.Lake.scratchDir("tables_missing")
    intercept[AnalysisException](Tables.load(spark, dir, "nation"))
    intercept[AnalysisException](Tables.register(spark, dir))
    writeNation(dir, "n_nationkey")
    var loaded: Seq[String] = Nil
    assert(jobsOf {
      loaded = Tables.load(spark, dir, "nation").columns.toSeq
    } == 1, "the first load after the failure must infer")
    assert(loaded == Seq("n_nationkey"))
  }
}
