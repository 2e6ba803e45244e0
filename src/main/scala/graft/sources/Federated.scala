package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Tables.{load => t}

/** Federated sources (SURVEY §2.1 S8/S9, §2.4 J2) — the reference's
  * second half: one SQL engine reading a key-value store (DynamoDB via a
  * Lambda connector, stacks/demo_stack.py:295-336) and a relational
  * database (Aurora MySQL, :372-394) next to the lake.
  *
  * The Spark model is the same as Athena's: every connector surfaces a
  * DataFrame, after which joins/aggregations are source-agnostic. The
  * key-value store is a full DataSource V2 connector (segment-parallel
  * scan, key-predicate pushdown, column pruning — graft.sources.kv)
  * over an in-memory stand-in for the remote service; the relational
  * source is embedded Derby over real JDBC with parallel range
  * partitioning — the same code paths a production MySQL/Postgres
  * would use.
  */
object Federated {

  /** S8: key-value source — items addressed by key, scanned as a
    * DataFrame through the DSv2 `TableProvider` connector
    * (graft.sources.kv.KvSource): segment-parallel scan, key-equality
    * pushdown to point lookups, column pruning at the reader. The
    * backing store stands in for the remote KV service. */
  final class KeyValueSource(spark: SparkSession, val storeName: String) {
    def this(spark: SparkSession, items: Seq[(Long, Map[String, String])]) = {
      this(spark, s"anon_${java.util.UUID.randomUUID().toString.take(8)}")
      kv.KvStore.put(storeName, items)
    }
    /** Full scan (what a federated SELECT compiles to) — a real DSv2
      * scan, not a driver-built DataFrame. */
    def scan(): DataFrame =
      spark.read.format(classOf[kv.KvSource].getName)
        .option("store", storeName).load()
    /** Point lookups — the key-equality predicate pushes down into the
      * connector, which plans only the matching items. */
    def lookup(keys: Seq[Long]): DataFrame =
      scan().filter(col("kv_key").isin(keys: _*))
  }

  /** Registry unifying heterogeneous sources under names — the catalog
    * role the Athena federation connectors play. */
  final class SourceRegistry {
    private var sources = Map.empty[String, () => DataFrame]
    def register(name: String, make: () => DataFrame): Unit =
      sources += (name -> make)
    def table(name: String): DataFrame = sources(name)()
    def names: Seq[String] = sources.keys.toSeq.sorted
  }

  private val DerbyUrl = "jdbc:derby:memory:graftdb;create=true"

  /** LIMIT pushdown for Derby — see
    * [[org.apache.spark.sql.jdbc.GraftDerbyDialect]]. */
  private lazy val registerDerbyDialect: Unit =
    org.apache.spark.sql.jdbc.GraftDerbyDialect.register()

  /** S9: load a DataFrame into the embedded relational store via JDBC
    * (stand-in for Aurora; identical Spark code path). `columnTypes`
    * is the standard `createTableColumnTypes` override — needed when a
    * string column will be grouped/compared remotely: Spark's default
    * Derby mapping for StringType is CLOB, which Derby refuses in
    * GROUP BY / DISTINCT / ORDER BY. */
  def jdbcWrite(df: DataFrame, table: String,
      columnTypes: Option[String] = None): Unit = {
    val w = df.write.format("jdbc")
      .option("url", DerbyUrl)
      .option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    columnTypes.fold(w)(w.option("createTableColumnTypes", _))
      .mode("overwrite")
      .save()
  }

  /** S9: relational scan over JDBC. With `partition` = (column, lower,
    * upper, n), Spark issues n concurrent range-predicated queries
    * (`WHERE col >= x AND col < y` per task) — the production posture
    * for an Aurora-sized table, where a single-connection scan would
    * funnel everything through one task. Predicates and column pruning
    * push down to the remote engine either way (JDBC relation). */
  def jdbcRead(spark: SparkSession, table: String,
      partition: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", DerbyUrl)
      .option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    partition.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c)
        .option("lowerBound", lo)
        .option("upperBound", hi)
        .option("numPartitions", n)
    }.load()
  }

  /** S9b: the same embedded Derby surfaced through the DataSource V2
    * JDBC catalog — the path where AGGREGATE and LIMIT pushdown live
    * (the v1 `format("jdbc")` relation only pushes predicates/columns).
    * At 100 TB federation this is the difference between moving rows
    * and moving a scalar: `SELECT status, sum(x) … GROUP BY status`
    * executes inside the remote engine (the posture the reference's
    * Aurora federation implies, stacks/demo_stack.py:372-394) and the
    * scan returns pre-aggregated rows. Catalog registration is
    * session-conf-scoped and idempotent.
    *
    * Identifier case: the v1 write path embeds `dbtable` unquoted, so
    * Derby normalizes table/column names to UPPERCASE; the v2 catalog
    * quotes identifiers, so the lookup must use the normalized form
    * (consumers re-alias columns to the lake's lowercase names). */
  def jdbcCatalogTable(spark: SparkSession, table: String): DataFrame = {
    registerDerbyDialect
    val c = "spark.sql.catalog.graftdb"
    spark.conf.set(c,
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(s"$c.url", DerbyUrl)
    spark.conf.set(s"$c.driver", "org.apache.derby.jdbc.EmbeddedDriver")
    spark.conf.set(s"$c.pushDownAggregate", "true")
    spark.conf.set(s"$c.pushDownLimit", "true")
    // Join pushdown needs the catalog option AND the optimizer flag
    // (off by default in Spark 4.1) AND a dialect that opts in — a
    // same-source two-table join then ships as ONE remote query, and
    // composes with aggregate pushdown (join + GROUP BY remotely, one
    // row per group over the wire). All options are set before the
    // catalog's first instantiation; later sets are idempotent (the
    // catalog snapshots its options on first use).
    spark.conf.set(s"$c.pushDownJoin", "true")
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    spark.table(s"graftdb.APP.${table.toUpperCase(java.util.Locale.ROOT)}")
  }

  /** Build the demo KV store: nation rows bulk-loaded as key→attribute
    * items through the service's write path — each partition writes its
    * own rows (no driver-side collect anywhere in the pipeline). */
  private def nationKv(s: SparkSession, dir: String): KeyValueSource = {
    val name = s"nation_${math.abs(dir.hashCode)}"
    kv.KvStore.bulkLoad(name,
      t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("kv_key"),
        map(lit("name"), col("n_name"),
          lit("regionkey"), col("n_regionkey").cast("string")).as("attrs")))
    new KeyValueSource(s, name)
  }

  // ------------------------------------------------------------ queries

  /** S8: lake table × key-value source join — suppliers enriched from
    * the KV store's attribute map. The KV side is tiny → broadcast. */
  private val s8KvJoin: Q = (s, dir) => {
    val kv = nationKv(s, dir).scan()
      .select(col("kv_key"), col("attrs")("name").as("nation_name"))
    t(s, dir, "supplier")
      .join(broadcast(kv), col("s_nationkey").cast("long") === col("kv_key"))
      .select(col("s_suppkey"), col("s_name"), col("nation_name"))
      .orderBy(col("s_suppkey"))
  }

  /** S8b: DSv2 SINK round trip — suppliers written through the KV
    * connector's write path (`.write.format(...).mode("overwrite")`,
    * task-parallel idempotent puts, truncate-then-load) and read back
    * through its scan; the oracle recomputes the projection from the
    * lake table directly, so a dropped row, clobbered attribute, or
    * leftover pre-truncate item all hash-fail. */
  private val s8bKvSinkRt: Q = (s, dir) => {
    val name = s"supplier_sink_${math.abs(dir.hashCode)}"
    t(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("kv_key"),
        map(lit("name"), col("s_name"),
          lit("nationkey"), col("s_nationkey").cast("string")).as("attrs"))
      .write.format(classOf[kv.KvSource].getName)
      .option("store", name).mode("overwrite").save()
    s.read.format(classOf[kv.KvSource].getName)
      .option("store", name).load()
      .select(col("kv_key"), col("attrs")("name").as("name"),
        col("attrs")("nationkey").cast("int").as("nationkey"))
      .orderBy(col("kv_key"))
  }

  /** S9: relational source round trip — region through embedded Derby
    * over real JDBC, read back as a 4-partition parallel range scan. */
  private val s9Jdbc: Q = (s, dir) => {
    jdbcWrite(t(s, dir, "region"), "region_rel")
    jdbcRead(s, "region_rel", Some(("r_regionkey", 0L, 5L, 4)))
      .select(col("r_regionkey").cast("int"), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  /** S9b: federated aggregate pushed INTO the remote engine — the scan
    * node's `PushedAggregates` carries the whole GROUP BY, so Derby
    * returns one row per status instead of one per order (plan-pinned
    * in FederatedSpec). Summed column is BIGINT end-to-end: Derby
    * SUM(INT) would overflow where SUM(BIGINT) cannot. */
  private val s9bJdbcAggPush: Q = (s, dir) => {
    jdbcWrite(t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_custkey"), col("o_totalprice")),
      "orders_agg_rel", columnTypes = Some("o_orderstatus VARCHAR(4)"))
    jdbcCatalogTable(s, "orders_agg_rel")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).as("sum_cust"),
        max(col("o_totalprice")).as("max_price"))
      .select(col("o_orderstatus").as("o_orderstatus"), col("n"),
        col("sum_cust"), col("max_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** S9c: federated JOIN + aggregate pushed into the remote engine as
    * ONE query — the scan node carries `PushedJoins` AND
    * `PushedAggregates`, so Derby joins nation to region, groups, and
    * returns one row per region name (plan-pinned in FederatedSpec).
    * At 100 TB federation this is the end state: the remote engine does
    * the relational work; Spark receives answers, not rows. */
  private val s9cJdbcJoinPush: Q = (s, dir) => {
    jdbcWrite(t(s, dir, "nation")
      .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
        col("n_regionkey")),
      "nation_join_rel")
    jdbcWrite(t(s, dir, "region")
      .select(col("r_regionkey"), col("r_name")),
      "region_join_rel", columnTypes = Some("r_name VARCHAR(32)"))
    jdbcCatalogTable(s, "nation_join_rel")
      .join(jdbcCatalogTable(s, "region_join_rel"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_nationkey")).as("sum_key"))
      .select(col("r_name").as("r_name"), col("n_nations"), col("sum_key"))
      .orderBy(col("r_name"))
  }

  /** J2: cross-source federated join — JDBC relational × lake parquet ×
    * in-memory KV in ONE query, the whole point of the reference's
    * federation infra. */
  private val j2Federated: Q = (s, dir) => {
    jdbcWrite(t(s, dir, "region"), "region_rel")
    val reg = new SourceRegistry
    reg.register("region_rel", () => jdbcRead(s, "region_rel"))
    reg.register("nation_lake", () => t(s, dir, "nation"))
    reg.register("customer_kv", () => nationKv(s, dir).scan())
    reg.table("nation_lake")
      .join(broadcast(reg.table("region_rel")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(reg.table("customer_kv")),
        col("n_nationkey").cast("long") === col("kv_key"))
      .select(col("r_name"), col("n_name"),
        col("attrs")("regionkey").cast("int").as("kv_regionkey"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val queries: Seq[Query] = Seq(
    Query("s8_kv_join", s8KvJoin,
      """SELECT s_suppkey, s_name, n_name AS nation_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin),
    Query("s8b_kv_sink_rt", s8bKvSinkRt,
      """SELECT s_suppkey AS kv_key, s_name AS name,
        |  s_nationkey AS nationkey
        |FROM supplier ORDER BY kv_key""".stripMargin),
    Query("s9_jdbc", s9Jdbc,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    Query("s9b_jdbc_agg_push", s9bJdbcAggPush,
      """SELECT o_orderstatus, count(*)::BIGINT AS n,
        |  sum(o_custkey)::BIGINT AS sum_cust,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),
    Query("s9c_jdbc_join_push", s9cJdbcJoinPush,
      """SELECT r_name, count(*)::BIGINT AS n_nations,
        |  sum(n_nationkey)::BIGINT AS sum_key
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    Query("j2_federated", j2Federated,
      """SELECT r_name, n_name, n_regionkey AS kv_regionkey
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name, n_name""".stripMargin),
  )
}
