package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}
import Lake.Mapping

/** Oracle-checkable round-trip pipelines over the lake layer.
  *
  * Each query materializes a fixture from the testdata parquet (the one
  * ground truth both engines share), pushes it through the ingest/sink
  * operator under test, and returns the read-back — so the DuckDB oracle
  * on the *original* table checks the whole round trip: write fidelity,
  * null sentinels, header/trim/inference semantics, partition layout.
  */
object LakeQueries {

  /** S1: TSV scan (sep/header/quote/`\N` nulls) — customer TSV with a
    * nullable column round-trips; inference types then ApplyMapping
    * restores the canonical schema. */
  private val s1TsvScan: Q = (s, dir) => {
    val out = Lake.scratchDir("s1")
    Lake.writeTsv(
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
        round(col("c_acctbal"), 2).as("bal")),
      out)
    Lake.applyMapping(
      Lake.readTsv(s, out),
      Seq(Mapping("c_custkey", "c_custkey", "bigint"),
        Mapping("c_name", "c_name", "string"),
        Mapping("seg", "seg", "string"),
        Mapping("bal", "bal", "double")))
      .orderBy(col("c_custkey"))
  }

  /** S2: gzip'd TSV ingest (the reference's `.tsv.gz` IMDB downloads,
    * get_imdb_datasets:12-13) — codec is transparent to the scan. */
  private val s2GzipScan: Q = (s, dir) => {
    val out = Lake.scratchDir("s2")
    Lake.writeTsv(
      t(s, dir, "supplier").select(
        col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("bal")),
      out, gzip = true)
    Lake.applyMapping(
      Lake.readTsv(s, out),
      Seq(Mapping("s_suppkey", "s_suppkey", "bigint"),
        Mapping("s_name", "s_name", "string"),
        Mapping("s_nationkey", "s_nationkey", "int"),
        Mapping("bal", "bal", "double")))
      .orderBy(col("s_suppkey"))
  }

  /** S3: crawler without classifier — headerless all-string read
    * (`_c0.._cN`), the README.md:87-90 fallback semantics. */
  private val s3CrawlerAllstring: Q = (s, dir) => {
    val out = Lake.scratchDir("s3")
    Lake.writeTsv(t(s, dir, "region"), out, header = false)
    Lake.readAllString(s, out)
      .select(col("_c0").as("rkey"), col("_c1").as("rname"))
      .orderBy(col("rkey"))
  }

  /** S4: classifier read — header row + value trimming + inference
    * (stacks/demo_stack.py:158-169): padded names come back clean. */
  private val s4ClassifierInfer: Q = (s, dir) => {
    val out = Lake.scratchDir("s4")
    Lake.writeTsv(
      t(s, dir, "nation").select(
        col("n_nationkey"),
        concat(lit("  "), col("n_name"), lit("  ")).as("n_name"),
        col("n_regionkey")),
      out)
    Lake.applyMapping(
      Lake.readTsv(s, out, trim = true),
      Seq(Mapping("n_nationkey", "n_nationkey", "int"),
        Mapping("n_name", "n_name", "string"),
        Mapping("n_regionkey", "n_regionkey", "int")))
      .orderBy(col("n_nationkey"))
  }

  /** P1/P2: ApplyMapping with rename + choice resolution — an
    * int-or-'N/A' column (the birthYear shape, csv_to_parquet.py:43-44)
    * read all-string then projected/renamed/cast in one mapping. */
  private val p1ApplyMapping: Q = (s, dir) => {
    val out = Lake.scratchDir("p1")
    Lake.writeTsv(
      t(s, dir, "part").select(
        col("p_partkey"), col("p_name"),
        when(col("p_size") < 10, lit("N/A"))
          .otherwise(col("p_size").cast("string")).as("size_raw")),
      out)
    Lake.applyMapping(
      Lake.readTsv(s, out, inferSchema = false),
      Seq(Mapping("p_partkey", "part_id", "bigint"),
        Mapping("p_name", "name", "string"),
        Mapping("size_raw", "size_int", "int")))
      .orderBy(col("part_id"))
  }

  /** P2b: `make_struct` choice resolution — the same int-or-'N/A'
    * column, but keeping BOTH representations (`struct<as_int,
    * as_string>`, the csv_to_parquet.py:43-44 `choice` semantics Glue
    * users resolve with make_struct) and projecting each field out. */
  private val p2ChoiceStruct: Q = (s, dir) => {
    val out = Lake.scratchDir("p2")
    Lake.writeTsv(
      t(s, dir, "part").select(
        col("p_partkey"),
        when(col("p_size") < 10, lit("N/A"))
          .otherwise(col("p_size").cast("string")).as("size_raw")),
      out)
    Lake.resolveChoiceStruct(
      Lake.readTsv(s, out, inferSchema = false),
      "size_raw", Seq("int", "string"))
      .select(col("p_partkey").cast("bigint").as("part_id"),
        col("size_raw.as_int").as("size_int"),
        col("size_raw.as_string").as("size_str"))
      .orderBy(col("part_id"))
  }

  /** K1+S7: partitioned parquet write then partition-pruned read-back —
    * the filter on the partition column prunes directories (the layout
    * decision at csv_to_parquet.py:58). */
  private val k1PartitionPrune: Q = (s, dir) => {
    val out = Lake.scratchDir("k1")
    Lake.writeParquet(t(s, dir, "customer"), out, Seq("c_nationkey"))
    prunedRead(s, out)
  }

  /** The pruned read-back half of K1+S7 (also asserted on in tests). */
  def prunedRead(s: SparkSession, root: String): DataFrame =
    Lake.readPartitioned(s, root)
      .filter(col("c_nationkey") === 7)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("bal"),
        col("c_nationkey").cast("int").as("c_nationkey"))
      .orderBy(col("c_custkey"))

  /** K2: plain parquet round trip — types (incl. ms timestamps) survive
    * exactly. */
  private val k2ParquetRt: Q = (s, dir) => {
    val out = Lake.scratchDir("k2")
    Lake.writeParquet(t(s, dir, "orders"), out)
    Lake.readPartitioned(s, out)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("price"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }

  /** K3: query-results CSV sink — an aggregate lands as CSV-with-header
    * (Athena workgroup results, demo_stack.py:260-264), compared by
    * re-read with an explicit schema. */
  private val k3ResultsCsv: Q = (s, dir) => {
    val out = Lake.scratchDir("k3")
    Lake.writeResultsCsv(
      t(s, dir, "orders").groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total")),
      out)
    s.read.option("header", "true")
      .schema("status string, n bigint, total double")
      .csv(out)
      .orderBy(col("status"))
  }

  /** K4: raw-zone bulk load — files copied under a zone prefix, then
    * scanned in place (BucketDeployment, demo_stack.py:76-84). */
  private val k4BulkLoad: Q = (s, dir) => {
    val zone = Lake.scratchDir("k4")
    Lake.bulkLoad(dir, zone)
    s.read.parquet(s"$zone/nation.parquet").orderBy(col("n_nationkey"))
  }

  /** S10: JSON-lines ingest — the landing format of LLM-document
    * pipelines (and an Athena-native SerDe): documents written as JSONL,
    * read back with an explicit schema (inference over JSON is a
    * crawler concern, not a query-time one). Oracle is the original
    * table — the round trip must preserve every value. */
  private val s10JsonlRt: Q = (s, dir) => {
    val out = Lake.scratchDir("s10")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .write.mode("overwrite").json(out)
    s.read.schema("doc_id bigint, lang string, text string").json(out)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** S23: multiLine JSON-ARRAY ingest — the API-dump layout (one JSON
    * array per file, records spanning lines), the sibling of s10's
    * JSONL: multiLine=true makes each FILE one parse unit. The write
    * side builds one array per partition via mapPartitions (no driver
    * collect — a real dump arrives as many array files, and this is
    * exactly that shape), the read side is the surface under test. */
  private val s23MultilineJson: Q = (s, dir) => {
    import s.implicits._
    val out = Lake.scratchDir("s23")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4).toJSON
      .mapPartitions(rows => Iterator(rows.mkString("[\n", ",\n", "\n]")))
      .write.mode("overwrite").text(out)
    s.read.option("multiLine", "true")
      .schema("doc_id bigint, lang string, text string")
      .json(out)
      .orderBy(col("doc_id"))
  }

  /** S24: CSV with a CUSTOM timestamp format — the locale-shaped feed
    * (dd/MM/yyyy HH:mm, ';' separator) every integration eventually
    * ships: the writer renders orders through date_format, the reader
    * parses back with an explicit schema + timestampFormat. Order
    * dates are whole minutes, so the format round-trips exactly and
    * the oracle is the raw table. */
  private val s24CsvTsFormat: Q = (s, dir) => {
    val out = Lake.scratchDir("s24")
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate").cast("timestamp"),
          "dd/MM/yyyy HH:mm").as("ts_str"),
        round(col("o_totalprice"), 2).as("price"))
      .write.mode("overwrite").option("header", "true").option("sep", ";")
      .csv(out)
    s.read.option("header", "true").option("sep", ";")
      .option("timestampFormat", "dd/MM/yyyy HH:mm")
      .schema("o_orderkey bigint, ts_str timestamp, price double")
      .csv(out)
      .select(col("o_orderkey"), col("ts_str").as("o_orderdate"),
        col("price"))
      .orderBy(col("o_orderkey"))
  }

  /** S11: ORC round trip — the second columnar format the provisioned
    * SQL surface reads; types and values must survive exactly. */
  private val s11OrcRt: Q = (s, dir) => {
    val out = Lake.scratchDir("s11")
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("bal"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy(col("s_suppkey"))
  }

  /** S21: XML ingest via Spark 4's BUILT-IN XML source (SPARK-44265 —
    * the spark-xml package folded into core; `rowTag` picks the
    * repeating element, attributes read as `_attr` fields). The config
    * surface every feed-ingest lake needs for the XML third of the
    * CSV/JSON/XML triad. Supplier roundtrips: write with rowTag
    * `supplier`, read back with an EXPLICIT schema (schema-on-read —
    * inference is a sampling scan at 100 TB; the declared-schema path
    * is the production one). The oracle restates from the parquet
    * table, so any escaping/quoting/precision loss in the XML codec
    * hash-fails. */
  private val s21XmlRt: Q = (s, dir) => {
    val out = Lake.scratchDir("s21")
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal"), 2).as("bal"),
        // exercise the XML escaping path: <, &, > must roundtrip
        concat(lit("<deal & co> "), col("s_name")).as("note"))
      .write.mode("overwrite").option("rowTag", "supplier")
      .format("xml").save(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, " +
        "bal DOUBLE, note STRING")
    s.read.schema(schema).option("rowTag", "supplier")
      .format("xml").load(out)
      .orderBy(col("s_suppkey"))
  }

  /** Grok-style access-log line pattern, shared verbatim with the
    * oracle (Java∩RE2: classes, bounded repetition, groups — no
    * lookaround). Group order: ip, user, epoch, path, status, bytes. */
  val LogLineRe = "^(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}) - " +
    "(\\S+) \\[(\\d+)\\] \"GET (\\S+) HTTP/1\\.1\" (\\d{3}) (\\d+)$"

  /** S22: grok/log classifier — the Glue-crawler feature the S-family
    * still lacked: a custom classifier that turns RAW LOG TEXT into a
    * typed table (the reference's crawler+classifier chain,
    * `demo_stack.py` `with_classifier_` prefix, applied to the log
    * format instead of TSV). Deterministic Apache-style access-log
    * lines are synthesized from `orders` (epoch-seconds timestamp
    * field — month-name formats are locale bait), written as a real
    * text file, re-read as raw lines, and parsed by the SHARED regex
    * into typed columns — the schema-on-read path a 100 TB log lake
    * runs map-only behind the scan. The rollup value-checks every
    * parsed field (count, distinct IPs, byte mass, epoch range per
    * status) plus a zero unparsed-line audit; the oracle synthesizes
    * the same lines from the same table and re-parses them with the
    * same regex. */
  private val s22GrokLog: Q = (s, dir) => {
    val out = Lake.scratchDir("s22")
    t(s, dir, "orders").select(concat(
        lit("10.0."), (col("o_custkey") % 256).cast("string"),
        lit("."), (col("o_orderkey") % 256).cast("string"),
        lit(" - u"), col("o_custkey").cast("string"),
        lit(" ["),
        (unix_micros(col("o_orderdate").cast("timestamp")) / 1000000L)
          .cast("long").cast("string"),
        lit("] \"GET /order/"), col("o_orderkey").cast("string"),
        lit(" HTTP/1.1\" "),
        when(col("o_orderstatus") === "F", lit("200"))
          .when(col("o_orderstatus") === "O", lit("302"))
          .otherwise(lit("404")),
        lit(" "), (col("o_orderkey") % 9973 + 100).cast("string"))
        .as("value"))
      .write.mode("overwrite").text(out)
    val raw = s.read.text(out)
    val parsed = raw.select(
      regexp_extract(col("value"), LogLineRe, 1).as("ip"),
      regexp_extract(col("value"), LogLineRe, 3).cast("long").as("ts"),
      regexp_extract(col("value"), LogLineRe, 5).cast("long").as("status"),
      regexp_extract(col("value"), LogLineRe, 6).cast("long").as("bytes"),
      col("value").rlike(LogLineRe).as("ok"))
    parsed.groupBy(col("status"))
      .agg(count(lit(1)).as("n_req"),
        countDistinct(col("ip")).as("n_ips"),
        sum(col("bytes")).as("sum_bytes"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_unparsed"))
      .orderBy(col("status"))
  }

  /** S25: FIXED-WIDTH file ingest — the mainframe/COBOL-copybook
    * export format Spark has no native reader for (and the one
    * classifier shape the S-family still lacked): records are
    * position-addressed, zero/space-padded columns with an explicit
    * sign byte for money. Deterministic 55-byte records are
    * synthesized from `customer` (custkey 10 zero-padded, name 20
    * space-padded, nation 3 zero-padded, sign byte + 11-digit
    * zero-padded integer CENTS — money never rides a float through a
    * text format — segment 10 space-padded), written as a real text
    * file, re-read raw, and sliced by SUBSTRING POSITIONS into typed
    * columns, map-only. The rollup value-checks every parsed field
    * per segment plus a record-length audit; the oracle rebuilds and
    * re-slices the same records with the same positions. */
  private val s25FixedWidth: Q = (s, dir) => {
    val out = Lake.scratchDir("s25")
    val cents = round(col("c_acctbal") * 100).cast("long")
    t(s, dir, "customer").select(concat(
        lpad(col("c_custkey").cast("string"), 10, "0"),
        rpad(col("c_name"), 20, " "),
        lpad(col("c_nationkey").cast("string"), 3, "0"),
        when(cents < 0, lit("-")).otherwise(lit("+")),
        lpad(abs(cents).cast("string"), 11, "0"),
        rpad(col("c_mktsegment"), 10, " ")).as("value"))
      .write.mode("overwrite").text(out)
    val v = col("value")
    val parsed = s.read.text(out).select(
      substring(v, 1, 10).cast("long").as("custkey"),
      trim(substring(v, 11, 20)).as("name"),
      substring(v, 31, 3).cast("long").as("nation"),
      (when(substring(v, 34, 1) === "-", -1L).otherwise(1L) *
        substring(v, 35, 11).cast("long")).as("cents"),
      trim(substring(v, 46, 10)).as("segment"),
      (length(v) === 55).as("ok"))
    parsed.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("custkey")).as("sum_keys"),
        sum(col("cents")).as("sum_cents"),
        countDistinct(col("nation")).as("n_nations"),
        sum(length(col("name"))).as("sum_name_len"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_badlen"))
      .orderBy(col("segment"))
  }

  /** K7: small-file compaction — a fragmented zone (32 files) compacts
    * to target-sized files with byte-identical data; the oracle reads
    * the ORIGINAL table, so the fragment+compact+scan cycle must be
    * lossless. */
  private val k7Compact: Q = (s, dir) => {
    val zone = Lake.scratchDir("k7") + "/orders"
    t(s, dir, "orders").repartition(32).write.parquet(zone)
    Lake.compact(s, zone, targetBytes = 1024L * 1024 * 1024)
    s.read.parquet(zone)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** S5b: two-database catalog — raw and processed zones as real
    * catalog databases (demo_stack.py:94-100), tables published with
    * saveAsTable and addressed as `db.table` in SQL (:272). Database
    * names carry a session+sf suffix because concurrent sessions share
    * the warehouse dir (see k6's race note); CatalogSpec proves the
    * same layout survives a session restart under a Hive metastore. */
  private val s5bCatalogDb: Q = (s, dir) => {
    val sfx = Lake.sessionSuffix(s, dir)
    val (rawDb, procDb) = (s"raw_$sfx", s"processed_$sfx")
    Catalog.publish(s, rawDb, "nation", t(s, dir, "nation"))
    Catalog.publish(s, procDb, "supplier_stats",
      t(s, dir, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 2).as("total_bal")))
    s.sql(
      s"""SELECT n.n_name, p.n_suppliers, p.total_bal
         |FROM $procDb.supplier_stats p
         |JOIN $rawDb.nation n ON p.s_nationkey = n.n_nationkey
         |ORDER BY n.n_name""".stripMargin)
  }

  /** The reference's WHOLE flagship path as one oracle-gated pipeline
    * (csv_to_parquet.py + demo_stack.py:284-293): IMDB-shaped TSVs land
    * in a raw zone with `\N` nulls → the ETL job resolves the
    * birthYear-style choice column (all-string read + try_cast
    * ApplyMapping), writes dual parquet (birthYear-partitioned + flat)
    * → crawler-style registration under the `with_classifier_` prefix →
    * the demo's ratings⋈basics join. Fixtures derive from testdata
    * (customer/orders) so DuckDB recomputes the whole thing exactly.
    * The rating rides as o_totalprice/1024 — a binary-exact division,
    * so the TSV round trip and both engines agree to the bit. */
  /** S12: catalog VIEW — Athena's CREATE VIEW surface (the workgroup
    * SQL, demo_stack.py:255-265): a named view over the processed zone
    * lives in the catalog and is queried like a table. */
  private val s12SqlView: Q = (s, dir) => {
    val db = s"processed_${Lake.sessionSuffix(s, dir)}"
    Catalog.publish(s, db, "customer_src", t(s, dir, "customer"))
    s.sql(s"DROP VIEW IF EXISTS `$db`.cust_by_nation")
    // decimal sum serialized as string — exact on both engines (the
    // rounded-double avg hit a .005 half boundary; see f14_decimal)
    s.sql(
      s"""CREATE VIEW `$db`.cust_by_nation AS
         |SELECT c_nationkey, count(*) AS n_cust,
         |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS STRING)
         |         AS total_bal
         |FROM `$db`.customer_src GROUP BY c_nationkey""".stripMargin)
    s.sql(s"SELECT * FROM `$db`.cust_by_nation ORDER BY c_nationkey")
  }

  /** S13: partition discovery — the crawler's defining behavior
    * (demo_stack.py:130-145: scan a Hive-layout prefix, register the
    * partitions in the catalog). An EXTERNAL partitioned table is
    * declared over an existing directory tree and `MSCK REPAIR TABLE`
    * discovers the partition directories; a partition-pruned query
    * proves they registered. */
  private val s13MsckRepair: Q = (s, dir) => {
    val root = Lake.scratchDir("s13")
    Lake.writeParquet(
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("bal"), col("c_nationkey")),
      root, Seq("c_nationkey"))
    val tbl = s"graft_msck_${Lake.sessionSuffix(s, dir)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(
      s"""CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal DOUBLE,
         |  c_nationkey INT)
         |USING parquet PARTITIONED BY (c_nationkey)
         |LOCATION '$root'""".stripMargin)
    // before repair the catalog knows zero partitions; MSCK walks the
    // directory tree exactly like the crawler walks the S3 prefix
    s.sql(s"MSCK REPAIR TABLE $tbl")
    s.sql(
      s"""SELECT c_custkey, c_name, bal, c_nationkey FROM $tbl
         |WHERE c_nationkey IN (3, 7) ORDER BY c_custkey""".stripMargin)
  }

  /** S14: schema evolution across batches — the crawler's
    * schema-change handling (a later load adds a column; the catalog
    * table must surface the union). Two parquet batches with different
    * schemas under one prefix, read with mergeSchema: early rows carry
    * NULL for the late column. */
  private val s14SchemaMerge: Q = (s, dir) => {
    val root = Lake.scratchDir("s14")
    val n = t(s, dir, "nation")
    n.filter(col("n_nationkey") < 12)
      .select(col("n_nationkey"), col("n_name"))
      .write.parquet(s"$root/batch=1")
    n.filter(col("n_nationkey") >= 12)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.parquet(s"$root/batch=2")
    s.read.option("mergeSchema", "true").parquet(root)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("batch"))
      .orderBy(col("n_nationkey"))
  }

  /** S15: crawler re-crawl — a crawler re-run updates the EXISTING
    * table definition in place (stacks/demo_stack.py:130-145: the same
    * crawler name re-walks the prefix and rewrites the catalog entry);
    * consumers addressing the table by name must see the new schema
    * without re-registering anything themselves. First crawl registers
    * a 2-column nation; the folder is reloaded with a 3rd column;
    * re-crawling the SAME name updates the definition — the final
    * by-name read surfaces the new column. `cols_before` pins the
    * pre-recrawl width so the gate proves the schema actually changed. */
  private val s15RecrawlUpdate: Q = (s, dir) => {
    val root = Lake.scratchDir("s15")
    val n = t(s, dir, "nation")
    Lake.writeParquet(n.select(col("n_nationkey"), col("n_name")), root)
    val name = s"recrawl_nation_${Lake.sessionSuffix(s, dir)}"
    Lake.register(s, Map(name -> s.read.parquet(root)))
    val colsBefore = s.table(name).columns.length
    // the raw zone is reloaded with a wider schema…
    Lake.writeParquet(
      n.select(col("n_nationkey"), col("n_name"), col("n_regionkey")), root)
    // …and the crawler re-runs under the SAME table name (in-place update)
    Lake.register(s, Map(name -> s.read.parquet(root)))
    s.table(name)
      .withColumn("cols_before", lit(colsBefore))
      .orderBy(col("n_nationkey"))
  }

  /** K9: dynamic partition overwrite — the re-run-one-partition
    * semantic of a partitioned ETL job (the reference's Glue job writes
    * `partitionKeys=["birthYear"]` with overwrite, csv_to_parquet.py:
    * 52-61; re-running it for one year must replace only that year's
    * directory). Full partitioned write, then a dynamic-mode overwrite
    * of ONLY nation 7 with corrected balances; the read-back must show
    * nation 7 updated and every other partition intact — static
    * overwrite semantics would have dropped them. */
  /** K31: FILE SIZING via `maxRecordsPerFile` — the writer-side knob
    * that bounds output file size without an extra repartition shuffle
    * (each write task rolls to a new file at the cap): at 100 TB this
    * is how a table avoids both the small-files problem (k30's cure)
    * and the giant-file problem (un-splittable row groups, skewed
    * scans). Orders lands in 4 tasks capped at 500 rows/file; the gate
    * checks DISTRIBUTEDLY (one `input_file_name()` aggregation — file
    * counts never collect row data) that NO file exceeds the cap and
    * that the file count is at least ⌈rows/cap⌉, then hash-gates the
    * read-back content against the raw table. */
  private val k31FileSizing: Q = (s, dir) => {
    val root = Lake.scratchDir("k31")
    val orders = t(s, dir, "orders").select(
      col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    orders.repartition(4)
      .write.option("maxRecordsPerFile", 500).parquet(s"$root/data")
    val back = s.read.parquet(s"$root/data")
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"))
      .agg(max(col("rows")).as("max_rows"),
        count(lit(1)).as("n_files"),
        sum(col("rows")).as("total"))
      .head() // one row: (max per-file rows, file count, total rows)
    require(perFile.getLong(0) <= 500,
      s"a file holds ${perFile.getLong(0)} rows > maxRecordsPerFile=500")
    require(perFile.getLong(1) >= (perFile.getLong(2) + 499) / 500,
      "fewer files than the cap allows — cap not applied")
    back.agg(count(lit(1)).as("n_rows"),
      sum(col("o_orderkey")).as("sum_keys"),
      round(sum(col("price")), 2).as("sum_price"))
  }

  private val k9DynamicOverwrite: Q = (s, dir) => {
    val root = Lake.scratchDir("k9")
    val cust = t(s, dir, "customer").select(
      col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("bal"),
      col("c_nationkey"))
    Lake.writeParquet(cust, root, Seq("c_nationkey"))
    cust.filter(col("c_nationkey") === 7)
      .withColumn("bal", round(col("bal") + 1000.0, 2))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("c_nationkey").parquet(root)
    Lake.readPartitioned(s, root)
      .select(col("c_custkey"), col("c_name"), col("bal"),
        col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  private val etlImdbJoin: Q = (s, dir) => {
    val root = Lake.scratchDir("imdb")
    Lake.writeTsv(
      t(s, dir, "customer").select(
        concat(lit("nm"), col("c_custkey")).as("nconst"),
        col("c_name").as("primaryName"),
        when(col("c_nationkey") < 5, lit(null).cast("string"))
          .otherwise((col("c_nationkey") + 1900).cast("string"))
          .as("birthYear")),
      s"$root/name.basics")
    Lake.writeTsv(
      t(s, dir, "orders").select(
        concat(lit("nm"), col("o_custkey")).as("nconst"),
        (col("o_totalprice") / 1024).as("rating")),
      s"$root/name.ratings")
    val (outPart, outFlat) = (s"$root/basics_part", s"$root/basics_flat")
    Etl.tsvToParquet(s, s"$root/name.basics",
      Seq(Mapping("nconst", "nconst", "string"),
        Mapping("primaryName", "primaryName", "string"),
        Mapping("birthYear", "birthYear", "int")),
      outPart, outFlat, Seq("birthYear"))
    Lake.register(s, Map(
      "name.basics" -> Lake.readPartitioned(s, outPart),
      "name.ratings" -> Lake.readTsv(s, s"$root/name.ratings")),
      prefix = "with_classifier_")
    s.sql(
      """SELECT b.primaryName, b.birthYear, count(*) AS n_titles,
        |  round(avg(r.rating), 4) AS avg_rating
        |FROM with_classifier_name_ratings r
        |JOIN with_classifier_name_basics b ON r.nconst = b.nconst
        |WHERE b.birthYear IS NOT NULL
        |GROUP BY b.primaryName, b.birthYear
        |ORDER BY b.primaryName""".stripMargin)
  }

  /** K8: CTAS + INSERT INTO — the Athena workgroup's SQL write surface
    * (CREATE TABLE AS SELECT into the lake, then append): a catalog
    * table is created from a query, appended to with a second insert,
    * and read back by name. Oracle recomputes the union from the
    * original tables. */
  private val k8CtasInsert: Q = (s, dir) => {
    Tables.register(s, dir)
    val tbl = s"graft_ctas_${Lake.sessionSuffix(s, dir)}"
    Catalog.dropManagedTable(s, tbl)
    s.sql(
      s"""CREATE TABLE $tbl USING parquet AS
         |SELECT n_nationkey AS id, n_name AS name, 'nation' AS src
         |FROM nation""".stripMargin)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT r_regionkey AS id, r_name AS name, 'region' AS src
         |FROM region""".stripMargin)
    s.table(tbl).orderBy(col("src"), col("id"))
  }

  /** K8b: PARTITIONED CTAS — Athena's `partitioned_by` CTAS surface
    * (workgroup SQL, stacks/demo_stack.py:255-265; Hive layout as in
    * csv_to_parquet.py:58): CREATE TABLE ... USING parquet
    * PARTITIONED BY AS SELECT, then a partition-predicate read back.
    * Spark moves the partition column to the END of the schema, so the
    * query re-selects explicitly to pin the column order the oracle
    * uses. Directory pruning on the result table is plan-pinned in
    * LakeSpec ("partitioned CTAS prunes partitions"). */
  private val k8bCtasPartitioned: Q = (s, dir) => {
    Tables.register(s, dir)
    val tbl = s"graft_ctasp_${Lake.sessionSuffix(s, dir)}"
    Catalog.dropManagedTable(s, tbl)
    s.sql(
      s"""CREATE TABLE $tbl USING parquet PARTITIONED BY (nk) AS
         |SELECT c_custkey AS id, c_name AS name,
         |  round(c_acctbal, 2) AS bal, c_nationkey AS nk
         |FROM customer""".stripMargin)
    s.table(tbl).filter(col("nk").isin(3, 7))
      .select(col("id"), col("name"), col("bal"), col("nk"))
      .orderBy(col("id"))
  }

  /** K5: crawler-style registration under a name prefix
    * (`with_classifier_`, demo_stack.py:144/:186). */
  private val k5RegisterPrefix: Q = (s, dir) => {
    Lake.register(s, Map("nation" -> t(s, dir, "nation")), prefix = "raw_")
    s.sql(
      """SELECT n_regionkey, count(*) AS n FROM raw_nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
  }

  /** S16: crawler column statistics — the table-stats side of a crawler
    * run (the reference's crawlers populate catalog column stats next to
    * schemas): per-column null count, exact NDV, numeric min/max,
    * string min/max, computed in ONE scan (a single aggregate row —
    * count_distinct expands map-side — then exploded into the per-column
    * stats rows; the explode is over a 4-element literal array, not
    * data). ASCII-only string min/max keeps both engines' byte order
    * identical. */
  private val s16Profile: Q = (s, dir) => {
    val df = t(s, dir, "customer")
    def nulls(c: String) =
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    val a = df.agg(
      nulls("c_custkey"), countDistinct(col("c_custkey")).as("c_custkey_ndv"),
      min(col("c_custkey")).cast("double").as("c_custkey_min"),
      max(col("c_custkey")).cast("double").as("c_custkey_max"),
      nulls("c_acctbal"), countDistinct(col("c_acctbal")).as("c_acctbal_ndv"),
      min(col("c_acctbal")).cast("double").as("c_acctbal_min"),
      max(col("c_acctbal")).cast("double").as("c_acctbal_max"),
      nulls("c_name"), countDistinct(col("c_name")).as("c_name_ndv"),
      min(col("c_name")).as("c_name_smin"), max(col("c_name")).as("c_name_smax"),
      nulls("c_mktsegment"),
      countDistinct(col("c_mktsegment")).as("c_mktsegment_ndv"),
      min(col("c_mktsegment")).as("c_mktsegment_smin"),
      max(col("c_mktsegment")).as("c_mktsegment_smax"))
    def num(c: String) = struct(lit(c).as("column_name"),
      col(s"${c}_nulls").as("n_nulls"), col(s"${c}_ndv").as("n_distinct"),
      col(s"${c}_min").as("min_num"), col(s"${c}_max").as("max_num"),
      lit(null).cast("string").as("min_str"),
      lit(null).cast("string").as("max_str"))
    def str(c: String) = struct(lit(c).as("column_name"),
      col(s"${c}_nulls").as("n_nulls"), col(s"${c}_ndv").as("n_distinct"),
      lit(null).cast("double").as("min_num"),
      lit(null).cast("double").as("max_num"),
      col(s"${c}_smin").as("min_str"), col(s"${c}_smax").as("max_str"))
    a.select(explode(array(num("c_custkey"), num("c_acctbal"),
        str("c_name"), str("c_mktsegment"))).as("st"))
      .select(col("st.*"))
      .orderBy(col("column_name"))
  }

  /** K11: snapshot diff — the delta computation an incremental pipeline
    * runs between two corpus snapshots before incremental dedup/ingest:
    * full outer join on the id, content compared by sha2 digest (never
    * raw text), rows classified added/changed/removed/unchanged. The
    * "new" snapshot drops every 30th doc, rewrites every 15th, and adds
    * fresh ids. */
  private val k11SnapshotDiff: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val newSnap = docs.filter(col("doc_id") % 30 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 15 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
    val o = docs.select(col("doc_id"), sha2(col("text"), 256).as("od"))
    val n = newSnap.select(col("doc_id"), sha2(col("text"), 256).as("nd"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("od").isNull, "added")
          .when(col("nd").isNull, "removed")
          .when(col("od") =!= col("nd"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("status"))
  }

  /** S17: corrupt-record handling — dirty ingest is the 100 TB normal.
    * A TSV is written with an unparseable numeric field on every 10th
    * row; PERMISSIVE mode must capture exactly those rows in the
    * corrupt-record column (good rows parse fully), DROPMALFORMED must
    * silently keep only the good rows. The oracle derives both modes'
    * counts from the source table, so a reader that misclassifies even
    * one row hash-mismatches. (FAILFAST is spec-tested — it throws.) */
  private val s17CorruptRecords: Q = (s, dir) => {
    val out = Lake.scratchDir("s17") + "/raw"
    val docs = t(s, dir, "documents")
    docs.select(concat_ws("\t",
        col("doc_id"), col("lang"),
        when(col("doc_id") % 10 === 0, concat(lit("xx"), col("n_chars")))
          .otherwise(col("n_chars").cast("string"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(out)
    val perm = s.read
      .schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt STRING")
      .option("sep", "\t").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(out)
    val drop = s.read
      .schema("doc_id LONG, lang STRING, n_chars LONG")
      .option("sep", "\t").option("mode", "DROPMALFORMED")
      .csv(out)
    perm.agg(
      sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
      sum(when(col("_corrupt").isNull, col("n_chars"))).as("sum_chars"))
      .withColumn("mode", lit("permissive"))
      .unionByName(
        drop.agg(count(lit(1)).as("n_good"), lit(0L).as("n_corrupt"),
          sum(col("n_chars")).as("sum_chars"))
          .withColumn("mode", lit("dropmalformed")))
      .select(col("mode"), col("n_good"), col("n_corrupt"), col("sum_chars"))
      .orderBy(col("mode"))
  }

  /** K12: job-bookmark incremental processing (the Glue ETL re-run
    * semantics): each run processes only landing files NOT yet in the
    * bookmark manifest, appends them to the curated zone, and advances
    * the manifest. Two batches land in sequence; the second run must
    * pick up ONLY the second batch — a bookmark bug double-processes
    * batch 1 and the whole-table oracle hash-mismatches on the inflated
    * counts. */
  private val k12Bookmark: Q = (s, dir) => {
    val root = Lake.scratchDir("k12")
    val (landing, curated) = (s"$root/landing", s"$root/curated")
    val manifest = new java.io.File(s"$root/manifest.txt")
    def listParts(): Set[String] =
      Option(new java.io.File(landing).listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    def incrementalLoad(): Unit = {
      val seen: Set[String] =
        if (manifest.exists())
          scala.io.Source.fromFile(manifest).getLines().toSet
        else Set.empty
      val fresh = (listParts() -- seen).toSeq.sorted
      if (fresh.nonEmpty) {
        s.read.parquet(fresh: _*)
          .write.mode("append").parquet(curated)
        val w = new java.io.FileWriter(manifest, true)
        try fresh.foreach(p => w.write(p + "\n")) finally w.close()
      }
    }
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("append").parquet(landing)
    incrementalLoad()
    docs.filter(col("doc_id") % 2 =!= 0)
      .write.mode("append").parquet(landing)
    incrementalLoad()
    s.read.parquet(curated)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** S20: binary-file source — Spark's `binaryFile` format, the raw
    * ingest surface multimodal pipelines start from (each blob lands as
    * (path, length, content)). Documents doc_id < 64 are written as
    * individual `.bin` files from EXECUTORS (foreachPartition — at
    * cluster scale these are object-store puts, never a driver loop)
    * across two nested directories, plus a `.txt` decoy;
    * `recursiveFileLookup` + `pathGlobFilter` must find exactly the 64
    * blobs and skip the decoy. The gate recomputes per-file byte
    * length and sha256 FROM THE CONTENT COLUMN; DuckDB restates both
    * from the documents table (UTF-8 byte semantics on both sides), so
    * a truncated file, a missed directory, or a decoy leak hash-fails. */
  private val s20BinaryFile: Q = (s, dir) => {
    val root = Lake.scratchDir("s20")
    new java.io.File(root, "a").mkdirs()
    new java.io.File(root, "b").mkdirs()
    import s.implicits._
    t(s, dir, "documents").filter(col("doc_id") < 64)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .foreachPartition { it: Iterator[(Long, String)] =>
        it.foreach { case (id, txt) =>
          val sub = if (id % 2 == 0) "a" else "b"
          java.nio.file.Files.write(
            java.nio.file.Paths.get(root, sub, s"doc_$id.bin"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "a", "readme.txt"),
      "decoy".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        sha2(col("content"), 256).as("digest"))
      .orderBy(col("doc_id"))
  }

  /** S28: WARC ingest — Common Crawl's container, i.e. the raw-zone
    * format of LLM pretraining corpora, parsed WITHOUT any external
    * WARC library (absent from /opt/spark/jars): documents render as
    * real ISO-28500 response records (WARC headers + declared
    * Content-Length + an HTTP response payload), land as eight files —
    * four plain, four whole-file gzip (the parser inflates by magic,
    * and multi-member per-record gzip inflates identically through
    * `GZIPInputStream`) — then [[graft.sources.Warc.parseRecords]]
    * walks records by DECLARED length (a body containing the literal
    * "WARC/1.0" cannot desynchronize it) as per-file map work over a
    * `binaryFile` scan. The oracle re-derives every parsed field from
    * the source table, Content-Length in UTF-8 BYTES (octet_length ↔
    * DuckDB strlen) — a one-byte drift anywhere in the header
    * arithmetic or payload slicing hash-fails. */
  private val s28WarcScan: Q = (s, dir) => {
    val root = Lake.scratchDir("s28")
    import s.implicits._
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><body>"),
      col("text"), lit("</body></html>"))
    val rec = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:doc-"),
      col("doc_id"),
      lit(">\r\nWARC-Target-URI: https://example.org/doc/"), col("doc_id"),
      lit("\r\nContent-Length: "), octet_length(http),
      lit("\r\n\r\n"), http, lit("\r\n\r\n"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 8 < 4).select(rec.as("value"))
      .repartition(4).write.text(s"$root/plain")
    docs.filter(col("doc_id") % 8 >= 4).select(rec.as("value"))
      .repartition(4).write.option("compression", "gzip")
      .text(s"$root/gz")
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt*")
      .option("recursiveFileLookup", "true").load(root)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        graft.sources.Warc.parseRecords(bytes).map(r =>
          (r.targetUri, path.endsWith(".gz"), r.contentLength,
            r.httpStatus, r.body))
      }
      .toDF("uri", "compressed", "content_length", "http_status", "body")
      .select(
        regexp_extract(col("uri"), "doc/(\\d+)$", 1).cast("long")
          .as("doc_id"),
        col("uri"), col("compressed"), col("content_length"),
        col("http_status"),
        // strip the fixture's <html><body> wrapper back off (12- and
        // 14-CHAR ASCII affixes — substr counts chars, not bytes)
        col("body").substr(lit(13),
          length(col("body")) - 26).as("text"))
      .orderBy(col("doc_id"))
  }

  /** Avro record schema shared by the s26/s27 gates (and, verbatim
    * modulo the reader-side extras, their oracle comments). */
  private val AvroDocSchema: String =
    """{"type":"record","name":"Doc","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"lang","type":"string"},
      |{"name":"text","type":"string"}]}""".stripMargin

  /** Write `documents` as REAL Avro object-container files, one per
    * partition, from the EXECUTORS (deflate codec, explicit schema,
    * GenericRecord) — no driver collect; returns the container dir. */
  private def writeAvroContainers(s: SparkSession, dir: String,
      tag: String): String = {
    import s.implicits._
    val root = Lake.scratchDir(tag)
    val schemaJson = AvroDocSchema
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4).as[(Long, String, String)]
      .foreachPartition { it: Iterator[(Long, String, String)] =>
        if (it.hasNext) {
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
          val pid = org.apache.spark.TaskContext.getPartitionId()
          w.create(schema, new java.io.File(root, s"part-$pid.avro"))
          try it.foreach { case (id, lang, txt) =>
            val r = new org.apache.avro.generic.GenericData.Record(schema)
            r.put("doc_id", id); r.put("lang", lang); r.put("text", txt)
            w.append(r)
          } finally w.close()
        }
      }
    root
  }

  /** The file-count-sized path manifest, parallelized one container
    * per task for the read side (the driver only ever holds paths). */
  private def avroPaths(root: String): Seq[String] = {
    val paths = new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".avro"))
      .map(_.getAbsolutePath).toSeq.sorted
    require(paths.lengthCompare(2) >= 0,
      s"expected multiple avro containers under $root, got $paths")
    paths
  }

  /** S26: Avro object-container ROUND-TRIP without the spark-avro
    * datasource module (absent from the Spark 4 jar dir, and coursier
    * is offline — the r13 adjudication). The Avro CORE library DOES
    * ship with Spark, and the container format is self-describing
    * (header schema + deflate blocks), so the lake can still land and
    * read `.avro` files: executors serialize their partitions through
    * `DataFileWriter` (one container per partition, no driver
    * collect), and the read side parallelizes the path manifest and
    * streams every container back through `DataFileStream` —
    * schema-checked, codec-decompressed, value-exact. The oracle
    * restates the FULL rows from the source table, so a lost block, a
    * codec bug, or a string-encoding mismatch hash-fails. Mirrors the
    * reference's Glue raw-zone jobs, which land exactly this container
    * format (`format = "avro"`, `glue_scripts/scripts/csv_to_parquet
    * .py`'s sibling surface). */
  private val s26AvroRt: Q = (s, dir) => {
    import s.implicits._
    val root = writeAvroContainers(s, dir, "s26")
    val paths = avroPaths(root)
    s.createDataset(paths).repartition(paths.size)
      .mapPartitions { ps =>
        ps.flatMap { p =>
          val rd = new org.apache.avro.file.DataFileStream(
            new java.io.BufferedInputStream(
              new java.io.FileInputStream(p)),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          // container-sized buffer (one write partition's rows) — the
          // stream must be closed after exhaustion, so drain eagerly
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, String)]
          try while (rd.hasNext) {
            val r = rd.next()
            out += ((r.get("doc_id").asInstanceOf[Long],
              r.get("lang").toString, r.get("text").toString))
          } finally rd.close()
          out.iterator
        }
      }.toDF("doc_id", "lang", "text")
      .orderBy(col("doc_id"))
  }

  /** S27: Avro READER-SCHEMA evolution over the same containers — the
    * consumer upgrades its schema without rewriting a byte: the reader
    * schema DROPS `text` (projection: the codec still skips through
    * the blocks, but no string materializes) and ADDS a defaulted
    * `src` field the writers never knew (`"default":"avro"`), and
    * every record resolves through Avro's schema-resolution rules.
    * Per-lang rollup with id checksum; the oracle restates counts and
    * the default from the source table. */
  private val s27AvroEvolution: Q = (s, dir) => {
    import s.implicits._
    val root = writeAvroContainers(s, dir, "s27")
    val paths = avroPaths(root)
    val readerJson =
      """{"type":"record","name":"Doc","fields":[
        |{"name":"doc_id","type":"long"},
        |{"name":"lang","type":"string"},
        |{"name":"src","type":"string","default":"avro"}]}""".stripMargin
    s.createDataset(paths).repartition(paths.size)
      .mapPartitions { ps =>
        ps.flatMap { p =>
          val reader = new org.apache.avro.Schema.Parser().parse(readerJson)
          val rd = new org.apache.avro.file.DataFileStream(
            new java.io.BufferedInputStream(
              new java.io.FileInputStream(p)),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord](reader))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, String)]
          try while (rd.hasNext) {
            val r = rd.next()
            out += ((r.get("doc_id").asInstanceOf[Long],
              r.get("lang").toString, r.get("src").toString))
          } finally rd.close()
          out.iterator
        }
      }.toDF("doc_id", "lang", "src")
      .groupBy(col("lang"), col("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("lang"))
  }

  /** Manifest-consult guard shared by the k19/k22 skipping gates: the
    * gate demands REAL pruning, and each degenerate branch must fail
    * INFORMATIVELY rather than crash a downstream read or silently
    * pass a vacuous skip. An EMPTY hit list means the index claims no
    * file can match — on these synthetic lookups that is a stale or
    * over-pruning index (losing rows), not a legitimate answer. A hit
    * list covering EVERY file means the layout stopped clustering the
    * skip column, so the "skip" would read the whole table. Returns
    * the hits unchanged so callers can chain into the pruned read. */
  private[lake] def consultPruningIndex(hit: Seq[String], total: Long,
      what: String): Seq[String] = {
    require(hit.nonEmpty,
      s"$what index pruned ALL files: an empty hit list on a known-" +
        "present key means the index is stale or over-pruning — " +
        "reading nothing would silently lose rows")
    require(hit.length < total,
      s"$what skip pruned nothing: ${hit.length} of $total files hit " +
        "— the layout no longer clusters the skip column, the index " +
        "buys no file elimination")
    hit
  }

  /** K19: file-stat min/max data skipping — the Iceberg/Delta manifest
    * pruning pattern on a plain-parquet lake. Orders land range-
    * clustered on `o_orderdate` (`repartitionByRange`, so per-file
    * ranges are near-disjoint); ONE distributed scan groups by
    * `input_file_name()` to build a (file, min_ts, max_ts, rows) index
    * — the manifest. A time-window query consults the index FIRST
    * (file-count-sized, the only driver-side metadata — exactly what an
    * Iceberg planner holds), reads only intersecting files, and applies
    * the exact predicate as a residual. At 100 TB the scan cost tracks
    * the window's file footprint, not the table. `require` asserts the
    * skip actually pruned; the oracle restates the plain filtered
    * aggregate, so an over-pruned file (lost rows) or a stale index
    * hash-fails. */
  private val k19MinmaxSkip: Q = (s, dir) => {
    val root = Lake.scratchDir("k19")
    t(s, dir, "orders")
      .repartitionByRange(8, col("o_orderdate"))
      .write.parquet(s"$root/data")
    val data = s.read.parquet(s"$root/data")
    data.select(input_file_name().as("file"),
        col("o_orderdate").cast("timestamp").as("od"))
      .groupBy(col("file"))
      .agg(min(col("od")).as("min_ts"), max(col("od")).as("max_ts"),
        count(lit(1)).as("rows"))
      .write.parquet(s"$root/index")
    val idx = s.read.parquet(s"$root/index")
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-12-31 23:59:59").cast("timestamp")
    val hit = idx
      .filter(col("max_ts") >= lo && col("min_ts") <= hi)
      .select(col("file")).collect().map(_.getString(0)).sorted
    val total = idx.count()
    consultPruningIndex(hit, total, "min/max")
    s.read.parquet(hit: _*)
      .filter(col("o_orderdate").cast("timestamp").between(lo, hi))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** K22: per-file BLOOM-FILTER data skipping — the point-lookup
    * complement of k19's min/max index. Orders land HASH-distributed
    * on `o_orderkey` (64 files), so every file's `o_custkey` min/max
    * spans the whole domain and range skipping is useless — the
    * workload where Parquet column-index blooms / Iceberg bloom file
    * stats earn their keep. ONE distributed aggregation
    * (`groupBy(input_file_name())` + [[graft.functions.BloomBuildAgg]],
    * a mergeable typed Aggregator whose partial buffers bit-OR) builds
    * a (file, bloom_bytes, rows) index; a point lookup probes the
    * index DISTRIBUTEDLY — each task deserializes only its own
    * partition's blooms via the native
    * [[graft.functions.BloomBytesMightContain]] expression and the
    * driver collects only the matching file NAMES (the Iceberg-planner
    * step, same shape as k19's manifest consult; bloom BYTES never
    * cross the driver — at 100 TB that's ~10 GB per lookup avoided).
    * No false negatives, so recall is exact; false positives only read
    * extra files — the exact predicate runs as a residual on that
    * subset. At 100 TB the scan cost tracks the customer's file
    * footprint (~|orders per customer| files of thousands), not the
    * table. `require` asserts real pruning; the oracle restates the
    * plain filtered scan, so an over-pruned file (a lost order)
    * hash-fails. */
  private val k22BloomSkip: Q = (s, dir) => {
    val root = Lake.scratchDir("k22")
    t(s, dir, "orders")
      .repartition(64, col("o_orderkey"))
      .write.parquet(s"$root/data")
    val data = s.read.parquet(s"$root/data")
    val bloomOf = udaf(graft.functions.BloomBuildAgg(100000L, 0.01))
    data.select(input_file_name().as("file"), col("o_custkey"))
      .groupBy(col("file"))
      .agg(bloomOf(col("o_custkey")).as("bloom"), count(lit(1)).as("rows"))
      .write.parquet(s"$root/index")
    val key = 101L
    val idxDf = s.read.parquet(s"$root/index")
    val hit = idxDf
      .filter(graft.functions.BloomBytesMightContain.probe(col("bloom"), key))
      .select(col("file")) // only file NAMES reach the driver
      .collect().map(_.getString(0)).sorted
    val total = idxDf.count()
    consultPruningIndex(hit, total, "bloom")
    s.read.parquet(hit: _*)
      .filter(col("o_custkey") === key)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** K18: incremental materialized-view maintenance (insert-only IVM)
    * — the Delta-Live-Tables/Materialize refresh pattern: a persisted
    * aggregate MV advances by aggregating ONLY the arriving delta and
    * merging the two keyed partial states (counts and sums add) in one
    * MV-keyed full-outer join; the base table is NEVER rescanned, so a
    * refresh costs O(|delta| + |MV|) instead of O(|base|) — at 100 TB
    * the difference between a minute and a day. The MV persists
    * UNROUNDED partial sums (rounding is a read-time projection) so
    * merges compose associatively. The oracle recomputes the aggregate
    * over the FULL base: a dropped delta group, a double-count, or a
    * lost MV key all hash-fail. */
  private val k18MvIncremental: Q = (s, dir) => {
    val root = Lake.scratchDir("k18")
    val orders = t(s, dir, "orders").select(
      col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).as("sum_price_raw"))
    aggOf(orders.filter(col("o_orderkey") % 4 =!= 0))
      .write.parquet(s"$root/mv_v1")
    val mv = s.read.parquet(s"$root/mv_v1")
    val delta = aggOf(orders.filter(col("o_orderkey") % 4 === 0))
    mv.as("m").join(delta.as("d"),
        mv("o_orderpriority") === delta("o_orderpriority"), "full_outer")
      .select(
        coalesce(mv("o_orderpriority"), delta("o_orderpriority"))
          .as("o_orderpriority"),
        (coalesce(mv("n_orders"), lit(0L)) +
          coalesce(delta("n_orders"), lit(0L))).as("n_orders"),
        (coalesce(mv("sum_price_raw"), lit(0.0)) +
          coalesce(delta("sum_price_raw"), lit(0.0))).as("sum_price_raw"))
      .write.parquet(s"$root/mv_v2")
    s.read.parquet(s"$root/mv_v2")
      .select(col("o_orderpriority"), col("n_orders"),
        round(col("sum_price_raw"), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** K14: MERGE upsert — a change set (updates that NULL a column,
    * deletes, inserts) applied to `part` in one full-outer merge; the
    * oracle reconstructs the merged table set-algebraically, so a lost
    * unmatched row, a surviving delete, or a stale update value all
    * hash-fail. */
  private val k14Merge: Q = (s, dir) => {
    val base = t(s, dir, "part")
    val updates = base
      .filter(col("p_partkey") % 7 === 0 && col("p_partkey") % 13 =!= 0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        lit(null).cast("string").as("p_type"), col("p_size"),
        round(col("p_retailprice") + 100, 2).as("p_retailprice"),
        lit("U").as("op"))
    val deletes = base.filter(col("p_partkey") % 13 === 0)
      .withColumn("op", lit("D"))
    val inserts = base.filter(col("p_partkey") % 11 === 0)
      .select((col("p_partkey") + 1000000L).as("p_partkey"),
        concat(col("p_name"), lit("_v2")).as("p_name"), col("p_brand"),
        col("p_type"), (col("p_size") + 1).as("p_size"),
        col("p_retailprice"), lit("I").as("op"))
    val merged = Lake.mergeChanges(base,
      updates.unionByName(deletes).unionByName(inserts), "p_partkey")
    merged.groupBy(col("p_brand")).agg(
      count(lit(1)).as("n_parts"),
      sum(col("p_size").cast("long")).as("sum_size"),
      round(sum(col("p_retailprice")), 2).as("sum_price"),
      sum(col("p_partkey")).as("sum_keys"))
      .orderBy(col("p_brand"))
  }

  /** S19: ANALYZE TABLE statistics — the cost-based-optimizer input
    * surface (Glue crawlers and Athena both persist table/column stats;
    * Catalyst's CBO joins re-order from exactly these numbers). Save a
    * catalog table, compute table + column statistics, read them BACK
    * from the catalog: exact rowCount and per-column NDV are value-
    * gated against the source (NDV is HLL-backed but exact at this
    * cardinality); sizeInBytes is storage-specific so only its
    * positivity is asserted. */
  private val s19AnalyzeStats: Q = (s, dir) => {
    val tbl = s"graft_stats_nation_${Lake.sessionSuffix(s, dir)}"
    Catalog.dropManagedTable(s, tbl)
    t(s, dir, "nation").write.mode("overwrite").saveAsTable(tbl)
    s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS " +
      "FOR COLUMNS n_nationkey, n_regionkey")
    val st = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).stats.get
    import s.implicits._
    Seq((st.rowCount.get.toLong, st.sizeInBytes > 0,
      st.colStats("n_nationkey").distinctCount.get.toLong,
      st.colStats("n_regionkey").distinctCount.get.toLong))
      .toDF("n_rows", "size_positive", "ndv_nationkey", "ndv_regionkey")
  }

  /** K17: SCD Type-2 dimension build — each customer's order-priority
    * history collapsed to validity intervals ordered by
    * (o_orderdate, o_orderkey). The oracle recomputes the identical
    * gaps-and-islands windows, so a merged run, wrong interval
    * boundary, or misplaced is_current all hash-fail. */
  private val k17Scd2: Q = (s, dir) => {
    val feed = t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderpriority"),
      col("o_orderdate"), col("o_orderkey"))
    Etl.scd2(feed, "o_custkey", "o_orderpriority",
        "o_orderdate", "o_orderkey")
      .select(col("o_custkey").as("custkey"), col("version"),
        col("attr_value").as("priority"),
        col("effective_from"), col("effective_to"), col("is_current"))
      .orderBy(col("custkey"), col("version"))
  }

  /** A query whose one SQL text is both its Spark program, over the
    * registered testdata views, and its DuckDB oracle. Defined here, not
    * in `package graft`, so its build's class name names this module. */
  private def sql(name: String, text: String): Query =
    Query(name, (s, dir) => { Tables.register(s, dir); s.sql(text) }, text)

  val queries: Seq[Query] = Seq(
    Query("k17_scd2", k17Scd2,
      """WITH f AS (
        |  SELECT o_custkey AS k, o_orderpriority AS a,
        |    o_orderdate AS ts, o_orderkey AS tb,
        |    CASE WHEN lag(o_orderpriority) OVER w IS NULL
        |           OR lag(o_orderpriority) OVER w <> o_orderpriority
        |         THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |g AS (
        |  SELECT k, a, ts,
        |    sum(chg) OVER (PARTITION BY k ORDER BY ts, tb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM f),
        |runs AS (
        |  SELECT k, version, min(a) AS priority,
        |    min(ts) AS effective_from
        |  FROM g GROUP BY k, version),
        |fin AS (
        |  SELECT k, version, priority, effective_from,
        |    lead(effective_from) OVER (PARTITION BY k ORDER BY version)
        |      AS effective_to
        |  FROM runs)
        |SELECT k AS custkey, version::BIGINT AS version, priority,
        |  effective_from, effective_to,
        |  (CASE WHEN effective_to IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS is_current
        |FROM fin ORDER BY custkey, version""".stripMargin),
    Query("s19_analyze_stats", s19AnalyzeStats,
      """SELECT count(*)::BIGINT AS n_rows, true AS size_positive,
        |  count(DISTINCT n_nationkey)::BIGINT AS ndv_nationkey,
        |  count(DISTINCT n_regionkey)::BIGINT AS ndv_regionkey
        |FROM nation""".stripMargin),
    Query("s20_binaryfile", s20BinaryFile,
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |  sha256(text) AS digest
        |FROM documents WHERE doc_id < 64
        |ORDER BY doc_id""".stripMargin),
    // Full-row restatement: the avro containers must reproduce the
    // source table exactly after the deflate round-trip.
    Query("s26_avro_rt", s26AvroRt,
      "SELECT doc_id, lang, text FROM documents ORDER BY doc_id"),
    Query("s27_avro_evolution", s27AvroEvolution,
      """SELECT lang, 'avro' AS src, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // Every parsed WARC field re-derived from the source table;
    // Content-Length = 44 (HTTP status line + header + separator)
    // + 12 + 14 (html wrapper) + strlen(text) UTF-8 bytes.
    Query("s28_warc_scan", s28WarcScan,
      """SELECT doc_id,
        |  'https://example.org/doc/' || doc_id AS uri,
        |  (doc_id % 8) >= 4 AS compressed,
        |  (70 + strlen(text))::BIGINT AS content_length,
        |  200::INT AS http_status, text
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("k19_minmax_skip", k19MinmaxSkip,
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // Plain filtered restatement: bloom skipping must lose no order
    // (no false negatives) and the residual must kill FP-file rows.
    Query("k22_bloom_skip", k22BloomSkip,
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 101
        |ORDER BY o_orderkey""".stripMargin),
    Query("k18_mv_incremental", k18MvIncremental,
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("k14_merge", k14Merge,
      """WITH upd AS (
        |  SELECT p_partkey, p_name, p_brand, NULL AS p_type, p_size,
        |    round(p_retailprice + 100, 2) AS p_retailprice
        |  FROM part WHERE p_partkey % 7 = 0 AND p_partkey % 13 <> 0),
        |ins AS (
        |  SELECT p_partkey + 1000000 AS p_partkey, p_name || '_v2' AS p_name,
        |    p_brand, p_type, p_size + 1 AS p_size, p_retailprice
        |  FROM part WHERE p_partkey % 11 = 0),
        |merged AS (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |  FROM part WHERE p_partkey % 13 <> 0 AND p_partkey % 7 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT p_brand, count(*)::BIGINT AS n_parts,
        |  sum(p_size)::BIGINT AS sum_size,
        |  round(sum(p_retailprice), 2) AS sum_price,
        |  sum(p_partkey)::BIGINT AS sum_keys
        |FROM merged GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("s17_corrupt_records", s17CorruptRecords,
      """SELECT 'dropmalformed' AS mode,
        |  sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_good,
        |  0::BIGINT AS n_corrupt,
        |  sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars END)::BIGINT AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT 'permissive',
        |  sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars END)::BIGINT
        |FROM documents
        |ORDER BY mode""".stripMargin),
    Query("k12_bookmark", k12Bookmark,
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("s16_profile", s16Profile,
      """SELECT 'c_acctbal' AS column_name,
        |  sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |  count(DISTINCT c_acctbal)::BIGINT AS n_distinct,
        |  min(c_acctbal)::DOUBLE AS min_num, max(c_acctbal)::DOUBLE AS max_num,
        |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
        |FROM customer
        |UNION ALL
        |SELECT 'c_custkey',
        |  sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT c_custkey)::BIGINT,
        |  min(c_custkey)::DOUBLE, max(c_custkey)::DOUBLE,
        |  NULL::VARCHAR, NULL::VARCHAR
        |FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment',
        |  sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT c_mktsegment)::BIGINT,
        |  NULL::DOUBLE, NULL::DOUBLE,
        |  min(c_mktsegment), max(c_mktsegment)
        |FROM customer
        |UNION ALL
        |SELECT 'c_name',
        |  sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT c_name)::BIGINT,
        |  NULL::DOUBLE, NULL::DOUBLE,
        |  min(c_name), max(c_name)
        |FROM customer
        |ORDER BY column_name""".stripMargin),
    Query("k11_snapshot_diff", k11SnapshotDiff,
      """WITH new_snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 15 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 30 <> 0
        |  UNION ALL
        |  SELECT doc_id + 400000, 'fresh ' || text FROM documents
        |  WHERE doc_id % 40 = 0),
        |o AS (SELECT doc_id, sha256(text) AS od FROM documents),
        |n AS (SELECT doc_id, sha256(text) AS nd FROM new_snap),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN od <> nd THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT status, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS sum_ids
        |FROM j GROUP BY status ORDER BY status""".stripMargin),
    Query("s1_tsv_scan", s1TsvScan,
      """SELECT c_custkey, c_name, nullif(c_mktsegment,'BUILDING') AS seg,
        | round(c_acctbal,2) AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Query("s2_gzip_scan", s2GzipScan,
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal,2) AS bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin),
    Query("s3_crawler_allstring", s3CrawlerAllstring,
      """SELECT CAST(r_regionkey AS VARCHAR) AS rkey, r_name AS rname
        |FROM region ORDER BY rkey""".stripMargin),
    Query("s4_classifier_infer", s4ClassifierInfer,
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    Query("p1_apply_mapping", p1ApplyMapping,
      """SELECT p_partkey AS part_id, p_name AS name,
        | CASE WHEN p_size < 10 THEN NULL ELSE p_size END AS size_int
        |FROM part ORDER BY part_id""".stripMargin),
    Query("p2_choice_struct", p2ChoiceStruct,
      """SELECT p_partkey AS part_id,
        | CASE WHEN p_size >= 10 THEN p_size END AS size_int,
        | CASE WHEN p_size < 10 THEN 'N/A' END AS size_str
        |FROM part ORDER BY part_id""".stripMargin),
    Query("k1_partition_prune", k1PartitionPrune,
      """SELECT c_custkey, c_name, round(c_acctbal,2) AS bal, c_nationkey
        |FROM customer WHERE c_nationkey = 7 ORDER BY c_custkey""".stripMargin),
    Query("k2_parquet_rt", k2ParquetRt,
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS price,
        | o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("k3_results_csv", k3ResultsCsv,
      """SELECT o_orderstatus AS status, count(*) AS n,
        | round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY status ORDER BY status""".stripMargin),
    Query("k4_bulk_load", k4BulkLoad,
      "SELECT * FROM nation ORDER BY n_nationkey"),
    /** S5: catalog-backed SQL — tables registered in the session
      * catalog, query addresses them by name (`FROM "<db>"."<table>"`
      * shape, demo_stack.py:288). */
    sql("s5_catalog_sql",
      """SELECT n_name, r_name FROM nation JOIN region
        |ON n_regionkey = r_regionkey
        |ORDER BY n_name, r_name""".stripMargin),
    Query("k5_register_prefix", k5RegisterPrefix,
      """SELECT n_regionkey, count(*) AS n FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    Query("s5b_catalog_db", s5bCatalogDb,
      """SELECT n.n_name, p.n_suppliers, p.total_bal
        |FROM (SELECT s_nationkey, count(*) AS n_suppliers,
        |        round(sum(s_acctbal), 2) AS total_bal
        |      FROM supplier GROUP BY s_nationkey) p
        |JOIN nation n ON p.s_nationkey = n.n_nationkey
        |ORDER BY n.n_name""".stripMargin),
    Query("s10_jsonl_rt", s10JsonlRt,
      """SELECT doc_id, lang, text FROM documents ORDER BY doc_id"""),
    Query("s23_multiline_json", s23MultilineJson,
      """SELECT doc_id, lang, text FROM documents ORDER BY doc_id"""),
    Query("s24_csv_tsformat", s24CsvTsFormat,
      """SELECT o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("s11_orc_rt", s11OrcRt,
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal,2) AS bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin),
    Query("s21_xml_rt", s21XmlRt,
      """SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal,2) AS bal,
        |  '<deal & co> ' || s_name AS note
        |FROM supplier ORDER BY s_suppkey""".stripMargin),
    // DuckDB synthesizes the SAME log lines from the same table and
    // re-parses them with the SAME regex constant — a drifting field,
    // a regex that over/under-matches, or a lost line all hash-fail.
    // Fixed-width ingest: the oracle rebuilds every 55-byte record
    // (lpad/rpad + sign byte + integer cents) and re-slices it by the
    // same substring positions.
    Query("s25_fixed_width", s25FixedWidth,
      """WITH c AS (
        |  SELECT *, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |lines AS (
        |  SELECT lpad(c_custkey::VARCHAR, 10, '0') ||
        |    rpad(c_name, 20, ' ') ||
        |    lpad(c_nationkey::VARCHAR, 3, '0') ||
        |    (CASE WHEN cents < 0 THEN '-' ELSE '+' END) ||
        |    lpad(abs(cents)::VARCHAR, 11, '0') ||
        |    rpad(c_mktsegment, 10, ' ') AS v
        |  FROM c),
        |p AS (
        |  SELECT substring(v, 1, 10)::BIGINT AS custkey,
        |    trim(substring(v, 11, 20)) AS name,
        |    substring(v, 31, 3)::BIGINT AS nation,
        |    (CASE WHEN substring(v, 34, 1) = '-' THEN -1 ELSE 1 END) *
        |      substring(v, 35, 11)::BIGINT AS cents,
        |    trim(substring(v, 46, 10)) AS segment,
        |    (length(v) = 55) AS ok
        |  FROM lines)
        |SELECT segment, count(*)::BIGINT AS n_rows,
        |  sum(custkey)::BIGINT AS sum_keys,
        |  sum(cents)::BIGINT AS sum_cents,
        |  count(DISTINCT nation)::BIGINT AS n_nations,
        |  sum(length(name))::BIGINT AS sum_name_len,
        |  sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS n_badlen
        |FROM p GROUP BY segment ORDER BY segment""".stripMargin),
    Query("s22_grok_log", s22GrokLog,
      s"""WITH lines AS (
         |  SELECT '10.0.' || (o_custkey % 256) || '.' ||
         |    (o_orderkey % 256) || ' - u' || o_custkey || ' [' ||
         |    (epoch_us(o_orderdate) // 1000000) ||
         |    '] "GET /order/' || o_orderkey || ' HTTP/1.1" ' ||
         |    (CASE WHEN o_orderstatus = 'F' THEN '200'
         |          WHEN o_orderstatus = 'O' THEN '302'
         |          ELSE '404' END) ||
         |    ' ' || (o_orderkey % 9973 + 100) AS value
         |  FROM orders),
         |p AS (
         |  SELECT regexp_extract(value, '$LogLineRe', 1) AS ip,
         |    regexp_extract(value, '$LogLineRe', 3)::BIGINT AS ts,
         |    regexp_extract(value, '$LogLineRe', 5)::BIGINT AS status,
         |    regexp_extract(value, '$LogLineRe', 6)::BIGINT AS bytes,
         |    regexp_matches(value, '$LogLineRe') AS ok
         |  FROM lines)
         |SELECT status, count(*)::BIGINT AS n_req,
         |  count(DISTINCT ip)::BIGINT AS n_ips,
         |  sum(bytes)::BIGINT AS sum_bytes,
         |  min(ts)::BIGINT AS min_ts, max(ts)::BIGINT AS max_ts,
         |  sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS n_unparsed
         |FROM p GROUP BY status ORDER BY status""".stripMargin),
    Query("k7_compact", k7Compact,
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("k8b_ctas_partitioned", k8bCtasPartitioned,
      """SELECT c_custkey AS id, c_name AS name,
        |  round(c_acctbal, 2) AS bal, c_nationkey AS nk
        |FROM customer WHERE c_nationkey IN (3, 7)
        |ORDER BY id""".stripMargin),
    Query("k8_ctas_insert", k8CtasInsert,
      """SELECT * FROM (
        |  SELECT n_nationkey AS id, n_name AS name, 'nation' AS src FROM nation
        |  UNION ALL
        |  SELECT r_regionkey AS id, r_name AS name, 'region' AS src FROM region)
        |ORDER BY src, id""".stripMargin),
    Query("s12_sql_view", s12SqlView,
      """SELECT c_nationkey, count(*) AS n_cust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS total_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    Query("s13_msck_repair", s13MsckRepair,
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal, c_nationkey
        |FROM customer WHERE c_nationkey IN (3, 7)
        |ORDER BY c_custkey""".stripMargin),
    Query("s15_recrawl_update", s15RecrawlUpdate,
      """SELECT n_nationkey, n_name, n_regionkey, 2 AS cols_before
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    Query("s14_schema_merge", s14SchemaMerge,
      """SELECT n_nationkey, n_name,
        | CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS n_regionkey,
        | CASE WHEN n_nationkey < 12 THEN 1 ELSE 2 END AS batch
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    // Content restated from the raw table; the file-cap invariants are
    // required in-plan (file layout is engine-specific).
    Query("k31_file_sizing", k31FileSizing,
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(o_orderkey)::BIGINT AS sum_keys,
        |  round(sum(round(o_totalprice, 2)), 2) AS sum_price
        |FROM orders""".stripMargin),
    Query("k9_dynamic_overwrite", k9DynamicOverwrite,
      """SELECT c_custkey, c_name,
        | CASE WHEN c_nationkey = 7
        |   THEN round(round(c_acctbal, 2) + 1000.0, 2)
        |   ELSE round(c_acctbal, 2) END AS bal,
        | c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Query("etl_imdb_join", etlImdbJoin,
      """SELECT c_name AS primaryName, c_nationkey + 1900 AS birthYear,
        |  count(*) AS n_titles, round(avg(o_totalprice / 1024), 4) AS avg_rating
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey >= 5
        |GROUP BY c_name, c_nationkey
        |ORDER BY primaryName""".stripMargin),
  )
}
