package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.Tables.{load => t}

/** Scalar function surface — SURVEY.md §2.9 (F1-F8).
  *
  * The IMDB schemas the reference deploys force this minimum set:
  * comma-separated list columns that queries must split/explode
  * (glue_scripts/scripts/csv_to_parquet.py:45-46), int-or-`\N` choice
  * columns (:43-44), and the full scalar surface of the provisioned
  * Athena workgroup (stacks/demo_stack.py:255-265).
  *
  * All functions here are `org.apache.spark.sql.functions._` built-ins —
  * codegen'd, inside WholeStageCodegen, no UDFs in any hot path.
  */
object Scalars {

  /** F1: string functions over part names. */
  private val f1String: Q = (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      lower(col("p_name")).as("lname"),
      upper(col("p_brand")).as("ubrand"),
      length(col("p_name")).as("name_len"),
      substring(col("p_name"), 1, 5).as("name5"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_type"), " ", "_").as("type_us"),
      trim(col("p_name")).as("tname"),
      col("p_name").like("%a%").as("has_a"),
      regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"))
      .orderBy(col("p_partkey"))

  /** F2: split + explode — the reference's comma-separated list columns
    * (genres/knownForTitles) as rows; here: word frequencies over
    * documents. Explode is a Generator: per-row fanout stays distributed
    * and the downstream agg map-side combines. */
  private val f2SplitExplode: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)

  /** F3: conditional / null handling — CASE WHEN, coalesce, nullif. */
  private val f3Conditional: Q = (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_totalprice") > 300000, "big")
        .when(col("o_totalprice") > 100000, "mid")
        .otherwise("small").as("bucket"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status"),
      when(col("o_orderpriority").isNull, lit("none"))
        .otherwise(col("o_orderpriority")).as("prio"))
      .orderBy(col("o_orderkey"))

  /** F4/P2: cast + try_cast — the `choice`-type resolution semantics
    * (csv_to_parquet.py:43-44): a string that may or may not parse as a
    * number becomes the number or NULL, never an error. */
  private val f4TryCast: Q = (s, dir) =>
    t(s, dir, "events").select(
      col("event_id"),
      expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k_int"),
      expr("try_cast(event_type AS INT)").as("not_a_number"),
      col("ts").cast("date").as("day"))
      .orderBy(col("event_id"))

  /** F5: math functions. */
  private val f5Math: Q = (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      abs(col("p_size") - 25).as("size_dist"),
      round(col("p_retailprice"), 1).as("price_r1"),
      // Spark floor/ceil return LONG; DuckDB's return DOUBLE — pin to
      // double so the driver's typed hash matches.
      floor(col("p_retailprice")).cast("double").as("price_floor"),
      ceil(col("p_retailprice")).cast("double").as("price_ceil"),
      round(pow(col("p_size"), 2), 1).as("size_sq"),
      round(log(col("p_retailprice")), 6).as("price_ln"),
      round(sqrt(col("p_retailprice")), 6).as("price_sqrt"),
      pmod(col("p_partkey"), lit(7)).as("key_mod"))
      .orderBy(col("p_partkey"))

  /** F6: date/time functions over the events table. */
  private val f6DateTime: Q = (s, dir) =>
    t(s, dir, "events").select(
      col("event_id"),
      year(col("ts")).as("y"),
      month(col("ts")).as("m"),
      dayofmonth(col("ts")).as("d"),
      hour(col("ts")).as("h"),
      date_trunc("day", col("ts")).cast("date").as("day"),
      datediff(col("ts").cast("date"), to_date(lit("2024-01-01"))).as("days_in"),
      unix_millis(col("ts")).as("epoch_ms"))
      .orderBy(col("event_id"))

  /** F7: array functions over word lists (string-encoded lists are the
    * reference's own nested-type idiom, SURVEY §1.3). */
  private val f7Array: Q = (s, dir) => {
    val words = split(col("text"), " ")
    t(s, dir, "documents").select(
      col("doc_id"),
      size(words).as("n_words"),
      element_at(words, 1).as("first_word"),
      array_contains(words, "data").as("has_data"),
      array_join(sort_array(slice(words, 1, 5)), "|").as("first5_sorted"))
      .orderBy(col("doc_id"))
  }

  /** F8: JSON extraction + aggregation over the events props column. */
  private val f8Json: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 4).as("avg_k"),
        count(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  /** F11: wider string surface — padding, translate, repeat, reverse,
    * edit distance, substring position. */
  private val f11StringExtra: Q = (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      lpad(col("p_brand"), 12, "*").as("brand_lpad"),
      rpad(col("p_brand"), 12, "-").as("brand_rpad"),
      translate(col("p_type"), "aeiou", "AEIOU").as("type_tr"),
      repeat(lit("ab"), 3).as("rep"),
      reverse(col("p_name")).as("name_rev"),
      levenshtein(col("p_brand"), lit("Brand#13")).as("brand_dist"),
      instr(col("p_name"), "a").as("a_pos"))
      .orderBy(col("p_partkey"))

  /** F12: wider date/time surface — quarter, ISO week, day-of-year,
    * month-end, month arithmetic (both engines clamp to month end). */
  private val f12DatetimeExtra: Q = (s, dir) =>
    t(s, dir, "events").select(
      col("event_id"),
      quarter(col("ts")).as("q"),
      weekofyear(col("ts")).as("woy"),
      dayofyear(col("ts")).as("doy"),
      last_day(col("ts").cast("date")).as("month_end"),
      add_months(col("ts").cast("date"), 3).as("plus3m"))
      .orderBy(col("event_id"))

  /** F13: structured JSON parsing — from_json with an explicit schema
    * into a struct, fields projected out (the typed counterpart of
    * f8's path extraction), plus to_json round trip. */
  private val f13FromJson: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("j", from_json(col("props"), lit("k INT"),
        new java.util.HashMap[String, String]()))
      .select(
        col("event_id"),
        col("j.k").as("k"),
        to_json(struct(col("j.k").as("k"))).as("rt"))
      .orderBy(col("event_id"))

  /** F15: equi-width histogram by explicit bucket arithmetic (the
    * portable spelling — floor/least, no engine-specific width_bucket),
    * the one-pass numeric-profile every column-stats tool emits. */
  private val f15Histogram: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(least(floor(col("l_extendedprice") / 5000.0), lit(20L))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"),
        round(avg(col("l_extendedprice")), 4).as("mean"))
      .orderBy(col("bucket"))

  /** F16: URL parsing — Spark's `parse_url` (HOST / PATH / QUERY /
    * REF / a named query parameter), the crawl-pipeline primitive
    * behind per-domain caps and source attribution. URLs are
    * synthesized deterministically from the documents columns, so the
    * DuckDB oracle re-derives each component from the SAME columns —
    * parse_url must exactly invert the construction (a host that eats
    * the path, a query that keeps its '?', or a lost fragment all
    * hash-fail). Rolled up per host: map-only parse + one dim-sized
    * agg. */
  private val f16ParseUrl: Q = (s, dir) => {
    val url = concat(lit("https://"), col("source"),
      lit(".example.com/"), col("lang"), lit("/doc/"), col("doc_id"),
      lit("?ref=r"), col("doc_id") % 7, lit("#s"), col("doc_id") % 3)
    t(s, dir, "documents").select(
      parse_url(url, lit("HOST")).as("host"),
      parse_url(url, lit("PATH")).as("path"),
      parse_url(url, lit("QUERY"), lit("ref")).as("ref"),
      parse_url(url, lit("REF")).as("frag"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("path")).as("n_paths"),
        countDistinct(col("ref")).as("n_refs"),
        countDistinct(col("frag")).as("n_frags"))
      .orderBy(col("host"))
  }

  /** F17: the VARIANT type (Spark 4, SPARK-45891) — the open-ended
    * semi-structured column for 100 TB JSON logs: `parse_json` into a
    * binary variant, typed `variant_get` path extraction (nested
    * object field, array index), and `schema_of_variant`
    * introspection. The nested document is BUILT deterministically
    * from the typed events columns (the f16 discipline: the oracle
    * restates every extraction from those SAME columns, so
    * parse+extract must exactly invert construction), and the inferred
    * variant schema is pinned as a literal — an engine upgrade that
    * changes variant inference fails loudly here. Doubles survive the
    * round trip exactly: `to_json` prints Java's shortest
    * round-trippable repr and the variant decimal re-reads to the same
    * double. */
  private val f17Variant: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """WITH j AS (
        |  SELECT parse_json(to_json(named_struct(
        |      'user', named_struct('id', user_id, 'seg', user_id % 4),
        |      'type', event_type,
        |      'vals', array(value, value * 2)))) AS v
        |  FROM events),
        |g AS (
        |  SELECT variant_get(v, '$.type', 'string') AS event_type,
        |    count(*) AS n,
        |    sum(variant_get(v, '$.user.seg', 'long')) AS sum_seg,
        |    round(sum(variant_get(v, '$.vals[1]', 'double')), 4) AS sum_v2
        |  FROM j GROUP BY event_type)
        |SELECT event_type, n, sum_seg, sum_v2,
        |  schema_of_variant(parse_json(
        |    '{"id": 1, "vals": [1.5, 2.25], "tag": "x"}')) AS vschema
        |FROM g ORDER BY event_type""".stripMargin)
  }

  val queries: Map[String, Q] = Map(
    "f16_parse_url" -> f16ParseUrl,
    "f17_variant" -> f17Variant,
    "f15_histogram" -> f15Histogram,
    "f13_from_json" -> f13FromJson,
    "f11_string_extra" -> f11StringExtra,
    "f12_datetime_extra" -> f12DatetimeExtra,
    "f1_string" -> f1String,
    "f2_split_explode" -> f2SplitExplode,
    "f3_conditional" -> f3Conditional,
    "f4_try_cast" -> f4TryCast,
    "f5_math" -> f5Math,
    "f6_datetime" -> f6DateTime,
    "f7_array" -> f7Array,
    "f8_json" -> f8Json,
  )

  val oracles: Map[String, String] = Map(
    // Every variant extraction restated from the raw typed columns the
    // document was built from; the variant schema of the constant
    // document is pinned as a literal so inference drift fails loudly.
    "f17_variant" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  sum(user_id % 4)::BIGINT AS sum_seg,
        |  round(sum(value * 2), 4) AS sum_v2,
        |  'OBJECT<id: BIGINT, tag: STRING, vals: ARRAY<DECIMAL(3,2)>>'
        |    AS vschema
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // Each URL component restated from the SOURCE columns the URL was
    // built from — the oracle never parses, so parse must invert build.
    "f16_parse_url" ->
      """WITH u AS (
        |  SELECT source || '.example.com' AS host,
        |    '/' || lang || '/doc/' || doc_id AS path,
        |    'r' || (doc_id % 7) AS ref,
        |    's' || (doc_id % 3) AS frag
        |  FROM documents)
        |SELECT host, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT path)::BIGINT AS n_paths,
        |  count(DISTINCT ref)::BIGINT AS n_refs,
        |  count(DISTINCT frag)::BIGINT AS n_frags
        |FROM u GROUP BY host ORDER BY host""".stripMargin,
    "f15_histogram" ->
      """SELECT least(floor(l_extendedprice / 5000.0), 20)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n,
        |  round(min(l_extendedprice), 2) AS lo,
        |  round(max(l_extendedprice), 2) AS hi,
        |  round(avg(l_extendedprice), 4) AS mean
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,
    // rt mirrors Spark's to_json null-dropping: no parseable integer k
    // ⇒ '{}' (a bare string concat would emit NULL/quoted values and
    // diverge whenever a row lacks k). Remaining pinned assumption:
    // quoted integers ("k":"5") would still diverge (typed from_json
    // yields null; extract-then-cast yields 5) — absent from testdata.
    "f13_from_json" ->
      """SELECT event_id,
        | try_cast(json_extract_string(props, '$.k') AS INTEGER) AS k,
        | CASE WHEN try_cast(json_extract_string(props, '$.k') AS INTEGER) IS NULL
        |      THEN '{}'
        |      ELSE '{"k":' || try_cast(json_extract_string(props, '$.k') AS INTEGER) || '}'
        | END AS rt
        |FROM events ORDER BY event_id""".stripMargin,
    "f11_string_extra" ->
      """SELECT p_partkey,
        | lpad(p_brand, 12, '*') AS brand_lpad,
        | rpad(p_brand, 12, '-') AS brand_rpad,
        | translate(p_type, 'aeiou', 'AEIOU') AS type_tr,
        | repeat('ab', 3) AS rep,
        | reverse(p_name) AS name_rev,
        | levenshtein(p_brand, 'Brand#13') AS brand_dist,
        | strpos(p_name, 'a') AS a_pos
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f12_datetime_extra" ->
      """SELECT event_id,
        | quarter(ts) AS q,
        | weekofyear(ts) AS woy,
        | dayofyear(ts) AS doy,
        | last_day(CAST(ts AS DATE)) AS month_end,
        | CAST(CAST(ts AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m
        |FROM events ORDER BY event_id""".stripMargin,
    "f1_string" ->
      """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
        | length(p_name) AS name_len, substr(p_name,1,5) AS name5,
        | p_brand || '#' || p_type AS brand_type,
        | replace(p_type,' ','_') AS type_us, trim(p_name) AS tname,
        | p_name LIKE '%a%' AS has_a,
        | regexp_extract(p_name, '([a-z]+)', 1) AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f2_split_explode" ->
      """SELECT word, count(*) AS n FROM (
        | SELECT unnest(string_split(text,' ')) AS word FROM documents
        |) WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,
    "f3_conditional" ->
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 300000 THEN 'big'
        |      WHEN o_totalprice > 100000 THEN 'mid'
        |      ELSE 'small' END AS bucket,
        | coalesce(nullif(o_orderstatus,'O'),'open') AS status,
        | CASE WHEN o_orderpriority IS NULL THEN 'none'
        |      ELSE o_orderpriority END AS prio
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f4_try_cast" ->
      """SELECT event_id,
        | try_cast(json_extract_string(props,'$.k') AS INTEGER) AS k_int,
        | try_cast(event_type AS INTEGER) AS not_a_number,
        | CAST(ts AS DATE) AS day
        |FROM events ORDER BY event_id""".stripMargin,
    "f5_math" ->
      """SELECT p_partkey, abs(p_size - 25) AS size_dist,
        | round(p_retailprice,1) AS price_r1,
        | floor(p_retailprice) AS price_floor,
        | ceil(p_retailprice) AS price_ceil,
        | round(pow(p_size,2),1) AS size_sq,
        | round(ln(p_retailprice),6) AS price_ln,
        | round(sqrt(p_retailprice),6) AS price_sqrt,
        | p_partkey % 7 AS key_mod
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f6_datetime" ->
      """SELECT event_id, year(ts) AS y, month(ts) AS m, day(ts) AS d,
        | hour(ts) AS h, CAST(date_trunc('day', ts) AS DATE) AS day,
        | datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_in,
        | epoch_ms(ts) AS epoch_ms
        |FROM events ORDER BY event_id""".stripMargin,
    "f7_array" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_words,
        | string_split(text,' ')[1] AS first_word,
        | list_contains(string_split(text,' '), 'data') AS has_data,
        | array_to_string(list_sort(string_split(text,' ')[1:5]), '|') AS first5_sorted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f8_json" ->
      """SELECT event_type,
        | round(avg(try_cast(json_extract_string(props,'$.k') AS INTEGER)),4) AS avg_k,
        | count(try_cast(json_extract_string(props,'$.k') AS INTEGER)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
