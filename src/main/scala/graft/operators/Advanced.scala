package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}

/** Deeper SQL surface + scale-layout operators.
  *
  * The first group widens §2.3-2.9 coverage (subqueries, CTEs, grouping
  * sets, null-safe equality, offset, distribution windows, nested
  * types). The second group is physical-layout machinery that only
  * matters at scale: bucketed co-located joins (no exchange on either
  * side) and salted joins for skewed keys.
  */
object Advanced {

  // ------------------------------------------------------- SQL surface

  /** W5: ntile — equi-depth bucketing within a partition (the remaining
    * ranking-family window after w1 rank/dense_rank/row_number). */
  private val w5Ntile: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** W6: time-based RANGE window frame — each order's trailing-90-day
    * spend for its customer (`RANGE BETWEEN 90 PRECEDING AND CURRENT
    * ROW` over the epoch-day number). RANGE differs from ROWS exactly
    * where it matters for time series: the frame is bounded by VALUE
    * distance, so same-day orders are peers (all included regardless
    * of row order — no tie-break needed for the frame itself) and
    * gaps in the calendar shrink the frame instead of silently
    * spanning them. One shuffle on the partition key, sort within —
    * the plain windowed-aggregate scale shape. The window runs over
    * the FULL orders table; the output is then filtered to a bounded
    * slice (filter-after-window, restated identically in the oracle).
    */
  private val w6RangeFrame: Q = (s, dir) => {
    val d = datediff(col("o_orderdate").cast("date"),
      to_date(lit("1970-01-01")))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-90, 0)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), d.as("d"),
        col("o_totalprice"))
      .select(col("o_orderkey"), col("o_custkey"), col("d"),
        count(lit(1)).over(w).as("n_90d"),
        round(sum(col("o_totalprice")).over(w), 2).as("spend_90d"))
      .filter(col("o_orderkey") <= 5000)
      .select(col("o_orderkey"), col("o_custkey"),
        col("d").cast("long").as("day_no"), col("n_90d"), col("spend_90d"))
      .orderBy(col("o_orderkey"))
  }

  /** W7: IGNORE NULLS forward fill — the time-series gap-fill
    * primitive (`last_value(x) IGNORE NULLS` over a running frame
    * carries the most recent observation forward; `lag`/`lead`/`nth`
    * take the same modifier). Sparse observations are derived
    * deterministically (every 3rd order "reports" its price); each
    * customer's order sequence then forward-fills the gaps. Rows
    * before a customer's first observation stay NULL — the honest
    * fill semantics (no lookahead). Same scale shape as any window:
    * one shuffle on the partition key, one sort within. Window over
    * the full table, bounded output slice filtered after (the
    * w6_range_frame convention, restated identically in the oracle). */
  private val w7Ffill: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 3 === 0, round(col("o_totalprice"), 2))
          .as("obs"))
      .select(col("o_orderkey"), col("o_custkey"), col("obs"),
        last(col("obs"), ignoreNulls = true).over(w).as("filled"))
      .filter(col("o_orderkey") <= 5000)
      .orderBy(col("o_orderkey"))
  }

  /** A16: exact MEDIAN as the built-in aggregate (`median` =
    * interpolated percentile-0.5, SPARK-39349) — the one-call spelling
    * of what a7_percentile derives by distributed rank; both engines
    * interpolate even-count groups identically. Plans as a single
    * sort-based aggregate per group — at 100 TB prefer a7's
    * rank-derivation or approx_percentile for heavy groups; this gates
    * the built-in's semantics. */
  private val a16Median: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(median(col("l_quantity")), 4).as("med_qty"),
        round(median(col("l_extendedprice")), 4).as("med_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** A21 ✱: approximate quantiles (percentile_approx — Spark's GK-style
    * mergeable sketch) under an IN-PLAN rank-error gate. This is the
    * 100 TB quantile plan: exact percentile shuffles every value to a
    * per-group sort; the sketch is one partial-aggregable pass with
    * fixed state. The published guarantee is RANK error ≤ n/accuracy:
    * for each returned quantile q_p, count(x < q_p) must not exceed
    * p·n + n/acc and count(x ≤ q_p) must reach p·n − n/acc. Both
    * counts are recomputed in-plan against the same column (one-row
    * sketch result crossJoined onto the scan — map-side). Sketch
    * internals are engine-specific → constant-true oracle. */
  private val a21ApproxQuantile: Q = (s, dir) => {
    val acc = 1000
    val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
    val qs = li.agg(
      percentile_approx(col("x"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("qs"),
      count(lit(1)).as("n"))
      .select(col("n"),
        col("qs").getItem(0).as("q50"),
        col("qs").getItem(1).as("q90"),
        col("qs").getItem(2).as("q99"))
    val counted = li.crossJoin(qs).agg(
      max(col("n")).as("n"),
      sum(when(col("x") < col("q50"), 1L).otherwise(0L)).as("lt50"),
      sum(when(col("x") <= col("q50"), 1L).otherwise(0L)).as("le50"),
      sum(when(col("x") < col("q90"), 1L).otherwise(0L)).as("lt90"),
      sum(when(col("x") <= col("q90"), 1L).otherwise(0L)).as("le90"),
      sum(when(col("x") < col("q99"), 1L).otherwise(0L)).as("lt99"),
      sum(when(col("x") <= col("q99"), 1L).otherwise(0L)).as("le99"))
    val err = col("n") / lit(acc.toDouble) + lit(1.0) // +1 row tie slack
    def ok(p: Double, ltc: String, lec: String): Column =
      (col(ltc) <= col("n") * p + err) && (col(lec) >= col("n") * p - err)
    counted.select(
      ok(0.5, "lt50", "le50").as("q50_rank_ok"),
      ok(0.9, "lt90", "le90").as("q90_rank_ok"),
      ok(0.99, "lt99", "le99").as("q99_rank_ok"),
      (col("n") > 0).as("nonempty"))
  }

  /** U5: union-by-name with MISSING columns — the schema-drift append
    * (`unionByName(allowMissingColumns = true)`): each side's absent
    * columns fill with typed NULLs, matched by NAME, not position —
    * the contract positional UNION silently violates when a producer
    * reorders fields. */
  private val u5UnionMissing: Q = (s, dir) => {
    val nation = t(s, dir, "nation")
    val a = nation.select(col("n_nationkey").as("key"),
      col("n_name").as("name"), lit("a").as("side"))
    val b = nation.select(col("n_nationkey").as("key"),
      col("n_regionkey").as("region"), lit("b").as("side"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy(col("side"), col("key"))
  }

  /** L6: top-N WITH TIES (SQL `FETCH FIRST n ROWS WITH TIES`, spelled
    * as rank() ≤ n — Spark has no FETCH clause): every order in the 10
    * most recent order DATES' rank range survives, including the whole
    * tie group at the boundary — the semantics plain LIMIT silently
    * truncates. Rank-only window; the residual total ORDER BY is the
    * determinism convention, not the operator. */
  private val l6TopkTies: Q = (s, dir) => {
    val w = Window.orderBy(col("o_orderdate").desc)
    t(s, dir, "orders")
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= 10)
      .select(col("o_orderkey"), col("o_orderdate"), col("rk"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
  }

  /** A17: ordered string aggregation — Spark 4's `LISTAGG … WITHIN
    * GROUP (ORDER BY …)` built-in (SPARK-42746), the SQL-standard
    * spelling of collect-and-join that DuckDB writes as `string_agg(…
    * ORDER BY …)`. The WITHIN GROUP order makes the concatenation
    * deterministic (a8_collect needs an explicit array_sort for the
    * same guarantee). Grouped on the 5-row region×nation dim so the
    * strings stay bounded; at fact scale a listagg is a collect_list
    * in disguise and belongs behind a per-group cap (e8_domain_cap). */
  private val a17Listagg: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """SELECT r_name, count(*) AS n_nations,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  /** A18: MODE aggregate (most frequent value, SPARK-41183) with the
    * deterministic=true tie-break (lowest value among the most
    * frequent). The grouped column is l_linenumber, whose frequency is
    * strictly monotone by construction (every order has line 1, only
    * longer orders have line k>1), so both engines' tie rules are
    * never exercised — and the oracle restates mode set-algebraically
    * (arg-min over (−count, value)) rather than trusting DuckDB's own
    * tie behavior. One partial-aggregable pass at any scale. */
  private val a18Mode: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """SELECT l_returnflag, mode(l_linenumber, true) AS mode_line,
        |  mode(l_linestatus, true) AS mode_status, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** A19: `approx_top_k` (Spark 4 built-in, SPARK-52515 family with
    * accumulate/combine mergeable sketch state) — the space-saving
    * frequent-items sketch as a one-call aggregate, next to e6's
    * from-scratch Count-Min gate. Capacity (100) ≥ the column's NDV
    * (6 flag×status combos), where space-saving is provably EXACT, so
    * the oracle restates the exact grouped top-5 — no bound gate
    * needed. The returned array re-sorts on (count desc, item) so a
    * sketch tie order can't leak into the hash; at real cardinalities
    * the same call with capacity < NDV degrades to ε-bounded counts —
    * e6's gate covers that regime. */
  private val a19ApproxTopk: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """SELECT t.e.item AS item, t.e.count AS cnt
        |FROM (SELECT explode(approx_top_k(
        |        concat(l_returnflag, l_linestatus), 5, 100)) AS e
        |      FROM lineitem) t
        |ORDER BY cnt DESC, item""".stripMargin)
  }

  /** L4: LIMIT + OFFSET pagination (deterministic under total order). */
  private val l4Offset: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
      .offset(50)
      .limit(10)

  /** L5: explicit NULL ordering — ANSI `NULLS FIRST/LAST` overrides of
    * both default directions (Spark defaults: asc→nulls first,
    * desc→nulls last; the query pins the opposite of each). The
    * nullable column is derived (`\N`-style choice resolution leaves
    * NULLs), the tie-break keeps the order total. */
  private val l5NullOrdering: Q = (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        when(col("p_size") < 10, lit(null).cast("int"))
          .otherwise(col("p_size")).as("size_opt"))
      .orderBy(asc_nulls_last("size_opt"), desc("p_partkey"))
      .limit(200)

  /** W4: distribution windows — percent_rank / cume_dist over account
    * balances within a nation. */
  private val w4Distribution: Q = (s, dir) => {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal"), col("s_suppkey"))
    t(s, dir, "supplier")
      .select(col("s_nationkey"), col("s_suppkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("s_nationkey"), col("s_suppkey"))
  }

  /** F9: nested types in-plan — rows → array<struct> via collect_list →
    * exploded back; the oracle is the identity (group/ungroup inverse). */
  private val f9NestedRt: Q = (s, dir) =>
    t(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(sort_array(collect_list(struct(col("n_nationkey"), col("n_name"))))
        .as("members"))
      .select(col("n_regionkey"), explode(col("members")).as("m"))
      .select(col("m.n_nationkey").as("n_nationkey"),
        col("m.n_name").as("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  /** F10: map type in-plan — entries → map_from_entries → map_entries
    * round trip (oracle is again the identity). */
  private val f10MapRt: Q = (s, dir) =>
    t(s, dir, "region")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("r_regionkey"), col("r_name"))))).as("m"))
      .select(explode(map_entries(col("m"))).as("e"))
      .select(col("e.key").as("r_regionkey"), col("e.value").as("r_name"))
      .orderBy(col("r_regionkey"))

  /** A10: PIVOT — status values become columns per priority row. */
  private val a10Pivot: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .orderBy(col("o_orderpriority"))

  /** A10b: UNPIVOT (melt) — wide back to long; the inverse shape. */
  private val a10Unpivot: Q = (s, dir) => {
    val wide = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
    wide.unpivot(
      Array(col("o_orderpriority")),
      Array(col("F"), col("O"), col("P")),
      "status", "n")
      .orderBy(col("o_orderpriority"), col("status"))
  }

  // ------------------------------------------------- scale-layout ops

  /** Bucketed fact tables, prepared ONCE per (session, sfDir) — the
    * table prep is a layout decision (a fixture), not part of the join
    * under test; timing it inside the query hid the actual join cost
    * behind 5+ seconds of table writes. */
  private val bucketedReady =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def ensureBucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketedReady.computeIfAbsent(
      s.sparkContext.applicationId + "|" + dir, { _ =>
        val sfx = graft.lake.Lake.sessionSuffix(s, dir)
        val (ordersTbl, lineitemTbl) =
          (s"graft_b_orders_$sfx", s"graft_b_lineitem_$sfx")
        Seq(ordersTbl, lineitemTbl)
          .foreach(graft.lake.Catalog.dropManagedTable(s, _))
        t(s, dir, "orders").write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(ordersTbl)
        t(s, dir, "lineitem").write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(lineitemTbl)
        (ordersTbl, lineitemTbl)
      })

  /** K6: bucketed co-located join — both fact tables bucketed on the
    * join key at write time, so the join needs NO exchange on either
    * side (the bucketing replaces the shuffle; at 100 TB this is the
    * difference between a join and a cluster-wide reshuffle). The first
    * call per (session, sf) prepares the bucketed tables; repeat calls
    * (and the bench, which warms up first) time only the join+agg. */
  private val k6BucketedJoin: Q = (s, dir) => {
    val (ordersTbl, lineitemTbl) = ensureBucketedTables(s, dir)
    s.table(lineitemTbl)
      .join(s.table(ordersTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("o_orderstatus"))
  }

  /** The bucketed-join plan (for the no-exchange assertion in tests). */
  def bucketedJoinPlan(s: SparkSession, dir: String): DataFrame =
    k6BucketedJoin(s, dir)

  /** J8: salted equi-join for skewed keys — the big side salts each row
    * by a content hash, the small side explodes across all salt buckets,
    * so one hot key spreads over `buckets` reducers instead of one.
    * Result is identical to the plain join (the oracle checks that). */
  def saltedEquiJoin(big: DataFrame, bigKey: String, small: DataFrame,
      smallKey: String, buckets: Int): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(buckets)))
    val expanded = small.withColumn("_salt",
      explode(sequence(lit(0L), lit((buckets - 1).toLong))))
    salted.join(expanded,
      salted(bigKey) === expanded(smallKey) &&
        salted("_salt") === expanded("_salt"))
      .drop("_salt")
  }

  private val j8SaltedSkew: Q = (s, dir) =>
    saltedEquiJoin(t(s, dir, "lineitem"), "l_suppkey",
      t(s, dir, "supplier"), "s_suppkey", buckets = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("s_nationkey"))

  /** Confs that let Catalyst's InjectRuntimeFilter fire at test scale:
    * its heuristics are sized for clusters (app-side scan must exceed
    * 10 GB by default), and the join must be a shuffle join (a
    * broadcast join already sees only matching rows). */
  private val bloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** The join under the bloom confs (shared with RelationalPlanSpec,
    * which pins `bloom_filter_might_contain` on the probe side). */
  def bloomJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > lit(200000.0))
    t(s, dir, "lineitem")
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("qty"))
  }

  /** J11: runtime Bloom-filter join pruning. Catalyst builds a Bloom
    * filter from the selectively-filtered dimension side of a shuffle
    * equi-join and applies `bloom_filter_might_contain` on the fact
    * side BEFORE its shuffle — at 100 TB the fact-table shuffle then
    * carries only rows that can possibly match, so shuffle volume
    * tracks the dimension filter's selectivity instead of the fact
    * table's size. The aggregate is materialized eagerly so the plan
    * compiles (and the filter injects) while the in-scope confs are
    * set; the session confs are restored before returning. */
  private val j11BloomJoin: Q = (s, dir) => {
    graft.withConf(s, bloomConfs: _*)(
      bloomJoinAgg(s, dir).localCheckpoint(true))
      .orderBy(col("o_orderstatus"))
  }

  /** J12: DYNAMIC PARTITION PRUNING — the star-schema scan killer at
    * 100 TB: the fact table is partitioned on the join key, the dim
    * side carries the selective filter, and Catalyst injects the dim's
    * surviving keys as a runtime partition filter into the fact SCAN
    * (reusing the broadcast exchange), so the fact reads only the
    * partitions the join can match instead of all of them. Here:
    * orders land partitioned by order-month (the production layout for
    * a date-keyed fact), a calendar dim derives quarters, and a
    * one-quarter filter must prune the month partitions at runtime —
    * the `dynamicpruning` subquery in the scan is pinned in
    * RelationalPlanSpec; the oracle restates the quarter from the raw
    * table, so pruning that DROPS a month (or fails to) hash-fails. */
  private val j12Dpp: Q = (s, dir) => {
    val zone = graft.lake.Lake.scratchDir("j12")
    val om = date_format(col("o_orderdate"), "yyyy-MM")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), om.as("om"))
      .write.partitionBy("om").parquet(s"$zone/fact")
    t(s, dir, "orders").select(om.as("om")).distinct()
      .select(col("om"), concat(substring(col("om"), 1, 4), lit("-Q"),
        // Column `/` is double division; cast back to int for "Qn"
        ((substring(col("om"), 6, 2).cast("int") + 2) / 3).cast("int")
          .cast("string")).as("qtr"))
      .write.parquet(s"$zone/dim")
    val fact = s.read.parquet(s"$zone/fact")
    val dim = s.read.parquet(s"$zone/dim").filter(col("qtr") === "1995-Q2")
    fact.join(broadcast(dim), Seq("om"))
      .groupBy(col("om"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("om"))
  }

  /** A15: association-rule mining (support / confidence / lift) over
    * order baskets — the a-priori shape: the item-support filter prunes
    * the basket table BEFORE the pair self-join, so pair fanout is
    * C(basket,2) over frequent items only, never |items|². Everything
    * is equi-joins on narrow (order, item) rows; the two totals are
    * 1-row crossJoins. Ordered on the ROUNDED lift so the boundary is
    * engine-stable. */
  private val a15AssocRules: Q = (s, dir) => {
    val ob = t(s, dir, "lineitem")
      .join(t(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .distinct()
    associationRules(ob, minSup = 20, k = 50)
  }

  /** Rule mining over a deduplicated (o, b) basket-membership table;
    * see [[a15AssocRules]] for the shape discussion. */
  def associationRules(ob: DataFrame, minSup: Int, k: Int): DataFrame = {
    val tot = ob.agg(countDistinct(col("o")).cast("double").as("n_orders"))
    val sup = ob.groupBy(col("b"))
      .agg(count(lit(1)).cast("double").as("supp"))
      .filter(col("supp") >= minSup)
    // a-priori prune: only frequent items enter the pair join
    val freq = ob.join(sup.select(col("b")), Seq("b"))
    val pairs = freq.select(col("o"), col("b").as("b1"))
      .join(freq.select(col("o"), col("b").as("b2")), Seq("o"))
      .filter(col("b1") < col("b2"))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).cast("double").as("sup12"))
      .filter(col("sup12") >= minSup)
    pairs
      .join(sup.select(col("b").as("b1"), col("supp").as("sup1")), Seq("b1"))
      .join(sup.select(col("b").as("b2"), col("supp").as("sup2")), Seq("b2"))
      .crossJoin(tot)
      .select(col("b1"), col("b2"), col("sup12").cast("long").as("pair_n"),
        round(col("sup12") / col("sup1"), 4).as("conf_fwd"),
        round(col("sup12") / col("sup2"), 4).as("conf_rev"),
        round(col("sup12") * col("n_orders") / (col("sup1") * col("sup2")),
          4).as("lift"))
      .orderBy(col("lift").desc, col("b1"), col("b2"))
      .limit(k)
  }

  /** Q2-shaped analytics: MINIMUM-COST SUPPLIER — the correlated
    * min-cost-subquery shape over a 4-way dimension join, run twice
    * (outer + inside the correlation). The schema has no partsupp, so
    * the supply relation is derived once as a CTE (per (part,
    * supplier) minimum unit price from lineitem — a single grouped
    * agg); the correlated scalar re-joins that CTE through supplier ×
    * nation × region to find the region-wide floor PER PART. Catalyst
    * decorrelates the scalar into an aggregate-then-join — one extra
    * grouped agg over the CTE, not a per-row re-scan; at 100 TB both
    * sides shuffle once on partkey and the dims broadcast. */
  private val q2MinCost: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """WITH supply AS (
        |  SELECT l_partkey AS su_partkey, l_suppkey AS su_suppkey,
        |    min(round(l_extendedprice / l_quantity, 4)) AS cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
        |  p_partkey, p_name, cost
        |FROM part
        |JOIN supply ON p_partkey = su_partkey
        |JOIN supplier ON s_suppkey = su_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
        |  AND r_name = 'EUROPE'
        |  AND cost = (SELECT min(sp.cost)
        |              FROM supply sp
        |              JOIN supplier s2 ON sp.su_suppkey = s2.s_suppkey
        |              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |              WHERE sp.su_partkey = p_partkey
        |                AND r2.r_name = 'EUROPE')
        |ORDER BY acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)
  }

  /** Q11-shaped analytics: IMPORTANT STOCK — grouped per-part supply
    * value filtered by a SCALAR-SUBQUERY GLOBAL THRESHOLD computed
    * from the SAME grouped aggregate (TPC-H's sum×fraction restated as
    * 1.5×avg so the cut is scale-invariant across SFs). Values are
    * exact integer cents (sum of per-row rounded cents) so the
    * threshold comparison can never straddle a float ulp between
    * engines. Catalyst plans the CTE once per reference; the scalar is
    * one extra global agg over the grouped table, broadcast back. */
  private val q11ImportantStock: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """WITH supply_value AS (
        |  SELECT l_partkey AS partkey,
        |    sum(cast(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 3
        |  GROUP BY l_partkey)
        |SELECT partkey, value_cents FROM supply_value
        |WHERE value_cents > (SELECT 1.5 * avg(value_cents)
        |                     FROM supply_value)
        |ORDER BY value_cents DESC, partkey""".stripMargin)
  }

  /** W8: named WINDOW clause — one PARTITION/ORDER definition shared
    * by several window functions (the ANSI dedup of repeated OVER
    * specs); functions over the SAME named window share one
    * sort+partition pass in the plan. */
  private val w8WindowClause: Q = (s, dir) => {
    Tables.register(s, dir)
    s.sql(
      """SELECT o_orderkey, o_custkey,
        |  rank() OVER w AS rk,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  sum(cast(round(o_totalprice * 100, 0) AS BIGINT)) OVER w2
        |    AS cust_sum_cents,
        |  count(*) OVER w2 AS cust_n
        |FROM orders
        |WHERE o_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey),
        |       w2 AS (PARTITION BY o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** A query whose one SQL text is both its Spark program, over the
    * registered testdata views, and its DuckDB oracle. Defined here, not
    * in `package graft`, so its build's class name names this module. */
  private def sql(name: String, text: String): Query =
    Query(name, (s, dir) => { Tables.register(s, dir); s.sql(text) }, text)

  val queries: Seq[Query] = Seq(
    /** A20: ANSI FILTER clause — per-aggregate predicates without the
      * CASE-expression contortion (q12's shape): each aggregate sees
      * only its qualifying rows, all evaluated in ONE grouped pass (no
      * extra scan per filtered aggregate — the plan is a single
      * HashAggregate with conditional update expressions). */
    sql("a20_filter_clause",
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
        |  round(sum(l_extendedprice) FILTER (WHERE l_discount >= 0.05), 2)
        |    AS discounted_price,
        |  round(avg(l_quantity) FILTER (WHERE l_tax > 0.03), 4)
        |    AS avg_taxed_qty
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // DuckDB's windowed sum(BIGINT) is HUGEINT, so the oracle casts it
    // back; the same `::BIGINT` in Spark's text would add a renaming
    // projection above the window.
    Query("w8_window_clause", w8WindowClause,
      """SELECT o_orderkey, o_custkey,
        |  rank() OVER w AS rk,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  (sum(cast(round(o_totalprice * 100, 0) AS BIGINT)) OVER w2)
        |    ::BIGINT AS cust_sum_cents,
        |  count(*) OVER w2 AS cust_n
        |FROM orders
        |WHERE o_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey),
        |       w2 AS (PARTITION BY o_custkey)
        |ORDER BY o_orderkey""".stripMargin),
    /** Q6-shaped analytics: the forecasting-revenue-change scan — ONE
      * fact table, a date slice, two range predicates, one conditional
      * sum. The whole query is a single parquet scan with every filter
      * pushed (PushedFilters carries the date + discount + quantity
      * bounds) feeding a partial-aggregated global sum: the canonical
      * "scan speed IS the query" shape at 100 TB. */
    sql("q6_forecast",
      """SELECT round(sum(round(l_extendedprice * l_discount, 4)), 2)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    /** Q8-shaped analytics: NATIONAL MARKET SHARE — the widest TPC-H
      * star this schema supports (8 relations: part × lineitem × orders
      * × customer × supplier × nation×2 × region): one nation's share
      * of a region's PROMO-part volume per order year, the numerator a
      * conditional sum over the same join. Catalyst broadcasts all five
      * dimension sides; the two fact joins shuffle on their keys; the
      * self-joined nation dimension aliases cleanly. */
    sql("q8_mkt_share",
      """SELECT o_year,
        |  round(sum(CASE WHEN nation = 'NATION_3' THEN volume
        |                 ELSE 0.0 END) / sum(volume), 4) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |    round(l_extendedprice * (1 - l_discount), 4) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO') all_nations
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),
    /** Q15-shaped analytics: TOP SUPPLIER via a named subquery consumed
      * TWICE — once as the join input, once under a scalar MAX — the
      * view-over-aggregate shape (TPC-H defines it as CREATE VIEW;
      * a CTE is the same plan). Ties on the rounded revenue would all
      * surface (the spec's semantics); the ORDER BY keeps the gate
      * total. */
    sql("q15_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(round(l_extendedprice * (1 - l_discount), 4)), 2)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),
    /** Q10-shaped analytics: top customers by REVENUE FROM RETURNED
      * items in one quarter — the canonical "who costs us money" report:
      * a 3-way fact join (customer × orders × lineitem) filtered to
      * l_returnflag = 'R', dimension join to nation, grouped per
      * customer, total-ordered top-20. Catalyst broadcasts nation and
      * shuffles the fact joins on their keys; the top-k is a
      * TakeOrderedAndProject — no full sort at 100 TB. */
    sql("q10_returned",
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(round(l_extendedprice * (1 - l_discount), 4)), 2)
        |    AS revenue,
        |  round(max(c_acctbal), 2) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),
    /** Q17-shaped analytics: revenue lost to SMALL-QUANTITY orders of
      * one brand — the correlated-scalar-subquery shape: each lineitem
      * compares against 0.2 × the avg quantity OF ITS OWN PART. Catalyst
      * de-correlates into an aggregate-then-join (one per-part avg
      * table, broadcast-joined back) — the rewrite that makes the query
      * linear instead of per-row re-aggregation. */
    sql("q17_small_qty",
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),
    /** Q19-shaped analytics: DISJUNCTIVE join predicate — three
      * (brand, size-range, quantity-range) conjunct groups OR-ed
      * together. The join key (p_partkey = l_partkey) stays an equi-hash
      * join; the disjunction is a residual filter, and the common
      * p_size ≥ 1 / quantity bounds are pushable — the shape that
      * exposes engines which fall back to nested-loop on any OR. */
    sql("q19_disjunctive",
      """SELECT
        |  round(sum(round(l_extendedprice * (1 - l_discount), 4)), 2)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    /** Q21-shaped analytics: SUPPLIERS WHO KEPT ORDERS WAITING — the
      * double-correlated EXISTS / NOT EXISTS shape (the hardest TPC-H
      * subquery pattern): a supplier counts when its line shipped > 60
      * days after the order date on a multi-supplier FINISHED order
      * where NO OTHER supplier was late (l_receiptdate is not in the
      * synthetic schema; shipdate-vs-orderdate lateness is the same
      * dataflow). Catalyst plans both correlations as left-semi /
      * left-anti hash joins on l_orderkey — no per-row subquery
      * execution anywhere. */
    sql("q21_waiting",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >
        |                        o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 25""".stripMargin),
    // supply is referenced twice (outer join input + the decorrelated
    // min) — MATERIALIZED or DuckDB inlines and re-groups lineitem
    // at every reference site (the e16 lesson).
    Query("q2_min_cost", q2MinCost,
      """WITH supply AS MATERIALIZED (
        |  SELECT l_partkey AS su_partkey, l_suppkey AS su_suppkey,
        |    min(round(l_extendedprice / l_quantity, 4)) AS cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
        |  p_partkey, p_name, cost
        |FROM part
        |JOIN supply ON p_partkey = su_partkey
        |JOIN supplier ON s_suppkey = su_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
        |  AND r_name = 'EUROPE'
        |  AND cost = (SELECT min(sp.cost)
        |              FROM supply sp
        |              JOIN supplier s2 ON sp.su_suppkey = s2.s_suppkey
        |              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |              WHERE sp.su_partkey = p_partkey
        |                AND r2.r_name = 'EUROPE')
        |ORDER BY acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
    /** Q9-shaped analytics: PRODUCT-TYPE PROFIT per nation per year —
      * the expression-keyed multi-join aggregation (5 relations; the
      * group keys are n_name and year(o_orderdate), an expression, not a
      * column; the measure subtracts a cost expression from a revenue
      * expression). Supply cost is surrogated as 10% of retail price ×
      * quantity (no partsupp in this schema). The LIKE filter prunes
      * part FIRST, so the fact join fans out only matching parts;
      * dims broadcast, facts shuffle on their keys. */
    sql("q9_profit",
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |    round(l_extendedprice * (1 - l_discount)
        |          - p_retailprice * 0.1 * l_quantity, 4) AS amount
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%bolt%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin),
    Query("q11_important_stock", q11ImportantStock,
      """WITH supply_value AS MATERIALIZED (
        |  SELECT l_partkey AS partkey,
        |    sum(cast(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT
        |      AS value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 3
        |  GROUP BY l_partkey)
        |SELECT partkey, value_cents FROM supply_value
        |WHERE value_cents > (SELECT 1.5 * avg(value_cents)
        |                     FROM supply_value)
        |ORDER BY value_cents DESC, partkey""".stripMargin),
    /** Q16-shaped analytics: PART/SUPPLIER RELATIONSHIP COUNT — the
      * NOT-IN anti-join + COUNT(DISTINCT) shape: how many distinct
      * suppliers ship each surviving (brand, type, size) combination,
      * excluding a blocklisted supplier set resolved by subquery
      * (name-pattern surrogate for the complaints filter — acctbal < 0
      * is vacuous below sf0.1). Catalyst plans NOT IN as a null-aware
      * anti join (broadcast — the blocklist is small) and the distinct
      * count as the two-phase partial-distinct aggregate. */
    sql("q16_part_supplier",
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT IN ('PROMO', 'ECONOMY')
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    /** Q20-shaped analytics: POTENTIAL PROMOTION SUPPLIERS — the
      * double-nested quantity-subquery shape: a semi-join (IN) whose
      * subject is itself built from a nested IN (name-filtered parts)
      * plus a CORRELATED scalar comparing each (supplier, part) year
      * volume against half that part's TOTAL year volume across all
      * suppliers. Catalyst decorrelates the scalar into a per-part agg
      * joined back on partkey and plans both INs as left-semi hash
      * joins — nothing per-row, everything keyed. */
    sql("q20_potential_promo",
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT sq.l_suppkey FROM (
        |    SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        |    FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'blue%')
        |      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    GROUP BY l_suppkey, l_partkey) sq
        |  WHERE sq.qty > (SELECT 0.5 * sum(l2.l_quantity)
        |                  FROM lineitem l2
        |                  WHERE l2.l_partkey = sq.l_partkey
        |                    AND l2.l_shipdate >=
        |                        TIMESTAMP '1996-01-01 00:00:00'
        |                    AND l2.l_shipdate <
        |                        TIMESTAMP '1997-01-01 00:00:00'))
        |ORDER BY s_suppkey""".stripMargin),
    Query("a15_assoc_rules", a15AssocRules,
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT count(DISTINCT o)::DOUBLE AS n_orders FROM ob),
        |sup AS (
        |  SELECT b, count(*)::DOUBLE AS supp FROM ob GROUP BY b
        |  HAVING count(*) >= 20),
        |freq AS (SELECT ob.o, ob.b FROM ob JOIN sup ON ob.b = sup.b),
        |pairs AS (
        |  SELECT x.b AS b1, y.b AS b2, count(*)::DOUBLE AS sup12
        |  FROM freq x JOIN freq y ON x.o = y.o AND x.b < y.b
        |  GROUP BY x.b, y.b HAVING count(*) >= 20)
        |SELECT b1, b2, sup12::BIGINT AS pair_n,
        |  round(sup12 / s1.supp, 4) AS conf_fwd,
        |  round(sup12 / s2.supp, 4) AS conf_rev,
        |  round(sup12 * n_orders / (s1.supp * s2.supp), 4) AS lift
        |FROM pairs CROSS JOIN tot
        |JOIN sup s1 ON pairs.b1 = s1.b
        |JOIN sup s2 ON pairs.b2 = s2.b
        |ORDER BY lift DESC, b1, b2 LIMIT 50""".stripMargin),
    /** Q3-shaped analytics: 3-way join + filter + agg + top-k — the full
      * interactive-SQL workload shape, identical SQL text on both engines.
      * Catalyst broadcasts the filtered customer dimension and plans
      * TakeOrderedAndProject for the top-10. */
    sql("q3_shipping",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin),
    /** Q4-shaped analytics: priority checking — a date-sliced aggregate
      * gated by a correlated EXISTS whose predicate compares columns of
      * BOTH relations (l_shipdate > o_orderdate), which Catalyst rewrites
      * to a left-semi join with the comparison as a join condition. */
    sql("q4_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    /** Q13-shaped analytics: customer order-count distribution — the
      * planner shape the other q-queries lack: a LEFT OUTER join under an
      * aggregation under ANOTHER aggregation (orders per customer
      * including the zero-order customers, then a histogram of those
      * counts). The join-side filter stands in for q13's o_comment NOT
      * LIKE (the synthetic orders carry no comment): it must stay IN the
      * join condition — as a WHERE it would turn the outer join inner and
      * silently drop the zero-order bucket. At scale: one fact shuffle on
      * custkey, then a tiny distinct-count-keyed agg. */
    sql("q13_custdist",
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |        AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    /** Q22-shaped analytics: customers with above-average positive
      * balance and NO orders (q22's global-sales-opportunity shape, with
      * the nation dim standing in for the phone-prefix country code):
      * an uncorrelated scalar subquery feeds the fact filter and a NOT
      * EXISTS anti-joins the order set — Catalyst plans the subquery as
      * a one-row broadcast and the NOT EXISTS as a left-anti hash join,
      * both identical at 1000 executors. The anti-joined side is the
      * URGENT-priority order subset (not all orders): in the synthetic
      * data every customer has SOME order, so an all-orders NOT EXISTS
      * returns zero rows at every gate SF and the anti-join would never
      * be exercised on data — the filtered subset leaves a real
      * "high-balance customers with no urgent orders" population at both
      * sf0.01 and sf0.1. */
    sql("q22_opportunity",
      """SELECT n_name, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    /** Q12-shaped analytics: conditional counts inside one aggregation
      * (`count(CASE …)` per priority class) over a date-sliced
      * fact-dimension join — the pivot-free conditional rollup. */
    sql("q12_priority_lines",
      """SELECT l_returnflag, count(*) AS n_items,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    /** Q14-shaped analytics: promo revenue share — a single-row ratio of
      * two conditional sums over one month's part-lineitem join.
      * Products round per ROW inside both sums (the rounding-parity
      * convention) so the ratio is bit-stable across engines. */
    sql("q14_promo",
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN round(l_extendedprice * (1.0 - l_discount), 4)
        |    ELSE 0.0 END) /
        |  sum(round(l_extendedprice * (1.0 - l_discount), 4)), 4)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin),
    /** Q7-shaped analytics: bidirectional cross-nation volume — the
      * double-dimension-alias join (nation joined TWICE, as supplier
      * nation and customer nation) with an OR of symmetric pairs that
      * defeats naive single-sided pushdown, grouped by derived year.
      * Catalyst broadcasts both nation sides and pushes the OR as a
      * post-join filter; the fact tables still join on their keys. Year
      * is CAST to BIGINT in the shared text so both engines agree on the
      * column type. */
    sql("q7_volume",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM supplier
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    /** Q18-shaped analytics: large-volume customers — the
      * aggregate-then-join shape (a HAVING-filtered per-order rollup
      * drives the customer join), where the rollup prunes the fact to a
      * small key set BEFORE any dimension join touches it. */
    sql("q18_large_orders",
      """SELECT c_custkey, c_name, o_orderkey,
        |  round(o_totalprice, 2) AS price,
        |  round(t.sum_qty, 2) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 250) t
        |  ON o_orderkey = t.l_orderkey
        |ORDER BY price DESC, o_orderkey""".stripMargin),
    /** Q5-shaped analytics: 6-way star join with a same-nation predicate. */
    sql("q5_local_supplier",
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    /** P6: uncorrelated scalar subquery — deviation from the global mean.
      * Catalyst plans the subquery once and broadcasts the scalar. */
    sql("p6_scalar_subquery",
      """SELECT o_orderkey,
        | round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4) AS dev
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin),
    /** P10: correlated LATERAL subquery with ORDER BY + LIMIT — the
      * SQL spelling of per-group top-k (Postgres/DuckDB LATERAL, Spark
      * SPARK-34382): each nation row drives a dependent top-2-customers
      * subquery. Catalyst decorrelates it into a join + per-key limit;
      * DuckDB runs the IDENTICAL statement, so planner disagreement on
      * the correlated limit semantics hash-fails. */
    sql("p10_lateral",
      """SELECT n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n_name, c_name""".stripMargin),
    /** P11: RECURSIVE CTE executed BY SPARK (new in Spark 4: the engine
      * iterates the recursive step natively) — a 40-day calendar is
      * generated by recursion and left-joined to daily event rollups,
      * the gap-filled-resample shape in pure SQL (ev4 builds the same
      * grid with explode(sequence)). DuckDB runs the same statement; a
      * lost recursion step, an off-by-one day bound, or a dropped empty
      * day all hash-fail. */
    sql("p11_recursive_cte",
      """WITH RECURSIVE n(i) AS (
        |  SELECT 0 UNION ALL SELECT i + 1 FROM n WHERE i < 39)
        |SELECT date_add(DATE '2024-01-01', i) AS day,
        |  count(e.event_id) AS n_events,
        |  round(coalesce(sum(e.value), 0), 4) AS sum_value
        |FROM n LEFT JOIN events e
        |  ON CAST(e.ts AS DATE) = date_add(DATE '2024-01-01', i)
        |GROUP BY i ORDER BY day""".stripMargin),
    /** P7: correlated IN subquery (planned as a semi-join). */
    sql("p7_in_subquery",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin),
    /** P8: CTE + null-safe equality. The nullable branch exercises
      * `IS NOT DISTINCT FROM` (Spark `<=>`) on both engines. */
    sql("p8_cte_nullsafe",
      """WITH flagged AS (
        |  SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        |  FROM customer)
        |SELECT a.c_custkey AS a_key, b.c_custkey AS b_key
        |FROM flagged a JOIN flagged b
        |  ON a.seg IS NOT DISTINCT FROM b.seg
        | AND a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 20 AND b.c_custkey <= 20
        |ORDER BY a_key, b_key""".stripMargin),
    /** P9: correlated EXISTS / NOT EXISTS — planned as semi/anti joins
      * (the remaining subquery shape after p6 scalar and p7 IN). */
    sql("p9_exists",
      """SELECT s_suppkey, s_name,
        |  EXISTS (SELECT 1 FROM lineitem
        |          WHERE l_suppkey = s_suppkey AND l_quantity > 49) AS has_bulk
        |FROM supplier
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_suppkey = s_suppkey AND l_discount > 0.09)
        |ORDER BY s_suppkey""".stripMargin),
    Query("w6_range_frame", w6RangeFrame,
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    (o_orderdate::DATE - DATE '1970-01-01') AS d, o_totalprice
        |  FROM orders),
        |w AS (
        |  SELECT o_orderkey, o_custkey, d,
        |    count(*) OVER fr AS n_90d,
        |    round(sum(o_totalprice) OVER fr, 2) AS spend_90d
        |  FROM o
        |  WINDOW fr AS (PARTITION BY o_custkey ORDER BY d
        |                RANGE BETWEEN 90 PRECEDING AND CURRENT ROW))
        |SELECT o_orderkey, o_custkey, d::BIGINT AS day_no,
        |  n_90d::BIGINT AS n_90d, spend_90d
        |FROM w WHERE o_orderkey <= 5000
        |ORDER BY o_orderkey""".stripMargin),
    Query("w7_ffill", w7Ffill,
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN round(o_totalprice, 2)
        |         END AS obs
        |  FROM orders),
        |f AS (
        |  SELECT o_orderkey, o_custkey, obs,
        |    last_value(obs IGNORE NULLS) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM o)
        |SELECT o_orderkey, o_custkey, obs, filled
        |FROM f WHERE o_orderkey <= 5000
        |ORDER BY o_orderkey""".stripMargin),
    // Same rank-≤-n spelling (DuckDB's FETCH ... WITH TIES would only
    // tie on the FIRST 10 ROWS boundary, not the 10-rank boundary).
    Query("l6_topk_ties", l6TopkTies,
      """SELECT o_orderkey, o_orderdate, rk FROM (
        |  SELECT o_orderkey, o_orderdate,
        |    rank() OVER (ORDER BY o_orderdate DESC) AS rk
        |  FROM orders) r
        |WHERE rk <= 10
        |ORDER BY o_orderdate DESC, o_orderkey""".stripMargin),
    /** A22: boolean and bitwise aggregates — `bool_and`/`bool_or` (the
      * SQL-standard EVERY/ANY) and `bit_and`/`bit_or`/`bit_xor` over a
      * bounded int column. All five are partial-aggregable single-value
      * states (a bit/bool per group), the cheapest aggregation class at
      * 100 TB; the xor doubles as an order-independent set checksum.
      * DuckDB's bool/bit aggregate family matches Spark's exactly. */
    sql("a22_bool_bit_aggs",
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount,
        |  bit_and(l_linenumber) AS band,
        |  bit_or(l_linenumber) AS bor,
        |  bit_xor(l_orderkey) AS checksum,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    // Typed-NULL fill per absent column, matched by name.
    Query("u5_union_missing", u5UnionMissing,
      """SELECT n_nationkey AS key, n_name AS name, 'a' AS side,
        |  NULL::BIGINT AS region
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, NULL::VARCHAR, 'b', n_regionkey
        |FROM nation
        |ORDER BY side, key""".stripMargin),
    // Self-check (✱): the sketch values are engine-specific; the rank
    // bounds are asserted in-plan, constant-true oracle.
    Query("a21_approx_quantile", a21ApproxQuantile,
      """SELECT true AS q50_rank_ok, true AS q90_rank_ok,
        |  true AS q99_rank_ok, true AS nonempty""".stripMargin),
    Query("a16_median", a16Median,
      """SELECT l_returnflag, round(median(l_quantity), 4) AS med_qty,
        |  round(median(l_extendedprice), 4) AS med_price,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("a17_listagg", a17Listagg,
      """SELECT r_name, count(*)::BIGINT AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    // Exact restatement is legitimate: capacity >= NDV makes the
    // space-saving sketch exact; the ORDER BY totalizes tie order.
    Query("a19_approx_topk", a19ApproxTopk,
      """SELECT l_returnflag || l_linestatus AS item,
        |  count(*)::BIGINT AS cnt
        |FROM lineitem GROUP BY item
        |ORDER BY cnt DESC, item LIMIT 5""".stripMargin),
    Query("a18_mode", a18Mode,
      """WITH lc AS (
        |  SELECT l_returnflag, l_linenumber, count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_linenumber),
        |lr AS (
        |  SELECT l_returnflag, l_linenumber, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY n DESC, l_linenumber) AS rk
        |  FROM lc),
        |sc AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |sr AS (
        |  SELECT l_returnflag, l_linestatus, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY n DESC, l_linestatus) AS rk
        |  FROM sc),
        |tot AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n_rows
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT t.l_returnflag, lr.l_linenumber AS mode_line,
        |  sr.l_linestatus AS mode_status, t.n_rows
        |FROM tot t
        |JOIN lr ON t.l_returnflag = lr.l_returnflag AND lr.rk = 1
        |JOIN sr ON t.l_returnflag = sr.l_returnflag AND sr.rk = 1
        |ORDER BY t.l_returnflag""".stripMargin),
    Query("w5_ntile", w5Ntile,
      """SELECT o_orderkey, o_orderstatus,
        |  ntile(4) OVER (PARTITION BY o_orderstatus
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin),
    /** A9: explicit GROUPING SETS with grouping() markers (rollup/cube are
      * the pre-canned shapes; this is the general one). */
    sql("a9_grouping_sets",
      """SELECT coalesce(l_returnflag, '-') AS rf,
        |  coalesce(l_linestatus, '-') AS ls,
        |  grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin),
    Query("a10_pivot", a10Pivot,
      """PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders)
        |ON o_orderstatus IN ('F','O','P') USING count(*)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("a10_unpivot", a10Unpivot,
      """SELECT o_orderpriority, o_orderstatus AS status, count(*) AS n
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, status""".stripMargin),
    Query("l4_offset", l4Offset,
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY o_orderkey LIMIT 10 OFFSET 50""".stripMargin),
    Query("l5_null_ordering", l5NullOrdering,
      """SELECT p_partkey,
        | CASE WHEN p_size < 10 THEN NULL ELSE p_size END AS size_opt
        |FROM part
        |ORDER BY size_opt ASC NULLS LAST, p_partkey DESC
        |LIMIT 200""".stripMargin),
    /** F14: DecimalType money math — exact decimal arithmetic end to end
      * (cast → subtract → multiply → sum/min/max), closing the Athena ANSI
      * type surface (SURVEY §1.3). Inputs are cast to DECIMAL(12,2) and
      * every intermediate stays decimal, so results are EXACT — no
      * floating rounding grid needed; outputs serialize as canonical
      * scale-preserving strings (both engines print identical plain
      * decimal forms, sidestepping sum-type precision differences). */
    sql("f14_decimal",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS gross,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(38,4))) AS STRING) AS net,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS min_price,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("w4_distribution", w4Distribution,
      """SELECT s_nationkey, s_suppkey,
        | round(percent_rank() OVER w, 6) AS pr,
        | round(cume_dist() OVER w, 6) AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin),
    Query("f9_nested_rt", f9NestedRt,
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin),
    Query("f10_map_rt", f10MapRt,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    Query("k6_bucketed_join", k6BucketedJoin,
      """SELECT o_orderstatus, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("j8_salted_skew", j8SaltedSkew,
      """SELECT s_nationkey, count(*) AS n,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    Query("j11_bloom_join", j11BloomJoin,
      """SELECT o_orderstatus, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("j12_dpp", j12Dpp,
      """SELECT strftime(o_orderdate, '%Y-%m') AS om,
        |  count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m')
        |      IN ('1995-04', '1995-05', '1995-06')
        |GROUP BY om ORDER BY om""".stripMargin),
  )
}
