package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}

/** Relational operator suite — SURVEY.md §2.3-2.8 (projection/filter,
  * joins, aggregations, windows, sorts/limits, set ops).
  *
  * Every query is deterministic (total ORDER BY) and every double is
  * rounded identically to its DuckDB oracle so the driver's hash compare
  * is stable. The reference delegates this whole surface to Athena
  * (stacks/demo_stack.py:255-293); here it is plain DataFrame code and
  * Catalyst does the optimization (SURVEY §4).
  *
  * Scale notes are per-query in Scaladoc: every aggregation is a
  * partial+final hash aggregate, every small-dimension join is broadcast,
  * nothing collects to the driver.
  */
object Relational {

  // ---------------------------------------------------------------- P: projection / filter

  /** P3: SELECT * preview (reference preview query demo_stack.py:272),
    * made deterministic with a total order. */
  private val p3SelectStar: Q = (s, dir) =>
    t(s, dir, "region").select(col("*")).orderBy(col("r_regionkey"))

  /** P5: WHERE with =, >, IN, BETWEEN, LIKE, AND/OR/NOT — the predicate
    * surface the provisioned workgroup exposes (demo_stack.py:255-265).
    * All predicates push down to the parquet scan (PushedFilters). */
  private val p5Filter: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(
        col("l_quantity").between(10, 20) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        !(col("l_discount") > 0.05) &&
        (col("l_linestatus") === "F" || col("l_tax") < 0.04))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 2).as("qty"),
        round(col("l_extendedprice"), 2).as("price"))
      // ~24% of synthetic lineitem rows share (l_orderkey, l_linenumber);
      // order by every projected column so the output is total-ordered.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty"), col("price"))

  // ---------------------------------------------------------------- L: sort / limit / top-k

  /** L1: LIMIT-n preview (demo_stack.py:267-280), ordered for determinism. */
  private val l1Limit: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
      .limit(10)

  /** L2: global ORDER BY — range-partitioned sort at scale; ties broken
    * by key so the output is total-ordered. */
  private val l2OrderBy: Q = (s, dir) =>
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"),
        round(col("s_acctbal"), 2).as("bal"))
      .orderBy(col("bal").desc, col("s_suppkey"))

  /** L3: top-k — Catalyst plans TakeOrderedAndProject (no full sort:
    * per-partition heap + single reduce, the right plan at 100 TB). */
  private val l3TopK: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(15)

  // ---------------------------------------------------------------- J: joins

  /** J1/P4: inner equi-join + named projection — the reference's flagship
    * Athena query shape (ratings ⋈ basics, demo_stack.py:284-293).
    * customer is the small side: Catalyst broadcasts it under AQE. */
  private val j1Inner: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    orders.join(cust, orders("o_custkey") === cust("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** J3: left outer join — customers keep their row with no orders;
    * aggregated to order counts (null-group safe). */
  private val j3LeftOuter: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total"))
      .orderBy(col("c_custkey"))
  }

  /** J3b: full outer join — both unmatched sides survive with nulls. */
  private val j3FullOuter: Q = (s, dir) => {
    val nation = t(s, dir, "nation")
    val supp = t(s, dir, "supplier")
    nation.join(supp, nation("n_nationkey") === supp("s_nationkey"), "full")
      .select(
        coalesce(col("n_nationkey"), lit(-1)).as("nkey"),
        coalesce(col("n_name"), lit("?")).as("nname"),
        coalesce(col("s_suppkey"), lit(-1)).as("skey"))
      .orderBy(col("nkey"), col("skey"))
  }

  /** J4: left semi (EXISTS) — customers having at least one big order. */
  private val j4Semi: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
    cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** J4b: left anti (NOT EXISTS) — customers with no orders at all. */
  private val j4Anti: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** J5: cross join (tiny × tiny only — a cross join of two big tables is
    * never the right plan; at scale this stays a broadcast nested loop). */
  private val j5Cross: Q = (s, dir) =>
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  /** J5b: theta (non-equi) join — broadcast-nested-loop; the small side
    * must be the broadcast one. */
  private val j5Theta: Q = (s, dir) => {
    val supp = t(s, dir, "supplier")
    val nation = t(s, dir, "nation")
    supp.join(nation, nation("n_nationkey") > supp("s_nationkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_bigger"))
      .orderBy(col("s_suppkey"))
  }

  /** J6: explicit broadcast-hint join — part is a dimension table; at
    * 100 TB lineitem never shuffles for this join (map-side hash). */
  private val j6Broadcast: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  // ---------------------------------------------------------------- A: aggregations

  /** A1/A6: TPC-H Q1-shaped grouped aggregate (the flagship):
    * partial+final HashAggregate, map-side combine — the canonical
    * shape that scales linearly with input. */
  val q1Agg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        // Product sums are mathematically exact at 4-6 decimals; rounding
        // them to 2 lands on half-cent boundaries where Spark (BigDecimal
        // HALF_UP on the shortest repr) and DuckDB (scaled floor) can
        // disagree — round to 4 (on-grid, stable in both engines).
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A2: global (no-key) aggregate — single row out, all-partial tree. */
  private val a2Global: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("l_extendedprice")), 2).as("sum_price"),
      round(min(col("l_quantity")), 2).as("min_qty"),
      round(max(col("l_quantity")), 2).as("max_qty"),
      round(avg(col("l_discount")), 6).as("avg_disc"))

  /** A3: COUNT(DISTINCT) / multi-distinct — Catalyst expands to the
    * two-phase Expand+Aggregate plan automatically. */
  private val a3CountDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"))

  /** A4/A7b: approximate aggregates (HLL distinct + quantile sketch) —
    * sketch values are engine-specific, so the query asserts its own
    * error bounds (HLL within 3× the 2% rsd; quantile sketch within 1%
    * of the exact median) and emits booleans the trivially-true oracle
    * hash-checks. These are the 100 TB workhorses: fixed-size state, no
    * shuffle of distinct values. */
  private val a4Approx: Q = (s, dir) =>
    t(s, dir, "lineitem").agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("ad"),
      countDistinct(col("l_partkey")).as("ed"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("am"),
      expr("percentile(l_extendedprice, 0.5)").as("em"))
      .select(
        (abs(col("ad") - col("ed")) / col("ed") <= 0.06).as("distinct_ok"),
        (abs(col("am") - col("em")) / col("em") <= 0.01).as("median_ok"))

  /** A5: ROLLUP with sentinel-coalesced keys (grand-total rows sort last
    * deterministically in both engines). */
  private val a5Rollup: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  /** A5b: CUBE over two dimensions of orders. */
  private val a5Cube: Q = (s, dir) =>
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** A6: HAVING = filter over the aggregate's output. */
  private val a6Having: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .filter(col("sum_qty") > 100)
      .orderBy(col("l_suppkey"))

  /** Exact interpolated percentiles WITHOUT buffering a group's values
    * AND without a one-task-per-group sort — the classic distributed
    * order-statistics shape:
    *
    *  1. range-partition rows by (group, value) into `parallelism`
    *     partitions — a single group's values span MANY partitions in
    *     value order (a plain `Window.partitionBy(group)` instead sorts
    *     each whole group in ONE task: with 3 groups that is 3 reducers
    *     no matter how large the cluster);
    *  2. per-(partition, group) row counts form a TINY offset table
    *     (partitions × groups rows) — prefix sums give each partition's
    *     starting rank inside its group, and the per-group totals;
    *  3. global rank = partition offset + local (partition, group)
    *     row_number — the rank windows are keyed by (partition, group),
    *     so rank assignment parallelism is partitions × groups;
    *  4. each requested percentile needs only its two boundary rows,
    *     which a plain partial+final sum aggregates.
    *
    * Built-in `percentile()` instead holds ALL of a group's values in
    * one aggregation buffer — at 100 TB a single hot group OOMs the
    * executor. Same linear-interpolation semantics as Spark
    * `percentile()` / DuckDB `quantile_cont` (index = (n-1)·p). Value
    * ties may split across range-partition boundaries; local ranks plus
    * offsets still produce one valid global numbering, and interpolation
    * is tie-order-independent. */
  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)], parallelism: Int = 32): DataFrame = {
    // builtin percentile() ignores nulls; without this filter they would
    // occupy ranks and inflate the group count
    val parts = df.select(col(groupCol), col(valueCol))
      .filter(col(valueCol).isNotNull)
      .repartitionByRange(parallelism, col(groupCol), col(valueCol))
      .withColumn("_pid", spark_partition_id())
      // Consumed twice (offset table + rank assignment) and _pid must be
      // IDENTICAL in both — checkpointing pins the range-sampled
      // partitioning. Lazy: the first consuming job materializes the
      // blocks in-line instead of paying a separate eager pass.
      .localCheckpoint(eager = false)
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parts.groupBy(col("_pid"), col(groupCol))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .withColumn("_n",
        sum(col("_c")).over(Window.partitionBy(col(groupCol))))
      .drop("_c")
    val wLoc = Window.partitionBy(col("_pid"), col(groupCol))
      .orderBy(col(valueCol))
    // null-safe on the group key: a NULL group is a real group to
    // builtin percentile(), so it must find its offsets too
    val offsR = offs.select(col("_pid").as("_p"), col(groupCol).as("_g"),
      col("_off"), col("_n"))
    val ranked = parts
      .withColumn("_lrn", row_number().over(wLoc).cast("long"))
      .join(broadcast(offsR),
        col("_pid") === col("_p") && (col(groupCol) <=> col("_g")))
      .withColumn("_rn", col("_off") + col("_lrn") - 1)
    def idx(p: Double): Column = (col("_n") - 1) * lit(p)
    // keep only boundary rows — the aggregation input is ~2·|ps| rows
    // per group, not the whole group
    val isBoundary = ps.map { case (_, p) =>
      col("_rn") === floor(idx(p)) || col("_rn") === ceil(idx(p))
    }.reduce(_ || _)
    val aggs = ps.map { case (name, p) =>
      val i = idx(p)
      val frac = i - floor(i)
      round(sum(
        when(col("_rn") === floor(i) && col("_rn") === ceil(i), col(valueCol))
          .when(col("_rn") === floor(i), col(valueCol) * (lit(1.0) - frac))
          .when(col("_rn") === ceil(i), col(valueCol) * frac)), 4).as(name)
    }
    val pcts = ranked.filter(isBoundary)
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    // groups whose values are ALL null still emit a row (with NULL
    // percentiles), matching builtin percentile() semantics; null-safe
    // equality so a NULL group key matches its own pcts row
    val keys = df.select(col(groupCol)).distinct()
    keys.join(pcts, keys(groupCol) <=> pcts(groupCol), "left")
      .select(keys(groupCol) +: ps.map { case (name, _) => pcts(name) }: _*)
  }

  /** A7: exact percentiles (linear interpolation — matches DuckDB
    * quantile_cont), via the rank-based non-buffering plan above. */
  private val a7Percentile: Q = (s, dir) =>
    exactPercentiles(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      .orderBy(col("l_returnflag"))

  /** A8: collect-set (array_agg) — rendered as a sorted joined string so
    * the oracle compare is representation-stable. */
  private val a8Collect: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
        .as("priorities"))
      .orderBy(col("o_orderstatus"))

  // ---------------------------------------------------------------- W: windows

  /** W1: ranking functions — top-3 orders per priority class. */
  private val w1Rank: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("rnk"), col("drnk"),
        col("quartile"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** W2: analytic functions — lag/lead/first_value across a customer's
    * order history. */
  private val w2Lag: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("prev_price", round(lag(col("o_totalprice"), 1).over(w), 2))
      .withColumn("next_price", round(lead(col("o_totalprice"), 1).over(w), 2))
      .withColumn("first_price", round(first(col("o_totalprice")).over(w), 2))
      .filter(col("o_custkey") <= 50)
      .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
        col("next_price"), col("first_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** W3: frame-bounded windowed aggregate — running revenue per supplier.
    * (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem, so
    * the window ORDER BY adds l_quantity: rows that then still tie are
    * identical in the summed column, making the running sums multiset
    * well-defined in both engines. The final ORDER BY includes running_qty
    * for the same reason. */
  private val w3Frame: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .filter(col("l_suppkey") <= 3)
      .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 2))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
  }

  // ---------------------------------------------------------------- U: set ops

  /** U1: UNION ALL of two branded key sets. */
  private val u1UnionAll: Q = (s, dir) => {
    val c = t(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"), lit("customer").as("kind"))
    val su = t(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("id"), lit("supplier").as("kind"))
    c.union(su).orderBy(col("kind"), col("id"))
  }

  /** U1b: UNION (distinct) of nation keys present on either side. */
  private val u1Union: Q = (s, dir) => {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
    c.union(su).distinct().orderBy(col("nk"))
  }

  /** U2: INTERSECT / EXCEPT (both distinct, per ANSI). */
  private val u2Intersect: Q = (s, dir) => {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
    c.intersect(su).orderBy(col("nk"))
  }

  private val u2Except: Q = (s, dir) => {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
    c.except(su).orderBy(col("nk"))
  }

  /** U4: multiset EXCEPT ALL / INTERSECT ALL — duplicate-preserving
    * bag semantics (result multiplicity = max(nₐ−n_b, 0) / min(nₐ, n_b)),
    * aggregated to per-key counts so the gate pins the multiplicities,
    * not just membership. */
  private val u4ExceptAll: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_suppkey").as("k"))
    val su = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
    li.exceptAll(su).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))
  }

  private val u4IntersectAll: Q = (s, dir) => {
    val lo = t(s, dir, "lineitem").filter(col("l_quantity") <= 25)
      .select(col("l_suppkey").as("k"))
    val hi = t(s, dir, "lineitem").filter(col("l_quantity") > 25)
      .select(col("l_suppkey").as("k"))
    lo.intersectAll(hi).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))
  }

  /** U3: DISTINCT over a projection. */
  private val u3Distinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** X6 ✱: the opt-in `ApproxDistinctRewrite` optimizer rule
    * (`plans/ApproxDistinctRewrite.scala`, injected via
    * `GraftExtensions`) — with `spark.graft.approxDistinct=true` the
    * exact `COUNT(DISTINCT)` below is rewritten by CATALYST to
    * HyperLogLog++ before planning; the exact side goes through a
    * distinct-then-count shape the rule leaves alone. Executed eagerly
    * (scratch-parquet write) while the flag is on; the caller's value
    * (or its absence) is restored afterwards, so the flag can't leak
    * into later queries' plans. Gate: every group's estimate within
    * the 3σ HLL bound of exact. */
  private val x6ApproxRewrite: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val out = graft.lake.Lake.scratchDir("x6")
    graft.withConf(s, "spark.graft.approxDistinct" -> "true") {
      val approx = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("ad")) // rule rewrites this
      val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("ed"))
      approx.join(exact, Seq("l_returnflag"))
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(out).agg(
      expr("bool_and(abs(ad - ed) <= 0.15 * ed)").as("approx_within_bound"),
      (count(lit(1)) === 3).as("all_groups"))
  }

  /** A13: arg-max / arg-min aggregates (`max_by`/`min_by`; DuckDB
    * `arg_max`/`arg_min`) — "which customer holds the extreme value"
    * without a rank-window or self-join: single partial-aggregable
    * pass, constant state per group. Both engines order on ONE
    * composite bigint (balance cents ⊕ custkey) so double-precision
    * acctbal ties break identically. */
  private val a13ArgMax: Q = (s, dir) => {
    val ord = round(col("c_acctbal") * 100).cast("long") * 10000000L +
      col("c_custkey")
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        max_by(col("c_name"), ord).as("richest"),
        round(max(col("c_acctbal")), 2).as("top_bal"),
        min_by(col("c_name"), ord).as("poorest"),
        round(min(col("c_acctbal")), 2).as("bottom_bal"),
        count(lit(1)).as("n"))
      .orderBy(col("c_nationkey"))
  }

  /** A14: linear-regression aggregates (`regr_slope`/`regr_intercept`/
    * `regr_r2`/`corr`) — one-pass Welford-style moment state, partial-
    * aggregable, no second scan; the SQL-standard fit surface both
    * engines share. Rounded to 6: the moment sums differ only in
    * summation order (~1e-10 relative). */
  private val a14Regr: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 6)
          .as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6)
          .as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6)
          .as("pearson"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- registry

  /** A11 ✱: sketch-table distinct counting — the 100 TB pattern behind
    * every "daily uniques" dashboard: per-group HLL sketches persist as
    * a tiny MERGEABLE table; later queries estimate from the sketch
    * table (per-group directly, corpus-wide by hll_union_agg) instead
    * of rescanning the fact. Gate: every estimate sits within the HLL
    * error bound (lgK=14 → 3σ ≈ 2.4%; asserted ≤ 5%) of the exact
    * distinct counts, all computed in-plan. */
  private val a11SketchTable: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val out = graft.lake.Lake.scratchDir("a11")
    li.groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_suppkey"), lit(14)).as("sk"))
      .write.mode("overwrite").parquet(out)
    val sketches = s.read.parquet(out)
    val perGroup = sketches
      .select(col("l_returnflag"), hll_sketch_estimate(col("sk")).as("est"))
      .join(li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("exact")), Seq("l_returnflag"))
    val globalEst = sketches
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("gest"))
    val globalExact = li.agg(countDistinct(col("l_suppkey")).as("gexact"))
    perGroup.agg(
      expr("bool_and(abs(est - exact) <= 0.05 * exact)")
        .as("groups_within_bound"),
      count(lit(1)).as("n_groups"))
      .crossJoin(globalEst).crossJoin(globalExact)
      .select(col("groups_within_bound"),
        (col("n_groups") === 3).as("all_groups_present"),
        (abs(col("gest") - col("gexact")) <= lit(0.05) * col("gexact"))
          .as("global_within_bound"))
  }

  /** A12 ✱: rolling 7-day distinct users from MERGEABLE daily HLL
    * sketches — the pattern behind every "rolling uniques" dashboard at
    * scale: daily distincts can't be summed (users repeat), so the fact
    * table pre-aggregates to one small sketch per day and the rolling
    * window UNIONs sketches instead of rescanning events. The exact
    * side (for the in-plan bound) expands each active (user, day) into
    * the ≤7 window-ends it contributes to — an equi-keyed explode, no
    * range join. Gate: every day's estimate within 5% of exact. */
  private val a12RollingUniques: Q = (s, dir) => {
    val ev = graft.Tables.load(s, dir, "events")
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    val est = daily.select(to_date(col("day")).as("day"),
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)).over(w))
        .as("est"))
    val exact = ev.distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"),
        to_date(col("day")).as("day"))
      .select(col("user_id"), date_add(col("day"), col("i")).as("day_end"))
      .groupBy(col("day_end"))
      .agg(countDistinct(col("user_id")).as("exact"))
    est.join(exact, est("day") === exact("day_end"))
      .agg(
        expr("bool_and(abs(est - exact) <= 0.05 * exact)")
          .as("rolling_within_bound"),
        (count(lit(1)) >= 28).as("month_covered"))
  }

  /** A23 ✱: distinct-set ALGEBRA from mergeable bottom-k (KMV/theta)
    * sketches — the capability HLL lacks: |A∩B| and |A∖B| of distinct
    * key sets estimated from two tiny sketches with NO fact rescan and
    * NO key join (Beyer et al. SIGMOD'07; the DataSketches theta
    * family). A = distinct 1995 buyers, B = 1996 buyers. The EXACT
    * set-algebra values ride the result and are restated by the oracle
    * from `orders`; the sketch estimates are asserted in-plan within
    * 6% of |A∪B| (k=1024 ⇒ σ ≈ 3.1% of the union for the
    * intersection estimator; the deterministic splitmix hashes measure
    * ≤ 1.5% on this corpus at every gate SF — see KmvSpec). At 100 TB
    * the two sides aggregate to ≤ k longs each (partial buffers merge
    * losslessly map-side), and every later set question is sketch-
    * local — the same reason a11 persists HLL sketches, with
    * intersection unlocked. */
  private val a23SketchSetops: Q = (s, dir) => {
    import s.implicits._
    val k = 1024
    val sketchOf = udaf(graft.functions.KmvAgg(k))
    val flags = t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(col("o_custkey"),
        (year(col("o_orderdate")) === 1995).as("in_a"))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("in_a"), 1).otherwise(0)).as("a"),
        max(when(!col("in_a"), 1).otherwise(0)).as("b"))
    val exact = flags.agg(
      sum(col("a")).as("exact_a"), sum(col("b")).as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(col("a") * col("b")).as("exact_inter"),
      sum(col("a") * (lit(1) - col("b"))).as("exact_diff"))
    val sketches = t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(sketchOf(col("o_custkey")).as("sk"))
    val paired = sketches.agg(
      max(when(col("y") === 1995, col("sk"))).as("ska"),
      max(when(col("y") === 1996, col("sk"))).as("skb"))
    val ests = paired.as[(Array[Long], Array[Long])].map { case (a, b) =>
      val (eu, ei, ed) = graft.functions.Kmv.setOps(a, b, k)
      (graft.functions.Kmv.estimate(a, k),
        graft.functions.Kmv.estimate(b, k), eu, ei, ed)
    }.toDF("est_a", "est_b", "est_union", "est_inter", "est_diff")
    exact.crossJoin(ests).select(
      col("exact_a"), col("exact_b"), col("exact_union"),
      col("exact_inter"), col("exact_diff"),
      (abs(col("est_a") - col("exact_a")) <=
        lit(0.06) * col("exact_union")).as("a_within"),
      (abs(col("est_b") - col("exact_b")) <=
        lit(0.06) * col("exact_union")).as("b_within"),
      (abs(col("est_union") - col("exact_union")) <=
        lit(0.06) * col("exact_union")).as("union_within"),
      (abs(col("est_inter") - col("exact_inter")) <=
        lit(0.06) * col("exact_union")).as("inter_within"),
      (abs(col("est_diff") - col("exact_diff")) <=
        lit(0.06) * col("exact_union")).as("diff_within"))
  }

  /** A24 ✱: the PERSISTED, GROUPED form of a23 — a KMV sketch TABLE
    * (one row per (region, year), ≤ k longs each, the a11 lifecycle)
    * written to parquet and read back; per-region buyer-set
    * intersection/difference between 1995 and 1996 then computes from
    * the tiny table alone, no fact rescan and no custkey join. Exact
    * per-region values ride the result (oracle restates them from the
    * facts); estimates asserted in-plan within 15% of each region's
    * union (k=512 ⇒ σ ≈ 4.4%; deterministic hashes measure ≤ 8.3%
    * at sf0.1, exact below k at smaller SFs — the exactness floor).
    * Dims broadcast onto the fact scan; the sketch agg is the only
    * fact-sized shuffle, partials ≤ k longs per group. */
  private val a24SketchGroups: Q = (s, dir) => {
    import s.implicits._
    val k = 512
    val sketchOf = udaf(graft.functions.KmvAgg(k))
    val facts = t(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey").as("region"),
        year(col("o_orderdate")).as("y"), col("o_custkey"))
    val out = graft.lake.Lake.scratchDir("a24")
    facts.groupBy(col("region"), col("y"))
      .agg(sketchOf(col("o_custkey")).as("sk"))
      .write.mode("overwrite").parquet(out)
    val ests = s.read.parquet(out)
      .groupBy(col("region"))
      .agg(max(when(col("y") === 1995, col("sk"))).as("ska"),
        max(when(col("y") === 1996, col("sk"))).as("skb"))
      .as[(Int, Array[Long], Array[Long])]
      .map { case (r, a, b) =>
        val (eu, ei, ed) = graft.functions.Kmv.setOps(a, b, k)
        (r, eu, ei, ed)
      }.toDF("region", "est_union", "est_inter", "est_diff")
    val exact = facts.distinct()
      .groupBy(col("region"), col("o_custkey"))
      .agg(max(when(col("y") === 1995, 1).otherwise(0)).as("a"),
        max(when(col("y") === 1996, 1).otherwise(0)).as("b"))
      .groupBy(col("region"))
      .agg(count(lit(1)).as("exact_union"),
        sum(col("a") * col("b")).as("exact_inter"),
        sum(col("a") * (lit(1) - col("b"))).as("exact_diff"))
    exact.join(ests, Seq("region"))
      .select(col("region"), col("exact_union"), col("exact_inter"),
        col("exact_diff"),
        (abs(col("est_union") - col("exact_union")) <=
          lit(0.15) * col("exact_union")).as("union_within"),
        (abs(col("est_inter") - col("exact_inter")) <=
          lit(0.15) * col("exact_union")).as("inter_within"),
        (abs(col("est_diff") - col("exact_diff")) <=
          lit(0.15) * col("exact_union")).as("diff_within"))
      .orderBy(col("region"))
  }

  val queries: Seq[Query] = Seq(
    Query("a11_sketch_table", a11SketchTable,
      """SELECT true AS groups_within_bound, true AS all_groups_present,
        |  true AS global_within_bound""".stripMargin),
    Query("a12_rolling_uniques", a12RollingUniques,
      "SELECT true AS rolling_within_bound, true AS month_covered"),
    // Exact set algebra restated from orders; the sketch estimates are
    // engine-specific and self-check in-plan (the ✱ convention).
    Query("a23_sketch_setops", a23SketchSetops,
      """WITH m AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS a,
        |    max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS b
        |  FROM orders
        |  WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY o_custkey)
        |SELECT sum(a)::BIGINT AS exact_a, sum(b)::BIGINT AS exact_b,
        |  count(*)::BIGINT AS exact_union,
        |  sum(a * b)::BIGINT AS exact_inter,
        |  sum(a * (1 - b))::BIGINT AS exact_diff,
        |  true AS a_within, true AS b_within, true AS union_within,
        |  true AS inter_within, true AS diff_within
        |FROM m""".stripMargin),
    // Per-region exact set algebra restated from the facts; estimates
    // self-check in-plan against the persisted sketch table (✱).
    Query("a24_sketch_groups", a24SketchGroups,
      """WITH f AS (
        |  SELECT DISTINCT n.n_regionkey AS region,
        |    year(o.o_orderdate) AS y, o.o_custkey
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE year(o.o_orderdate) IN (1995, 1996)),
        |m AS (
        |  SELECT region, o_custkey,
        |    max(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS a,
        |    max(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS b
        |  FROM f GROUP BY region, o_custkey)
        |SELECT region, count(*)::BIGINT AS exact_union,
        |  sum(a * b)::BIGINT AS exact_inter,
        |  sum(a * (1 - b))::BIGINT AS exact_diff,
        |  true AS union_within, true AS inter_within, true AS diff_within
        |FROM m GROUP BY region ORDER BY region""".stripMargin),
    Query("x6_approx_rewrite", x6ApproxRewrite,
      "SELECT true AS approx_within_bound, true AS all_groups"),
    Query("a13_argmax", a13ArgMax,
      """SELECT c_nationkey,
        |  arg_max(c_name, round(c_acctbal * 100)::BIGINT * 10000000
        |    + c_custkey) AS richest,
        |  round(max(c_acctbal), 2) AS top_bal,
        |  arg_min(c_name, round(c_acctbal * 100)::BIGINT * 10000000
        |    + c_custkey) AS poorest,
        |  round(min(c_acctbal), 2) AS bottom_bal,
        |  count(*)::BIGINT AS n
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    Query("a14_regr", a14Regr,
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6)
        |    AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  round(corr(l_extendedprice, l_quantity), 6) AS pearson,
        |  count(*)::BIGINT AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("p3_select_star", p3SelectStar,
      "SELECT * FROM region ORDER BY r_regionkey"),
    Query("p5_filter", p5Filter,
      """SELECT l_orderkey, l_linenumber, round(l_quantity,2) AS qty,
        | round(l_extendedprice,2) AS price
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_returnflag IN ('A','R')
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND NOT (l_discount > 0.05)
        |  AND (l_linestatus = 'F' OR l_tax < 0.04)
        |ORDER BY l_orderkey, l_linenumber, qty, price""".stripMargin),
    Query("l1_limit", l1Limit,
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS price
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin),
    Query("l2_orderby", l2OrderBy,
      """SELECT s_suppkey, s_name, round(s_acctbal,2) AS bal
        |FROM supplier ORDER BY bal DESC, s_suppkey""".stripMargin),
    Query("l3_topk", l3TopK,
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice,2) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 15""".stripMargin),
    Query("j1_inner", j1Inner,
      """SELECT o_orderkey, c_name, round(o_totalprice,2) AS price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    Query("j3_left_outer", j3LeftOuter,
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice),0.0),2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    Query("j3_full_outer", j3FullOuter,
      """SELECT coalesce(n_nationkey,-1) AS nkey, coalesce(n_name,'?') AS nname,
        | coalesce(s_suppkey,-1) AS skey
        |FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
        |ORDER BY nkey, skey""".stripMargin),
    Query("j4_semi", j4Semi,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin),
    Query("j4_anti", j4Anti,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Query("j5_cross", j5Cross,
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),
    Query("j5_theta", j5Theta,
      """SELECT s_suppkey, s_name, count(*) AS n_bigger
        |FROM supplier JOIN nation ON n_nationkey > s_nationkey
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin),
    Query("j6_broadcast", j6Broadcast,
      """SELECT p_brand,
        | round(sum(l_extendedprice * (1.0 - l_discount)),4) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("q1_agg", q1Agg,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)),4) AS sum_disc_price,
        | round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)),4) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("a2_global", a2Global,
      """SELECT count(*) AS n_rows, round(sum(l_extendedprice),2) AS sum_price,
        | round(min(l_quantity),2) AS min_qty, round(max(l_quantity),2) AS max_qty,
        | round(avg(l_discount),6) AS avg_disc
        |FROM lineitem""".stripMargin),
    Query("a3_count_distinct", a3CountDistinct,
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin),
    Query("a5_rollup", a5Rollup,
      """SELECT coalesce(l_returnflag,'ALL') AS rf,
        | coalesce(l_linestatus,'ALL') AS ls,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),
    Query("a5_cube", a5Cube,
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        | coalesce(o_orderpriority,'ALL') AS priority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),
    Query("a6_having", a6Having,
      """SELECT l_suppkey, round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_suppkey
        |HAVING round(sum(l_quantity),2) > 100
        |ORDER BY l_suppkey""".stripMargin),
    Query("a7_percentile", a7Percentile,
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25),4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5),4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75),4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("a8_collect", a8Collect,
      """SELECT o_orderstatus,
        | string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("w1_rank", w1Rank,
      """SELECT o_orderpriority, rn, rnk, drnk, quartile, o_orderkey, price FROM (
        | SELECT o_orderpriority,
        |  row_number() OVER w AS rn, rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile,
        |  o_orderkey, round(o_totalprice,2) AS price
        | FROM orders
        | WINDOW w AS (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin),
    Query("w2_lag", w2Lag,
      """SELECT * FROM (
        | SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice,1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice,1) OVER w, 2) AS next_price,
        |  round(first_value(o_totalprice) OVER w, 2) AS first_price
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) WHERE o_custkey <= 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("w3_frame", w3Frame,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin),
    Query("a4_approx", a4Approx,
      "SELECT true AS distinct_ok, true AS median_ok"),
    Query("u1_union_all", u1UnionAll,
      """SELECT CAST(c_custkey AS BIGINT) AS id, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT CAST(s_suppkey AS BIGINT) AS id, 'supplier' AS kind FROM supplier
        |ORDER BY kind, id""".stripMargin),
    Query("u1_union", u1Union,
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin),
    Query("u2_intersect", u2Intersect,
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin),
    Query("u2_except", u2Except,
      """SELECT c_nationkey AS nk FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin),
    Query("u3_distinct", u3Distinct,
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("u4_except_all", u4ExceptAll,
      """WITH r AS (
        |  SELECT l_suppkey AS k FROM lineitem
        |  EXCEPT ALL
        |  SELECT s_suppkey FROM supplier)
        |SELECT k, count(*)::BIGINT AS n FROM r
        |GROUP BY k ORDER BY k""".stripMargin),
    Query("u4_intersect_all", u4IntersectAll,
      """WITH r AS (
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_quantity <= 25
        |  INTERSECT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_quantity > 25)
        |SELECT k, count(*)::BIGINT AS n FROM r
        |GROUP BY k ORDER BY k""".stripMargin),
  )
}
