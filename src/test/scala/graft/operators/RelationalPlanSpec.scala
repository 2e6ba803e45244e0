package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Plan-shape assertions: correctness is the oracle gate's job; these
  * pin the *physical* properties that matter at 100 TB — pushdown,
  * broadcast, top-k without a global sort. */
class RelationalPlanSpec extends SparkSpec {

  private def plan(name: String): String =
    physicalPlan(SparkEntry.queries(name)(spark, sf))

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries("q1_agg")(spark, sf).count() == 6)
  }

  test("every query has an oracle — no silent rows-only entries") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val names = SparkEntry.registry.map(_.name)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"names registered twice: $repeated")
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with blank oracle SQL: $blank")
    // perfbench attributes a query to a module by its build's class
    // name, so every build is created inside its module's object
    val modules = Seq("operators", "functions", "lake", "ext", "streaming",
      "sources")
    val unattributed = SparkEntry.registry.filterNot { q =>
      val cls = q.build.getClass.getName
      modules.exists(m => cls.startsWith(s"graft.$m."))
    }.map(q => s"${q.name} (${q.build.getClass.getName})")
    assert(unattributed.isEmpty,
      s"builds created outside a module object: $unattributed")
  }

  test("p5 filter pushes predicates into the parquet scan") {
    val p = plan("p5_filter")
    assert(p.contains("PushedFilters: [") && p.contains("l_quantity"),
      s"no pushdown in:\n$p")
  }

  test("j6 keeps the dimension side broadcast") {
    assert(plan("j6_broadcast").contains("BroadcastHashJoin"))
  }

  test("l3 top-k plans TakeOrderedAndProject, not a global sort") {
    assert(plan("l3_topk").contains("TakeOrderedAndProject"))
  }

  test("q1 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate") &&
      p.contains("partial"), s"no partial aggregate in:\n$p")
  }

  test("j4 semi-join stays a real semi-join (no row explosion)") {
    assert(plan("j4_semi").contains("LeftSemi"))
  }

  test("ngram Jaccard join is equi-join blocked — never a cartesian product") {
    val p = physicalPlan(graft.ext.Dedup.ngramJaccardPairs(
      Tables.load(spark, sf, "documents"), "doc_id", "text"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter path degenerated to all-pairs:\n$p")
  }

  test("ivf search broadcasts the probe list; corpus side never shuffles for the join") {
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = graft.ext.Similarity.ivfTrain(emb, c = 8, iters = 1)
    val p = physicalPlan(graft.ext.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 5), cents, k = 3, nprobe = 2))
    assert(p.contains("BroadcastHashJoin"),
      s"probe list not broadcast:\n$p")
  }

  test("k6 bucketed join needs no shuffle exchange before the join") {
    // Disable broadcast so the plan shows the big-big path bucketing is
    // for (at test scale Catalyst would rightly broadcast orders).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = physicalPlan(Advanced.bucketedJoinPlan(spark, sf))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a co-located join in:\n$p")
      assert(p.contains("Bucketed: true"), s"scans not bucketed in:\n$p")
      // The join inputs must come straight from the bucketed scans — the
      // only exchanges allowed are the post-join aggregation/sort ones.
      val joinPart = p.substring(p.indexOf("Join"))
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles its inputs:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("rank-based exact percentiles equal the buffering percentile() builtin") {
    val li = Tables.load(spark, sf, "lineitem")
    val viaRank = Relational.exactPercentiles(li, "l_returnflag",
      "l_extendedprice", Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    val viaBuiltin = li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"))
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq
    assert(viaRank == viaBuiltin)
  }

  test("exact percentiles handle NULL group keys and all-NULL groups like the builtin") {
    import spark.implicits._
    val df = Seq[(Option[String], Option[Double])](
      (Some("a"), Some(1.0)), (Some("a"), Some(2.0)), (Some("a"), Some(3.0)),
      (None, Some(10.0)), (None, Some(20.0)),      // NULL group with values
      (Some("b"), None), (Some("b"), None),        // group with only NULLs
      (Some("c"), Some(5.0)), (Some("c"), None))   // values + a NULL
      .toDF("g", "v")
    val viaRank = Relational.exactPercentiles(df, "g", "v",
      Seq("p50" -> 0.5), parallelism = 3)
      .orderBy(asc_nulls_first("g")).collect().map(_.toSeq).toSeq
    val viaBuiltin = df.groupBy(col("g"))
      .agg(round(expr("percentile(v, 0.5)"), 4).as("p50"))
      .orderBy(asc_nulls_first("g")).collect().map(_.toSeq).toSeq
    assert(viaRank == viaBuiltin, s"$viaRank vs $viaBuiltin")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // The 100 TB posture: a selective dimension filter becomes a bloom
    // filter applied to the fact scan BEFORE the join shuffle, so
    // non-matching fact rows never cross the wire. Thresholds lowered
    // because the technique targets scans far bigger than testdata.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf, "lineitem")
      val supp = Tables.load(spark, sf, "supplier")
        .filter(col("s_acctbal") > 9000)
      val j = li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
      val p = j.queryExecution.optimizedPlan.toString()
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${p.take(2000)}")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("j8 salted join result equals the plain join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val salted = SparkEntry.queries("j8_salted_skew")(spark, sf)
      .as[(Int, Long, Double)].collect().toSeq
    val plain = graft.Tables.load(spark, sf, "lineitem")
      .join(graft.Tables.load(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy("s_nationkey")
      .as[(Int, Long, Double)].collect().toSeq
    assert(salted == plain)
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The runtime complement to j8's manual salting: one hot key holds
    // ~90% of the big side; with skew thresholds scaled to test data,
    // OptimizeSkewedJoin must split that partition in the FINAL
    // adaptive plan rather than let one task carry the key.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // payload must survive column pruning into the shuffle (the agg
      // consumes it) and resist shuffle compression (sha2, not lpad) —
      // otherwise the hot partition shrinks under the skew threshold
      val big = spark.range(0, 60000).select(
        when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("k"),
        sha2(col("id").cast("string").cast("binary"), 256).as("pad"))
      val dim = spark.range(0, 2000).select(col("id").as("k"))
      val joined = big.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("padlen"))
      // collect() (not head(), which plans its own limited execution)
      // so THIS DataFrame's adaptive plan is the one that ran.
      // 54000 hot-key matches + the 200 distinct keys under 2000.
      assert(joined.collect().map(_.getLong(0)).toSeq == Seq(54200L))
      val finalPlan = joined.queryExecution.executedPlan.toString()
      assert(finalPlan.contains("skew=true"),
        s"AQE skew split missing in final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("scans prune columns: q1 reads only the columns it needs") {
    val p = plan("q1_agg")
    assert(!p.contains("l_partkey"),
      "q1 must not read l_partkey — column pruning is broken")
  }

  test("group top-k pushes the rank filter into WindowGroupLimit") {
    // row_number-filter ≤ k must become a WindowGroupLimit below the
    // Window: each partition keeps only k rows BEFORE the full
    // sort-rank — the difference between sorting every group and a
    // bounded heap at 100 TB. Pinned on the pure top-k query
    // (w1_rank's window carries ntile, which the InferWindowGroupLimit
    // rule correctly refuses — ntile needs the whole partition). An
    // optimizer-defeating refactor (non-literal limit, transformed rank
    // column) fails here.
    val p = plan("e3_cosine_topk")
    assert(p.contains("WindowGroupLimit"),
      s"e3_cosine_topk lost its WindowGroupLimit:\n$p")
  }

  test("j12 injects a dynamic partition pruning filter into the fact scan") {
    // The quarter filter lives on the dim side only; at 100 TB the
    // fact scan must receive the surviving months as a RUNTIME
    // partition filter (dynamicpruning subquery / reused broadcast),
    // not read every partition and filter post-join.
    val p = plan("j12_dpp")
    assert(p.contains("dynamicpruning"),
      s"j12_dpp fact scan lost dynamic partition pruning:\n$p")
  }

  test("k21 evolution reads prune under each version's own layout") {
    val (v1, v2) = graft.lake.Snapshots.k21Scans(spark, sf)
    val p1 = physicalPlan(v1)
    assert(p1.contains("PartitionFilters") && p1.contains("oy"),
      s"v1 read does not prune its year layout:\n$p1")
    val p2 = physicalPlan(v2)
    assert(p2.contains("PartitionFilters") && p2.contains("om"),
      s"v2 read does not prune its (year, month) layout:\n$p2")
  }

  test("domain cap keeps its WindowGroupLimit (per-source partial limit)") {
    // e8_domain_cap's row_number ≤ cap must truncate each source group
    // map-side (bounded heap) instead of fully sorting the corpus —
    // the same scale contract as group top-k, pinned separately
    // because the cap query aggregates AFTER the window.
    val p = plan("e8_domain_cap")
    assert(p.contains("WindowGroupLimit"),
      s"e8_domain_cap lost its WindowGroupLimit:\n$p")
  }

  test("priority sample keeps its WindowGroupLimit (per-lang top-k+1)") {
    // e8_priority_sample's row_number ≤ k+1 over the priority key must
    // stay a bounded per-partition heap — the whole point of priority
    // sampling at corpus scale is NOT sorting each stratum.
    val p = plan("e8_priority_sample")
    assert(p.contains("WindowGroupLimit"),
      s"e8_priority_sample lost its WindowGroupLimit:\n$p")
  }
}
