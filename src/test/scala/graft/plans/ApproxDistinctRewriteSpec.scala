package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the opt-in COUNT(DISTINCT) → HLL++ Catalyst rewrite. */
class ApproxDistinctRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val Flag = "spark.graft.approxDistinct"

  private def distinctCount() =
    spark.range(10000).select((col("id") % 100).as("k"))
      .agg(countDistinct(col("k")).as("n"))

  test("flag on: Catalyst rewrites to approx_count_distinct, value within bound") {
    spark.conf.set(Flag, "true")
    try {
      val df = distinctCount()
      val opt = df.queryExecution.optimizedPlan.toString()
      assert(opt.contains("approx_count_distinct"), s"not rewritten:\n$opt")
      assert(!opt.contains("count(distinct"), s"distinct survived:\n$opt")
      // 100 true distincts sit in HLL++'s sparse range — tight tolerance
      val n = df.collect()(0).getLong(0)
      assert(math.abs(n - 100) <= 15, s"estimate $n")
    } finally spark.conf.set(Flag, "false")
  }

  test("flag off (default): the exact distinct plan is untouched") {
    val df = distinctCount()
    val opt = df.queryExecution.optimizedPlan.toString()
    assert(opt.contains("count(distinct") && !opt.contains("approx_count_distinct"),
      s"plan changed with the flag off:\n$opt")
    assert(df.collect()(0).getLong(0) == 100L)
  }

  test("filtered and multi-column distincts pass through unchanged") {
    spark.conf.set(Flag, "true")
    try {
      val base = spark.range(1000)
        .select((col("id") % 10).as("a"), (col("id") % 7).as("b"))
      val multi = base.agg(countDistinct(col("a"), col("b")).as("n"))
      assert(!multi.queryExecution.optimizedPlan.toString()
        .contains("approx_count_distinct"))
      assert(multi.collect()(0).getLong(0) == 70L)
      val filtered = base.agg(
        count_distinct(col("a")).as("plain"),
        expr("count(DISTINCT a) FILTER (WHERE b = 0)").as("filt"))
      val opt = filtered.queryExecution.optimizedPlan.toString()
      assert(opt.contains("approx_count_distinct"), s"plain side:\n$opt")
      val row = filtered.collect()(0)
      assert(row.getLong(1) == 10L, s"filtered distinct must stay exact: $row")
    } finally spark.conf.set(Flag, "false")
  }
}
