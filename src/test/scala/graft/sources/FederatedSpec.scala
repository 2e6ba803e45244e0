package graft.sources

import graft.{SparkEntry, SparkSpec}

class FederatedSpec extends SparkSpec {
  import spark.implicits._

  test("KeyValueSource: scan returns all items, lookup filters by key") {
    val kv = new Federated.KeyValueSource(spark, Seq(
      (1L, Map("v" -> "a")), (2L, Map("v" -> "b")), (3L, Map("v" -> "c"))))
    assert(kv.scan().count() == 3)
    val got = kv.lookup(Seq(1L, 3L)).select("kv_key").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("KV DSv2 scan: key predicate pushes down to point lookups") {
    val kvs = new Federated.KeyValueSource(spark,
      (0L until 100L).map(i => (i, Map("v" -> s"x$i"))))
    val looked = kvs.lookup(Seq(7L, 42L))
    val plan = looked.queryExecution.executedPlan.toString()
    assert(plan.contains("pushedKeys=[7,42]"),
      s"key filter must reach the connector, plan:\n$plan")
    assert(looked.select("kv_key").as[Long].collect().sorted.toSeq == Seq(7L, 42L))
    // attrs unreferenced -> column pruning reaches the reader
    val pruned = kvs.scan().select("kv_key")
    assert(pruned.queryExecution.executedPlan.toString().contains("readSchema=kv_key"),
      "unused attrs column must be pruned at the source")
    // full scan fans out over segments
    assert(kvs.scan().rdd.getNumPartitions == 4)
    // conjunctive key filters INTERSECT at the source (a union would
    // return rows Spark never re-filters — accepted filters are final)
    val conj = kvs.scan()
      .filter($"kv_key".isin(1L, 2L, 3L) && $"kv_key".isin(2L, 3L, 4L))
      .select("kv_key").as[Long].collect().sorted
    assert(conj.toSeq == Seq(2L, 3L), s"got ${conj.toSeq}")
  }

  test("JDBC round trip through embedded Derby preserves rows") {
    val src = Seq((1, "x", 1.5), (2, "y", 2.5)).toDF("id", "s", "d")
    Federated.jdbcWrite(src, "spec_rt")
    val back = Federated.jdbcRead(spark, "spec_rt").orderBy("id")
    assert(back.count() == 2)
    val r = back.collect()
    assert(r(0).getAs[Int]("id") == 1 && r(0).getAs[String]("s") == "x")
    assert(r(1).getAs[Double]("d") == 2.5)
  }

  test("partitioned JDBC read is a parallel range scan with pushdown") {
    val src = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    Federated.jdbcWrite(src, "spec_part")
    val df = Federated.jdbcRead(spark, "spec_part", Some(("id", 0L, 100L, 4)))
    assert(df.rdd.getNumPartitions == 4, "range scan must fan out over partitions")
    assert(df.count() == 100, "range partitions must cover every row exactly once")
    val filtered = df.filter($"id" >= 90)
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"),
      s"filter must push to the JDBC source, plan:\n$plan")
    assert(filtered.count() == 10)
  }

  test("DSv2 JDBC catalog pushes the whole aggregate to the remote engine") {
    val src = (0 until 100).map(i => (s"g${i % 3}", i.toLong, i * 1.5))
      .toDF("g", "v", "d")
    // VARCHAR override: Spark maps StringType to Derby CLOB, which
    // Derby refuses in GROUP BY — the remote agg needs a comparable type
    Federated.jdbcWrite(src, "spec_aggpush", Some("g VARCHAR(8)"))
    val agg = Federated.jdbcCatalogTable(spark, "spec_aggpush")
      .groupBy($"g")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum($"v").as("sv"),
        org.apache.spark.sql.functions.max($"d").as("md"))
    val plan = agg.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates"),
      s"aggregate must push into the JDBC scan, plan:\n$plan")
    val rows = agg.orderBy($"g").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(34L, 33L, 33L))
    assert(rows.map(_.getAs[Long]("sv")).sum == (0 until 100).map(_.toLong).sum)
  }

  test("DSv2 JDBC catalog pushes LIMIT into the remote query") {
    val src = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    Federated.jdbcWrite(src, "spec_limitpush")
    val lim = Federated.jdbcCatalogTable(spark, "spec_limitpush").limit(7)
    val plan = lim.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedLimit"),
      s"limit must push into the JDBC scan, plan:\n$plan")
    assert(lim.count() == 7)
  }

  test("DSv2 JDBC catalog pushes ORDER BY + LIMIT as remote TopN") {
    val src = (0 until 60).map(i => (i.toLong, i * 2.5)).toDF("id", "v")
    Federated.jdbcWrite(src, "spec_topn")
    val top = Federated.jdbcCatalogTable(spark, "spec_topn")
      .orderBy($"v".desc).limit(4)
    val plan = top.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedTopN"),
      s"topN must push into the JDBC scan, plan:\n$plan")
    assert(top.select("id").as[Long].collect().toSeq == Seq(59L, 58L, 57L, 56L))
  }

  test("s9c gated query: join AND aggregate execute remotely as one query") {
    val df = SparkEntry.queries("s9c_jdbc_join_push")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedJoins"),
      s"join not pushed to the remote engine:\n$plan")
    assert(plan.contains("PushedAggregates"),
      s"aggregate not pushed on top of the pushed join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin") &&
      !plan.contains("HashAggregate"),
      s"Spark should neither re-join nor re-aggregate:\n$plan")
    assert(df.count() > 0)
  }

  test("s9b gated query: whole GROUP BY executes remotely, no Spark-side aggregate") {
    val df = SparkEntry.queries("s9b_jdbc_agg_push")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedAggregates: [COUNT(*), SUM(") &&
      plan.contains("PushedGroupByExpressions: [o_orderstatus]"),
      s"aggregate not pushed to the remote engine:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"complete pushdown expected — Spark should not re-aggregate:\n$plan")
    assert(df.count() > 0)
  }

  test("KV DSv2 sink: append upserts by key, overwrite truncates first") {
    import graft.sources.kv.{KvSource, KvStore}
    import org.apache.spark.sql.functions.{col, lit, map}
    val store = s"sink_spec_${System.nanoTime()}"
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.write.format(classOf[KvSource].getName)
        .option("store", store).mode(mode).save()
    def readBack() = spark.read.format(classOf[KvSource].getName)
      .option("store", store).load()
      .select(col("kv_key"), col("attrs")("v").as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val a = Seq(1L -> "one", 2L -> "two").toDF("kv_key", "v")
      .select(col("kv_key"), map(lit("v"), col("v")).as("attrs"))
    write(a, "append")
    assert(readBack() == Map(1L -> "one", 2L -> "two"))

    // append: same key overwrites (idempotent put), new key lands
    val b = Seq(2L -> "TWO", 3L -> "three").toDF("kv_key", "v")
      .select(col("kv_key"), map(lit("v"), col("v")).as("attrs"))
    write(b, "append")
    assert(readBack() == Map(1L -> "one", 2L -> "TWO", 3L -> "three"))

    // overwrite: pre-existing keys 1 and 2 must vanish
    val c = Seq(9L -> "nine").toDF("kv_key", "v")
      .select(col("kv_key"), map(lit("v"), col("v")).as("attrs"))
    write(c, "overwrite")
    assert(readBack() == Map(9L -> "nine"))
    KvStore.clear(store)
  }

  test("SourceRegistry unifies sources under names") {
    val reg = new Federated.SourceRegistry
    reg.register("a", () => Seq(1).toDF("x"))
    reg.register("b", () => Seq(1, 2).toDF("x"))
    assert(reg.names == Seq("a", "b"))
    assert(reg.table("b").count() == 2)
  }
}
