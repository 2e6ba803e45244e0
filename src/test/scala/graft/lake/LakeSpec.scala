package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.{SparkSpec, Tables}
import Lake.Mapping

class LakeSpec extends SparkSpec {
  import spark.implicits._

  test("TSV round trip preserves values and \\N nulls") {
    val out = Lake.scratchDir("t_rt")
    val src = Seq((1L, "alice", Option("x")), (2L, "bob", None),
      (3L, "eve\ttab", Option("y")))
      .toDF("id", "name", "opt")
    Lake.writeTsv(src, out)
    val back = Lake.applyMapping(Lake.readTsv(spark, out), Seq(
      Mapping("id", "id", "bigint"), Mapping("name", "name", "string"),
      Mapping("opt", "opt", "string")))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).isNullAt(2), "\\N must read back as null")
    assert(rows(2).getString(1) == "eve\ttab", "quoted tab survives")
  }

  test("all-string crawler fallback: headerless, every column string") {
    val out = Lake.scratchDir("t_allstr")
    Lake.writeTsv(Seq((1, "a"), (2, "b")).toDF("k", "v"), out, header = false)
    val df = Lake.readAllString(spark, out)
    assert(df.columns.toSeq == Seq("_c0", "_c1"))
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() == 2)
  }

  test("applyMapping: ordered projection + rename + try_cast choice") {
    val df = Seq(("1", "10"), ("2", "N/A")).toDF("a", "b")
    val out = Lake.applyMapping(df, Seq(
      Mapping("b", "b_int", "int"), Mapping("a", "a_long", "bigint")))
    assert(out.columns.toSeq == Seq("b_int", "a_long"), "mapping order wins")
    val rows = out.orderBy("a_long").collect()
    assert(rows(0).getInt(0) == 10)
    assert(rows(1).isNullAt(0), "non-parsing choice value becomes null")
  }

  test("partitioned write: Hive layout + partition pruning in the plan") {
    val out = Lake.scratchDir("t_part")
    Lake.writeParquet(Tables.load(spark, sf, "customer"), out,
      Seq("c_nationkey"))
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("c_nationkey=")), "Hive-style dirs")
    val pruned = LakeQueries.prunedRead(spark, out)
    val plan = physicalPlan(pruned)
    assert(plan.contains("PartitionFilters") &&
      plan.contains("c_nationkey"), s"pruning missing in:\n$plan")
    val expected = Tables.load(spark, sf, "customer")
      .filter($"c_nationkey" === 7).count()
    assert(pruned.count() == expected)
  }

  test("partitioned CTAS prunes partitions on the read-back") {
    // k8b's surface: CREATE TABLE ... PARTITIONED BY AS SELECT must
    // produce a table whose partition-predicate reads prune
    // directories (PartitionFilters on nk), same contract as the
    // path-based k1 pin above.
    val tbl = s"graft_ctasp_spec_${System.nanoTime()}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl USING parquet PARTITIONED BY (nk) AS
         |SELECT c_custkey AS id, round(c_acctbal, 2) AS bal,
         |  c_nationkey AS nk
         |FROM parquet.`$sf/customer.parquet`""".stripMargin)
    try {
      val pruned = spark.table(tbl).filter($"nk" === 7)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters") && plan.contains("nk"),
        s"pruning missing in:\n$plan")
      val expected = Tables.load(spark, sf, "customer")
        .filter($"c_nationkey" === 7).count()
      assert(pruned.count() == expected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("dropManagedTable clears the catalog entry and the default " +
    "location, never an external LOCATION") {
    val tbl = s"graft_dropm_spec_${System.nanoTime()}"
    val home = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
    // a location that outlived its catalog entry (an earlier session's)
    home.mkdirs()
    new java.io.File(home, "part-0.parquet").createNewFile()
    Catalog.dropManagedTable(spark, tbl)
    assert(!home.exists(), s"orphaned location survived: $home")
    spark.range(3).write.saveAsTable(tbl)
    Catalog.dropManagedTable(spark, tbl)
    assert(!spark.catalog.tableExists(tbl) && !home.exists())
    val ext = Lake.scratchDir("dropm_ext") + "/data"
    spark.range(3).write.parquet(ext)
    spark.sql(s"CREATE TABLE $tbl (id BIGINT) USING parquet LOCATION '$ext'")
    Catalog.dropManagedTable(spark, tbl)
    assert(!spark.catalog.tableExists(tbl))
    assert(spark.read.parquet(ext).count() == 3, "external data deleted")
  }

  test("mergeChanges: insert, update (incl. set-NULL), delete, passthrough") {
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "name", "v")
    val changes = Seq(
      (2L, Option("b2"), Option.empty[Int], "U"), // update, v set NULL
      (3L, Option("c"), Option(30), "D"),         // delete
      (9L, Option("i"), Option(90), "I"))         // insert
      .toDF("k", "name", "v", "op")
    val got = Lake.mergeChanges(base, changes, "k")
      .orderBy($"k").as[(Long, String, Option[Int])].collect().toSeq
    assert(got == Seq(
      (1L, "a", Some(10)),      // untouched passthrough
      (2L, "b2", None),         // update takes values wholesale
      (9L, "i", Some(90))))     // insert lands
  }

  test("gzip TSV: codec applied on disk, values survive") {
    val out = Lake.scratchDir("t_gz")
    Lake.writeTsv(Seq((1, "x"), (2, "y")).toDF("k", "v"), out, gzip = true)
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.endsWith(".csv.gz")), "gzip extension")
    assert(Lake.readTsv(spark, out).count() == 2)
  }

  test("results CSV sink: header present, re-read equals source") {
    val out = Lake.scratchDir("t_csv")
    val src = Seq(("A", 1L, 1.5), ("B", 2L, 2.5)).toDF("s", "n", "d")
    Lake.writeResultsCsv(src, out)
    val firstLine = scala.io.Source.fromFile(
      new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".csv")).head).getLines().next()
    assert(firstLine == "s,n,d", "header row")
    val back = spark.read.option("header", "true")
      .schema("s string, n bigint, d double").csv(out)
    assert(back.orderBy("s").collect().toSeq ==
      src.orderBy("s").collect().toSeq)
  }

  test("malformed rows: PERMISSIVE null-fills, DROPMALFORMED drops") {
    val out = new java.io.File(Lake.scratchDir("t_bad"), "rows.tsv")
    // A type-violating row (val is not an int): Spark null-pads short
    // rows silently, but a conversion failure is "malformed".
    java.nio.file.Files.writeString(out.toPath,
      "id\tname\tval\n1\ta\t10\n2\tb\toops\n3\tc\t30\n")
    val schema = Some("id int, name string, val int")
    val permissive = Lake.readTsv(spark, out.toString,
      inferSchema = false, schema = schema)
    assert(permissive.count() == 3)
    assert(permissive.filter($"id" === 2).head().isNullAt(2),
      "unparseable value null-fills under PERMISSIVE")
    val dropped = Lake.readTsv(spark, out.toString,
      inferSchema = false, mode = "DROPMALFORMED", schema = schema)
    // collect(), not count(): CSV column pruning parses zero columns for
    // a bare count, so malformed rows would never be detected.
    assert(dropped.collect().length == 2, "malformed row dropped")
  }

  test("bulk load copies files readable in place") {
    val zone = Lake.scratchDir("t_bulk")
    Lake.bulkLoad(sf, zone)
    assert(spark.read.parquet(s"$zone/region.parquet").count() ==
      Tables.load(spark, sf, "region").count())
  }

  test("compaction collapses small files, preserves data exactly") {
    val dir = Lake.scratchDir("t_compact") + "/frag"
    val src = Tables.load(spark, sf, "orders")
    // fragment: one file per partition of a fine repartition
    src.repartition(32).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() == 32, "fixture should be fragmented")
    val before = spark.read.parquet(dir).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    Lake.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(files() == 1, s"expected one compacted file, got ${files()}")
    val after = spark.read.parquet(dir).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must preserve data exactly")
  }

  test("register with prefix: views resolvable via SQL") {
    Lake.register(spark, Map("name.basics" ->
      Seq((1, "n")).toDF("id", "v")), prefix = "with_classifier_")
    assert(spark.sql("SELECT count(*) FROM with_classifier_name_basics")
      .head().getLong(0) == 1, "dots mangled, prefix applied")
  }

  test("FAILFAST ingest throws on the first malformed record") {
    val out = Lake.scratchDir("failfast") + "/raw"
    Seq("1\ten\t100", "2\ten\txx9").toDF("value")
      .coalesce(1).write.mode("overwrite").text(out)
    // collect, not count: CSV count() short-circuits row parsing and
    // would never hit the malformed field
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
        .option("sep", "\t").option("mode", "FAILFAST")
        .csv(out).collect()
    }
    assert(ex.getMessage.contains("Malformed") ||
      Option(ex.getCause).exists(_.getMessage.contains("Malformed")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("k19/k22 manifest consult fails informatively when the index " +
      "prunes everything or nothing") {
    // all-pruned: an empty hit list on a known-present key = a stale
    // or over-pruning index; reading nothing would lose rows silently
    val allPruned = intercept[IllegalArgumentException] {
      LakeQueries.consultPruningIndex(Nil, total = 8, what = "min/max")
    }
    assert(allPruned.getMessage.contains("pruned ALL files"),
      s"wrong all-pruned message: ${allPruned.getMessage}")
    // nothing-pruned: every file hit = the layout stopped clustering
    val nothingPruned = intercept[IllegalArgumentException] {
      LakeQueries.consultPruningIndex(Seq("f1", "f2"), total = 2,
        what = "bloom")
    }
    assert(nothingPruned.getMessage.contains("pruned nothing"),
      s"wrong nothing-pruned message: ${nothingPruned.getMessage}")
    // the healthy branch passes hits through for the pruned read
    assert(LakeQueries.consultPruningIndex(Seq("f1"), total = 2,
      what = "bloom") == Seq("f1"))
  }
}
