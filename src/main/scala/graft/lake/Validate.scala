package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query, Tables}

/** Declarative data-quality validation — the Deequ/Great-Expectations
  * stage every lake pipeline runs before publishing a table (the
  * reference's crawler infers schema but nothing checks content; this
  * is that missing gate). A constraint suite compiles to ONE aggregation
  * pass over the table (every metric is an agg expression — no
  * per-constraint scans), plus one left-anti join per referential
  * constraint. Output is the audit artifact: (check_name, metric,
  * passed) rows.
  *
  * Scale shape: the metric pass is a single partial+final global
  * aggregate — linear, one reduce tree, no shuffle of data rows; RI
  * checks are key-projected anti-joins (dimension side broadcasts when
  * small). At 100 TB this is exactly one extra scan per published
  * table.
  */
object Validate {

  /** One constraint = a named metric expression (an AGGREGATE Column
    * producing a double in [0,1] or any scalar) plus a pass predicate
    * over the metric value. */
  final case class Check(name: String, metric: Column,
      passed: Column => Column)

  /** Completeness: fraction of non-null values. */
  def completeness(c: String): Column =
    avg(when(col(c).isNotNull, 1.0).otherwise(0.0))

  /** Uniqueness: distinct keys / rows (1.0 = a true key). */
  def uniqueness(cs: Seq[String]): Column =
    (countDistinct(cs.head, cs.tail: _*).cast("double") / count(lit(1)))

  /** In-range fraction for a numeric column. */
  def inRange(c: String, lo: Double, hi: Double): Column =
    avg(when(col(c).between(lo, hi), 1.0).otherwise(0.0))

  /** Run the one-pass metric suite. */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val row = df.agg(checks.head.metric.as(checks.head.name),
      checks.tail.map(c => c.metric.as(c.name)): _*)
    val structs = checks.map { c =>
      struct(lit(c.name).as("check_name"),
        round(col(c.name).cast("double"), 6).as("metric"),
        c.passed(col(c.name)).as("passed"))
    }
    row.select(explode(array(structs: _*)).as("r"))
      .select(col("r.check_name"), col("r.metric"), col("r.passed"))
  }

  /** Referential integrity: fraction of child keys present in the
    * parent key set (left-anti join counts the orphans). */
  def refIntegrity(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String): DataFrame = {
    val n = child.count()
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey)).distinct(),
        col(childKey) === col(parentKey), "left_anti")
      .count()
    val metric = if (n == 0) 1.0 else 1.0 - orphans.toDouble / n
    child.sparkSession.range(1).select(
      lit("ri_" + childKey).as("check_name"),
      round(lit(metric), 6).as("metric"),
      lit(orphans == 0).as("passed"))
  }

  // ------------------------------------------------------------ queries

  /** S18: publish-gate validation of lineitem — completeness,
    * compound-key uniqueness, value ranges, and orderkey referential
    * integrity against orders; every metric value-checked against the
    * oracle recomputing it set-algebraically. */
  private val s18Validate: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
    val metrics = validate(li, Seq(
      Check("complete_orderkey", completeness("l_orderkey"), _ === 1.0),
      Check("unique_line", uniqueness(Seq("l_orderkey", "l_linenumber")),
        _ === 1.0),
      Check("range_quantity", inRange("l_quantity", 0.0, 60.0), _ === 1.0),
      Check("range_discount", inRange("l_discount", 0.0, 0.35), _ === 1.0)))
    metrics.unionByName(
      refIntegrity(li, "l_orderkey", Tables.load(s, dir, "orders"),
        "o_orderkey"))
      .orderBy(col("check_name"))
  }

  val queries: Seq[Query] = Seq(
    Query("s18_validate", s18Validate,
      """SELECT * FROM (
        |  SELECT 'complete_orderkey' AS check_name,
        |    round(avg(CASE WHEN l_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
        |      AS metric,
        |    avg(CASE WHEN l_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END) = 1.0
        |      AS passed
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique_line',
        |    round(count(DISTINCT (l_orderkey, l_linenumber))::DOUBLE
        |      / count(*), 6),
        |    count(DISTINCT (l_orderkey, l_linenumber))::DOUBLE / count(*) = 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range_quantity',
        |    round(avg(CASE WHEN l_quantity BETWEEN 0.0 AND 60.0
        |              THEN 1.0 ELSE 0.0 END), 6),
        |    avg(CASE WHEN l_quantity BETWEEN 0.0 AND 60.0
        |        THEN 1.0 ELSE 0.0 END) = 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range_discount',
        |    round(avg(CASE WHEN l_discount BETWEEN 0.0 AND 0.35
        |              THEN 1.0 ELSE 0.0 END), 6),
        |    avg(CASE WHEN l_discount BETWEEN 0.0 AND 0.35
        |        THEN 1.0 ELSE 0.0 END) = 1.0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'ri_l_orderkey',
        |    round(1.0 - (SELECT count(*) FROM lineitem l
        |                 WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                                   WHERE o.o_orderkey = l.l_orderkey))::DOUBLE
        |      / (SELECT count(*) FROM lineitem), 6),
        |    (SELECT count(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                       WHERE o.o_orderkey = l.l_orderkey)) = 0
        |) ORDER BY check_name""".stripMargin),
  )
}
