package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry, the contract of SURVEY.md §7.
  *
  * Joins the per-module query registries. Each [[Query]] maps a SURVEY
  * §2 operator row to a deterministic DataFrame program over the
  * testdata tables and carries the DuckDB-equivalent ANSI SQL the
  * oracle gate hash-compares it against, so every query has its oracle.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2; names are
    * unique across modules. */
  val registry: Seq[Query] = {
    val all = Seq(
      operators.Relational.queries,
      operators.Advanced.queries,
      operators.Graph.queries,
      operators.AsOfJoin.queries,
      functions.Scalars.queries,
      lake.LakeQueries.queries,
      lake.Layout.queries,
      lake.Validate.queries,
      lake.Snapshots.queries,
      ext.Dedup.queries,
      ext.Similarity.queries,
      ext.TextStats.queries,
      ext.Curation.queries,
      ext.TrainPrep.queries,
      ext.Hygiene.queries,
      ext.QualityModel.queries,
      ext.Multimodal.queries,
      streaming.EventWindows.queries,
      sources.Federated.queries,
      functions.Udfs.queries).flatten
    val repeated = all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n
    }
    require(repeated.isEmpty,
      s"query names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Each registered query's program, by name. */
  val queries: Map[String, Q] = registry.map(q => q.name -> q.build).toMap

  /** Each registered query's DuckDB oracle SQL, by name. */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
