package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Each query name maps a
  * SURVEY §2 operator row to a deterministic DataFrame program over the
  * testdata tables; `oracleSql` carries the DuckDB-equivalent ANSI SQL
  * the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    operators.Relational.queries ++
      operators.Advanced.queries ++
      operators.Graph.queries ++
      operators.AsOfJoin.queries ++
      functions.Scalars.queries ++
      lake.LakeQueries.queries ++
      lake.Layout.queries ++
      lake.Validate.queries ++
      lake.Snapshots.queries ++
      ext.Dedup.queries ++
      ext.Similarity.queries ++
      ext.TextStats.queries ++
      ext.Curation.queries ++
      ext.TrainPrep.queries ++
      ext.Hygiene.queries ++
      ext.QualityModel.queries ++
      ext.Multimodal.queries ++
      streaming.EventWindows.queries ++
      sources.Federated.queries ++
      functions.Udfs.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++
      operators.Advanced.oracles ++
      operators.Graph.oracles ++
      operators.AsOfJoin.oracles ++
      functions.Scalars.oracles ++
      lake.LakeQueries.oracles ++
      lake.Layout.oracles ++
      lake.Validate.oracles ++
      lake.Snapshots.oracles ++
      ext.Dedup.oracles ++
      ext.Similarity.oracles ++
      ext.TextStats.oracles ++
      ext.Curation.oracles ++
      ext.TrainPrep.oracles ++
      ext.Hygiene.oracles ++
      ext.QualityModel.oracles ++
      ext.Multimodal.oracles ++
      streaming.EventWindows.oracles ++
      sources.Federated.oracles ++
      functions.Udfs.oracles
}
