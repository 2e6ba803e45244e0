package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Two-zone persistent catalog — the reference keeps raw and processed
  * as two PERSISTENT Glue databases that outlive any one session
  * (stacks/demo_stack.py:94-100), addressed in SQL as `"db"."table"`
  * (:272). The Spark analogue: real catalog databases under the shared
  * warehouse directory, written with `saveAsTable`, addressed as
  * `db.table`. Under a Hive-backed metastore
  * (`SparkSession.builder.enableHiveSupport()` + a durable Derby
  * metastore path) both the table METADATA and data survive across
  * sessions — see CatalogSpec for the cross-session round trip; with
  * the default in-memory catalog the data still lands durably in the
  * warehouse but names are per-session.
  */
object Catalog {

  def ensureDatabase(spark: SparkSession, db: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    ()
  }

  /** Publish a DataFrame as `db.table` in the catalog (overwrite) —
    * the crawler-then-ETL "promote into the processed zone" step. */
  def publish(spark: SparkSession, db: String, table: String,
      df: DataFrame): Unit = {
    ensureDatabase(spark, db)
    dropManagedTable(spark, table, Some(db))
    df.write.mode(SaveMode.Overwrite).saveAsTable(s"`$db`.`$table`")
  }

  /** Drop the managed table `table` (in `db`, else the current
    * database) and delete its location, the catalog's default path for
    * that name. A fresh in-memory catalog does not know a table whose
    * warehouse directory survived an earlier session, and a write to
    * the name then fails on the existing directory — so both go. Never
    * for an external table: its `LOCATION` is not the default path and
    * is left as it is. */
  def dropManagedTable(spark: SparkSession, table: String,
      db: Option[String] = None): Unit = {
    val id = TableIdentifier(table, db)
    spark.sql(s"DROP TABLE IF EXISTS ${id.quotedString}")
    Lake.deleteRecursively(new java.io.File(
      spark.sessionState.catalog.defaultTablePath(id).getPath))
  }

  /** A Hive-metastore-backed session whose catalog persists at
    * `metastoreDir` across session restarts (the Glue-like durable
    * catalog). Derby-embedded, so one process at a time — the same
    * constraint a local Hive metastore has. */
  def persistentSession(master: String, warehouseDir: String,
      metastoreDir: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir/metastore_db;create=true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .enableHiveSupport()
      .getOrCreate()
}
