package graft
import org.apache.spark.sql.SparkSession
/** Scratch diagnostic: time one query (or a comma list) N times with
  * phase breakdown. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // mirror Bench's replay coarsening so phase re-times are comparable
    System.setProperty("graft.replay.coarsen",
      Bench.clampCoarsen(sys.env.get("SPARK_GRAFT_REPLAY_COARSEN")))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"$name run $i: build=${(t1-t0)/1e9}%.2f plan=${(t2-t1)/1e9}%.2f exec=${(t3-t2)/1e9}%.2f")
        spark.catalog.clearCache() // the Bench discipline between queries
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true)) // outside the timed phases
      }
    }
    spark.stop()
  }
}
