package graft
/** Scratch diagnostic: time one query (or a comma list) 3 times with
  * phase breakdown, in Bench's session. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
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
