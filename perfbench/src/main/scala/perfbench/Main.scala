package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run: a named workload replayed in passes by one client
  * thread in a closed loop on `local[nproc]`. Every call is timed in three
  * phases from outside the engine: build (the query function returns a
  * DataFrame), plan (`executedPlan`) and exec (a `noop` write).
  *
  * Set-up is session start plus one untimed warm-up pass. Each query's
  * result is checked against its stored fingerprint once a run, in the
  * first timed pass, outside the timed region. With `--trace 1` the timed
  * passes alternate untraced and traced; traced passes attribute every
  * Spark job, stage and task to its call and phase, and report per-layer
  * numbers.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --warehouse DIR --fingerprints FILE --out FILE --t0-ms EPOCH_MS
  *        [--spans FILE] [--record]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, warehouse: String, fingerprints: String,
      out: String, spans: Option[String], t0Ms: Long, record: Boolean)

  /** One timed call: its span and its build, plan and exec spans, in
    * `System.nanoTime`. The call span minus its phases is the per-call
    * bookkeeping (setting job groups when traced). */
  final case class Call(query: String, module: String,
      start: Long, end: Long, phases: Seq[(String, Long, Long)],
      ok: Boolean) {
    def latency: Double = (end - start) / 1e9
    def phase(name: String): Double =
      phases.collect { case (`name`, s, e) => (e - s) / 1e9 }.sum
    def phaseSum: Double = phases.map { case (_, s, e) => (e - s) / 1e9 }.sum
  }

  final case class Pass(index: Int, traced: Boolean, seconds: Double,
      calls: Seq[Call], scratchBytes: Long)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--data"),
      need("--warehouse"), need("--fingerprints"), need("--out"),
      kv.get("--spans"), need("--t0-ms").toLong,
      args.contains("--record"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val queries = workload.queries
    require(queries.forall(SparkEntry.queries.contains),
      s"unknown queries: ${queries.filterNot(SparkEntry.queries.contains)}")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.warehouse)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Keep Spark's own status store near empty so the retained heap
      // shows what the engine keeps, not which plans ran last.
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Runner(spark, o, workload, cores)
    try run.go()
    finally spark.stop()
  }
}

/** A workload: its queries, its warm pass time on the 4-vCPU machine the
  * benchmark was sized on, and the fewest timed passes a run makes, which
  * together set how many passes a run makes. */
final case class Workload(queries: Seq[String], nominalPassS: Double,
    minPasses: Int)

/** The workloads. A query's module is the package of the object whose
  * `queries` map holds it, read off the query function's class. */
object Workloads {
  // An odd number of queries each, so the median call sits inside one
  // query's latencies rather than between two. That query is called once
  // a pass, so the pass count is its sample count: e2_containment's calls
  // vary by about 15% from one to the next, more than the lake's median
  // call, so llm_pipeline makes more passes.
  val all: Map[String, Workload] = Map(
    "lake" -> Workload(Seq(
      "q3_shipping", "s5_catalog_sql", "s9_jdbc", "s15_recrawl_update",
      "ev11_stream_dedup"), nominalPassS = 5.0, minPasses = 3),
    "llm_pipeline" -> Workload(Seq(
      "e2_cluster_cc", "e2_minhash_neardup", "e2_containment"),
      nominalPassS = 6.5, minPasses = 4))

  val modules: Seq[String] =
    Seq("operators", "ext", "lake", "sources", "streaming", "functions")

  def module(query: String): String = {
    val cls = SparkEntry.queries(query).getClass.getName
    modules.find(m => cls.startsWith(s"graft.$m.")).getOrElse("other")
  }
}
