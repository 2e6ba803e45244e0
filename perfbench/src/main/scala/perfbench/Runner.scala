package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import Main.{Call, Opts, Pass}

/** Set-up, the warm-up pass, the timed passes with their correctness
  * check, and the metrics of one run. */
final class Runner(spark: SparkSession, o: Opts, workload: Workload,
    cores: Int) {
  private val queries = workload.queries
  private val sc = spark.sparkContext
  private val modules = queries.map(q => q -> Workloads.module(q)).toMap
  private val scratchRoots = Seq(new File(sys.props("java.io.tmpdir")),
    new File(o.warehouse))
  private val stored =
    if (o.record) Map.empty[String, Fingerprint] else Fingerprint.load(o.fingerprints)
  private val recorded = Map.newBuilder[String, Fingerprint]
  private val mismatches = Map.newBuilder[String, String]
  // Epoch milliseconds of a nanoTime reading, to line spans up with the
  // listener's event times.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  /** One call: build, plan and exec, each under its own job group when
    * traced. With `check`, the result is then compared with its stored
    * fingerprint, outside the timed region; a mismatch fails the call.
    * Returns with the session isolated from the next call. */
  private def call(pass: Int, q: String, traced: Boolean,
      check: Boolean): Call = {
    val phases = Seq.newBuilder[(String, Long, Long)]
    def phase[T](name: String)(body: => T): T = {
      if (traced) sc.setJobGroup(s"$pass|$q|$name", name)
      val s = System.nanoTime()
      val r = body
      phases += ((name, s, System.nanoTime()))
      r
    }
    val start = System.nanoTime()
    val df =
      try {
        val df = phase("build")(SparkEntry.queries(q)(spark, o.data))
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(df.write.format("noop").mode("overwrite").save())
        Some(df)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: ${message(e)}")
          None
      } finally if (traced) sc.clearJobGroup()
    val end = System.nanoTime()
    if (traced) sc.setJobGroup("harness", "check and isolate")
    val ok = df.exists(d => !check || verify(q, d))
    isolate()
    if (traced) sc.clearJobGroup()
    Call(q, modules(q), start, end, phases.result(), ok)
  }

  /** Compares a result with its stored fingerprint, or records it. */
  private def verify(q: String, df: DataFrame): Boolean =
    try {
      val fp = Fingerprint.of(df)
      if (o.record) { recorded += q -> fp; true }
      else if (stored.get(q).contains(fp)) true
      else {
        mismatches += q -> s"fingerprint $fp != stored ${stored.get(q)}"
        false
      }
    } catch {
      case e: Throwable =>
        mismatches += q -> s"fingerprint threw: ${message(e)}"
        false
    }

  /** Undo what a call left in the session, outside the timed region:
    * cached relations, temp views, running streams and persisted RDDs
    * (removed blocking, so removal does not bleed into the next call). */
  private def isolate(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private def scratchBytes(): Long = scratchRoots.map(dirBytes).sum

  /** One pass in the seed's order. Its time is the sum of its call
    * latencies: the harness's checks and isolation between calls are not
    * the program's time. */
  private def pass(index: Int, traced: Boolean, check: Boolean): Pass = {
    val order = new Random(o.seed * 7919 + index).shuffle(queries)
    val before = scratchBytes()
    val calls = order.map(q => call(index, q, traced, check))
    Pass(index, traced, calls.map(_.latency).sum, calls,
      scratchBytes() - before)
  }

  def go(): Unit = {
    val sessionMs = System.currentTimeMillis()
    // Untimed warm-up: every query once through the same calls as the
    // timed passes, so these do not pay for class loading and the first
    // compilations (a cold call runs 2-3x slower than a warm one). The
    // first timed pass is still 10-20% slower than the ones after it, the
    // JIT still compiling.
    val warm = pass(-1, traced = false, check = false)
    val readyMs = System.currentTimeMillis()
    val setupS = (readyMs - o.t0Ms) / 1e3
    val setupNote = f"session ${(sessionMs - o.t0Ms) / 1e3}%.2f s, " +
      f"warm-up ${(readyMs - sessionMs) / 1e3}%.2f s (" +
      warm.calls.map(c => f"${c.query} ${c.latency}%.2f").mkString(" ") + ")"
    val tracer = if (o.trace) Some(new Tracer(spark, cores)) else None
    val passes = Seq.newBuilder[Pass]
    // A fixed amount of work: one pass per nominal pass time of the
    // workload in the measuring time, at least the workload's minimum.
    // Every run of a workload then makes the same calls, and a faster
    // commit gets no extra passes. A traced run alternates untraced and
    // traced passes in whole U T T U rounds, so that drift cancels out of
    // the tracing overhead; it makes as many whole rounds as fit, at least
    // one. Every result is checked once, in the first timed pass.
    val fit = math.max(workload.minPasses,
      math.round(o.seconds / workload.nominalPassS).toInt)
    val pattern = if (o.trace) Seq(false, true, true, false) else Seq(false)
    val planned = math.max(1, fit / pattern.size) * pattern.size
    (0 until planned).foreach { i =>
      val traced = pattern(i % pattern.size)
      tracer.filter(_ => traced).foreach(_.start())
      val p = pass(i, traced, check = i == 0)
      tracer.filter(_ => traced).foreach(_.stop(p, epochMs))
      passes += p
    }
    if (o.record) Fingerprint.save(o.fingerprints, recorded.result())
    // Full collections with pauses between them, so that the blocks of
    // collected broadcasts and RDDs are also removed by Spark's cleaner.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    new Report(o, setupS, setupNote, passes.result(), heapMb,
      mismatches.result(), tracer.map(_.results).getOrElse(Nil)).write()
  }
}
