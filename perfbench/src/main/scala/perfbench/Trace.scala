package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-task counters summed over a set of tasks. */
final case class TaskSums(
    tasks: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    input: Long = 0, output: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(
    tasks + o.tasks, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, input + o.input, output + o.output)
}

/** One Spark job as the listener saw it. `frame` is the first graft frame
  * of its final stage's call site (empty when the job was submitted from
  * a pool thread, as AQE stage jobs are). */
final case class JobSpan(
    id: Int, group: Option[String], execId: Option[Long],
    startMs: Long, endMs: Long, frame: String,
    stages: Int, sums: TaskSums, succeeded: Boolean)

/** Records every job, stage and task of one traced pass. Spark delivers
  * events on its listener bus thread, so all state is guarded by `this`. */
final class JobListener extends SparkListener {
  private final class Open(val id: Int, val group: Option[String],
      val execId: Option[Long], val startMs: Long, val frame: String) {
    var stagesRun = 0
    var sums = TaskSums()
  }
  private val open = mutable.Map[Int, Open]()
  private val done = mutable.ArrayBuffer[JobSpan]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execStart = mutable.Map[Long, Long]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val frame = last.toSeq.flatMap(_.details.split('\n'))
      .map(_.trim).find(l => l.startsWith("graft.")).getOrElse("")
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
    open(e.jobId) = new Open(e.jobId,
      prop(e.properties, "spark.jobGroup.id"),
      prop(e.properties, "spark.sql.execution.id").map(_.toLong),
      e.time, frame)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(open.get)
        .foreach(_.stagesRun += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = if (m == null) TaskSums(tasks = 1) else TaskSums(
      1, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
    stageJob.get(e.stageId).flatMap(open.get).foreach(j => j.sums = j.sums + s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      done += JobSpan(j.id, j.group, j.execId, j.startMs, e.time, j.frame,
        j.stagesRun, j.sums, e.jobResult == JobSucceeded)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execStart(s.executionId) = s.time }
    case _ =>
  }

  /** Every job this listener saw start has ended. */
  def quiet: Boolean = synchronized { open.isEmpty }

  /** Jobs finished so far with the SQL execution start times seen, and
    * the state cleared for the next pass. */
  def drain(): (Seq[JobSpan], Map[Long, Long]) = synchronized {
    val r = (done.toList, execStart.toMap)
    done.clear(); execStart.clear(); stageJob.clear()
    r
  }
}

/** Micro-batch progress of every streaming query in a traced pass. */
final class StreamListener extends StreamingQueryListener {
  private var running = 0
  private val batches = mutable.ArrayBuffer[(Long, Long)]()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { running += 1 }
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
    batches += ((at, e.progress.batchDuration))
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { running -= 1 }

  def quiet: Boolean = synchronized { running <= 0 }

  /** (progress time in epoch ms, batch duration in ms) per micro-batch. */
  def drain(): Seq[(Long, Long)] = synchronized {
    val r = batches.toList
    batches.clear()
    r
  }
}

/** Per-layer figures of one traced pass, and the exact counters of each
  * query for the repeatability self-check. */
final case class TracedPass(layers: Map[String, Double],
    exact: Map[String, Seq[Long]], unattributed: Seq[JobSpan],
    spans: Seq[String])

/** Installs the listeners for a traced pass and turns what they saw into
  * per-layer figures. Every job is attributed to a (call, phase) span: by
  * its job group; failing that by its SQL execution id (AQE stage jobs
  * are submitted from pool threads that carry no group); failing that by
  * the span its start time falls in. */
final class Tracer(spark: org.apache.spark.sql.SparkSession, cores: Int) {
  import Tracer._
  private val sc = spark.sparkContext
  private val jobs = new JobListener
  private val streams = new StreamListener
  private val passes = mutable.ArrayBuffer[TracedPass]()

  def results: Seq[TracedPass] = passes.toList

  private def drainBus(): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    do org.apache.spark.ListenerBusDrain(sc)
    while (!(jobs.quiet && streams.quiet) && System.nanoTime() < deadline)
  }

  def start(): Unit = {
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  def stop(p: Main.Pass, epochMs: Long => Double): Unit = {
    drainBus()
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    val (seen, execStart) = jobs.drain()
    passes += summarise(p, seen, execStart, streams.drain(), epochMs)
  }

  private def summarise(p: Main.Pass, seen: Seq[JobSpan],
      execStart: Map[Long, Long], batches: Seq[(Long, Long)],
      epochMs: Long => Double): TracedPass = {
    val spans = for (c <- p.calls; (ph, s, e) <- c.phases)
      yield Span(s"${p.index}|${c.query}|$ph", c.query, ph,
        epochMs(s), epochMs(e))
    val byKey = spans.map(s => s.key -> s).toMap
    def at(ms: Double) = spans.find(s => s.startMs - 1 <= ms && ms <= s.endMs + 1)
    val groupOfExec = seen.flatMap(j =>
      for (g <- j.group if byKey.contains(g); x <- j.execId) yield x -> g).toMap
    def owner(j: JobSpan): Option[Span] =
      j.group.flatMap(byKey.get)
        .orElse(j.execId.flatMap(groupOfExec.get).flatMap(byKey.get))
        .orElse(j.execId.flatMap(execStart.get).flatMap(t => at(t.toDouble)))
        .orElse(at(j.startMs.toDouble))
    // The harness's own jobs between calls are neither program nor lost.
    val owned = seen.filterNot(_.group.contains("harness")).map(j => j -> owner(j))
    val jobsOf: Map[String, Seq[JobSpan]] = owned
      .collect { case (j, Some(s)) => s.key -> j }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def phaseSpans(ph: String) = spans.filter(_.phase == ph)
    def phaseJobs(ph: String) = phaseSpans(ph).flatMap(s => jobsOf.getOrElse(s.key, Nil))
    def secs(ph: String) = phaseSpans(ph).map(s => (s.endMs - s.startMs) / 1e3).sum
    def sums(js: Seq[JobSpan]) = js.map(_.sums).foldLeft(TaskSums())(_ + _)
    def dur(js: Seq[JobSpan]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    // Phase self time: the part of its span no child job covers.
    def selfS(ph: String) = phaseSpans(ph).map { s =>
      val covered = union(jobsOf.getOrElse(s.key, Nil)
        .map(j => (math.max(j.startMs.toDouble, s.startMs),
          math.min(j.endMs.toDouble, s.endMs))))
      (s.endMs - s.startMs - covered) / 1e3
    }.sum
    val allJobs = owned.collect { case (j, Some(_)) => j }
    val infer = allJobs.filter(j => isInference(j.frame))
    val ex = sums(phaseJobs("exec"))
    val all = sums(allJobs)
    val execS = secs("exec")
    val mb = 1048576.0
    val modules = Workloads.modules.flatMap { m =>
      val calls = p.calls.filter(_.module == m)
      val qs = calls.map(_.query).toSet
      Seq(s"$m.s" -> calls.map(_.latency).sum,
        s"$m.jobs" -> spans.filter(s => qs(s.query))
          .map(s => jobsOf.getOrElse(s.key, Nil).size).sum.toDouble)
    }
    val layers = Map(
      "tables.infer_jobs" -> infer.size.toDouble,
      "tables.infer_s" -> dur(infer),
      "build.s" -> secs("build"),
      "build.jobs" -> phaseJobs("build").size.toDouble,
      "build.job_s" -> dur(phaseJobs("build")),
      "build.self_s" -> selfS("build"),
      "plan.s" -> secs("plan"),
      "exec.s" -> execS,
      "exec.jobs" -> phaseJobs("exec").size.toDouble,
      "exec.stages" -> phaseJobs("exec").map(_.stages).sum.toDouble,
      "exec.tasks" -> ex.tasks.toDouble,
      "exec.cpu_s" -> ex.cpuNs / 1e9,
      "exec.gc_s" -> ex.gcMs / 1e3,
      "exec.util" -> (if (execS > 0) ex.cpuNs / 1e9 / (execS * cores) else 0.0),
      "exec.shuffle_write_mb" -> ex.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> ex.shuffleRead / mb,
      "exec.spill_mb" -> ex.spill / mb,
      "exec.input_mb" -> ex.input / mb,
      "exec.output_mb" -> ex.output / mb,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_s" -> batches.map(_._2).sum / 1e3,
      "lake.write_amp" ->
        (if (all.input > 0) all.output.toDouble / all.input else 0.0),
      "io.scratch_mb" -> p.scratchBytes / mb,
      "trace.phase_gap_s" -> p.calls.map(c => c.latency - c.phaseSum).sum,
      "trace.unattributed_jobs" -> owned.count(_._2.isEmpty).toDouble,
    ) ++ modules
    val exact = p.calls.map(_.query).distinct.map { q =>
      val js = spans.filter(_.query == q).flatMap(s => jobsOf.getOrElse(s.key, Nil))
      val t = sums(js)
      q -> Seq(js.size.toLong, js.map(_.stages).sum.toLong, t.tasks,
        t.input, t.output)
    }.toMap
    // The span tree as JSON lines: call -> build/plan/exec -> job.
    def line(q: String, span: String, parent: String, s: Double, e: Double,
        extra: Seq[(String, String)] = Nil) = Json.obj(Seq(
      "pass" -> p.index.toString, "query" -> Json.str(q),
      "span" -> Json.str(span), "parent" -> Json.str(parent),
      "start_ms" -> Json.num(s), "end_ms" -> Json.num(e)) ++ extra)
    val tree = p.calls.flatMap { c =>
      line(c.query, "call", "", epochMs(c.start), epochMs(c.end)) +:
        spans.filter(_.query == c.query).flatMap { s =>
          line(c.query, s.phase, "call", s.startMs, s.endMs) +:
            jobsOf.getOrElse(s.key, Nil).map { j =>
              line(c.query, s"job ${j.id}", s.phase, j.startMs, j.endMs, Seq(
                "stages" -> j.stages.toString,
                "tasks" -> j.sums.tasks.toString,
                "cpu_s" -> Json.num(j.sums.cpuNs / 1e9),
                "shuffle_write_bytes" -> j.sums.shuffleWrite.toString,
                "shuffle_read_bytes" -> j.sums.shuffleRead.toString,
                "input_bytes" -> j.sums.input.toString,
                "output_bytes" -> j.sums.output.toString,
                "succeeded" -> j.succeeded.toString,
                "frame" -> Json.str(j.frame)))
            }
        }
    }
    TracedPass(layers, exact, owned.collect { case (j, None) => j }, tree)
  }
}

object Tracer {
  final case class Span(key: String, query: String, phase: String,
      startMs: Double, endMs: Double)

  /** Counters that should repeat exactly for one seed on one commit: they
    * count work, not time. The repeatability self-check compares these.
    * Shuffle bytes are left out: compressed blocks of rows that arrive in
    * a different order differ by a few bytes between passes. */
  val exactCounters: Seq[String] = Seq(
    "tables.infer_jobs", "build.jobs", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.input_mb", "exec.output_mb", "streaming.batches") ++
    Workloads.modules.map(m => s"$m.jobs")

  /** Schema inference and registration: jobs whose call site is the
    * catalog layer (`graft.Tables`, `lake.Catalog`, `Lake.register`). */
  def isInference(frame: String): Boolean =
    frame.contains("(Tables.scala:") || frame.contains("(Catalog.scala:") ||
      frame.startsWith("graft.lake.Lake$.register")

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double =
    iv.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((tot, reach), (s, e)) =>
        if (e <= reach) (tot, reach)
        else (tot + e - math.max(s, reach), e)
      }._1
}
