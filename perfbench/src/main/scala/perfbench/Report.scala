package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import Main.{Opts, Pass}

/** Turns a run's passes into its metrics: end-to-end metrics for an
  * untraced run, per-layer metrics for a traced one. Prints each metric by
  * name with its unit and writes the result object for the launcher. */
final class Report(o: Opts, setupS: Double, setupNote: String,
    passes: Seq[Pass], heapMb: Double, mismatches: Map[String, String],
    traced: Seq[TracedPass]) {
  import Report._
  import Json.{num, obj, str}

  private val calls = passes.flatMap(_.calls)
  private val failed = calls.count(!_.ok)
  private val untraced = passes.filterNot(_.traced)
  private val info = Seq.newBuilder[(String, String)]

  private def endToEnd: Seq[(String, Double, String)] = {
    info += "setup_s" -> setupNote
    val passS = untraced.map(_.seconds)
    val (q1, _, q3) = quartiles(passS)
    info += "pass_s" -> (f"median of ${passS.size} passes, quartiles $q1%.4f..$q3%.4f s; " +
      passS.map(x => f"$x%.3f").mkString("passes ", " ", " s"))
    val lat = untraced.flatMap(_.calls).map(_.latency)
    // A run has too few calls for a percentile with ten calls beyond it
    // above the median, so the tail is each pass's slowest call, taken
    // as the median over the passes.
    val slowest = untraced.map(_.calls.map(_.latency).max)
    info += "latency_tail_s" ->
      s"median over ${slowest.size} passes of the slowest call, ${lat.size} calls"
    info += "fail_ratio" -> s"${failed.toDouble / calls.size} ($failed of ${calls.size} calls)"
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(passS), "s"),
      ("latency_p50_s", median(lat), "s"),
      ("latency_tail_s", median(slowest), "s"),
      ("ok_ratio", 1.0 - failed.toDouble / calls.size, "ratio"),
      ("heap_retained_mb", heapMb, "MB"))
  }

  private def perLayer: Seq[(String, Double, String)] = {
    val names = traced.head.layers.keys.toSeq.sorted
    val exactRepeat = traced.map(_.exact).distinct.size == 1
    info += "exact_counters" -> Tracer.exactCounters.mkString(" ")
    info += "exact_repeat" -> s"$exactRepeat over ${traced.size} traced passes"
    traced.head.exact.keys.toSeq.sorted
      .filter(q => traced.map(_.exact(q)).distinct.size > 1)
      .foreach(q => info += s"exact_differs.$q" ->
        traced.map(_.exact(q).mkString("/")).mkString(" vs "))
    traced.flatMap(_.unattributed).take(8).zipWithIndex.foreach { case (j, i) =>
      info += s"unattributed.$i" -> j.toString }
    val gaps = passes.filter(_.traced).flatMap(_.calls)
      .map(c => c.latency - c.phaseSum)
    info += "phase_gap_max_s" -> f"${gaps.max}%.6f (largest of ${gaps.size} traced calls)"
    val tracedS = median(passes.filter(_.traced).map(_.seconds))
    val plainS = median(untraced.map(_.seconds))
    names.map(n => (n, median(traced.map(_.layers(n))), unit(n))) ++ Seq(
      ("trace.pass_s", tracedS, "s"),
      ("trace.untraced_pass_s", plainS, "s"),
      ("trace.overhead_s", tracedS - plainS, "s"))
  }

  def write(): Unit = {
    val metrics = if (o.trace) perLayer else endToEnd
    calls.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, cs) =>
      info += s"query.$q" -> (f"median ${median(cs.map(_.latency))}%.4f s " +
        f"(build ${median(cs.map(_.phase("build")))}%.4f, " +
        f"plan ${median(cs.map(_.phase("plan")))}%.4f, " +
        f"exec ${median(cs.map(_.phase("exec")))}%.4f) over ${cs.size} calls")
    }
    passes.foreach { p =>
      info += s"pass.${p.index}" ->
        p.calls.map(c => f"${c.query} ${c.latency}%.3f").mkString(" ")
    }
    metrics.foreach { case (n, v, u) => println(s"$n $v $u") }
    val result = info.result()
    result.foreach { case (k, v) => println(s"# $k: $v") }
    mismatches.foreach { case (q, m) => println(s"# mismatch $q: $m") }
    val json = obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> calls.size.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "info" -> obj(result.map { case (k, v) => k -> str(v) })))
    Files.write(Paths.get(o.out), json.getBytes(UTF_8))
    o.spans.foreach { f =>
      Files.write(Paths.get(f), traced.flatMap(_.spans)
        .mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}

object Report {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    val (lo, hi) = s.splitAt(s.size / 2)
    (median(if (lo.isEmpty) s else lo), median(s),
      median(if (s.size % 2 == 1) hi.drop(1) else hi))
  }

  def unit(name: String): String = name match {
    case n if n.endsWith("_s") || n.endsWith(".s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith(".util") || n.endsWith("_amp") => "ratio"
    case _ => "count"
  }
}

/** Just enough JSON writing for the result object and the span lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
