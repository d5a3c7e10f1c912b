package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Runs one workload: set-up several times, then repetitions for the given
  * seconds, then one correctness check on the last repetition's outputs.
  *
  * One client thread issues every call and waits for it to return (a
  * closed loop with one client). With `--trace 1` half the repetitions
  * are traced and half not, so the run reports the tracing overhead next
  * to the per-layer metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --cores <n>
  * The result goes to `<dir>/result.json`, the spans of a traced run to
  * `<dir>/trace.json` (Chrome trace-event format). */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = Workloads(opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}"))
    val work = new File(opts("work"))
    work.mkdirs()
    val run = new Harness(workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work, opts("cores").toInt)
    val result = run.execute()
    val out = new java.io.PrintWriter(new File(work, "result.json"))
    try out.println(result) finally out.close()
    System.exit(0)
  }
}

final class Harness(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                    work: File, cores: Int) {
  private val tracer = new Tracer
  private val listener = if (trace) Some(new EngineListener) else None
  private val errors = ArrayBuffer.empty[String]
  private var spark: SparkSession = _

  /** Every span that is not a repetition root is one attempted call. */
  private def attempted: Int = tracer.spans.count(s => !Harness.RepNames(s.name))

  private def repetition(name: String): Option[(Span, Rep)] = {
    val first = tracer.spans.size
    try {
      val r = tracer.span(name) { workload.rep(spark, tracer) }
      Some(tracer.spans(first) -> r)
    } catch {
      case NonFatal(e) =>
        val call = tracer.spans.drop(first + 1).lastOption.fold(name)(_.name)
        errors += s"$call threw ${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  def execute(): String = {
    val t0 = Clock.ms
    def phase(what: String): Unit =
      System.err.println(f"[graftbench] $what done at ${(Clock.ms - t0) / 1e3}%.1f s")
    workload.prepare(seed, work)
    phase("input generation")

    val setups = ArrayBuffer.empty[Double]
    val derivedBuilds = ArrayBuffer.empty[Double]
    for (i <- 0 until Main.Setups) {
      workload.resetCaches()
      val builtBefore = graft.core.Derived.buildTimes.values.sum
      val start = Clock.ms
      spark = tracer.span("core.GraftSession.get") { GraftSession.get(cores.toString) }
      tracer.sc = Some(spark.sparkContext)
      listener.foreach(spark.sparkContext.addSparkListener)
      repetition("setup").foreach(_._2.release())
      setups += (Clock.ms - start) / 1e3
      derivedBuilds += graft.core.Derived.buildTimes.values.sum - builtBefore
      if (i < Main.Setups - 1) spark.stop()
    }

    phase(s"set-up (${setups.map(x => f"$x%.2f").mkString(", ")} s)")
    // The first repetition after a set-up is the slowest of the run by a
    // margin no ordering cancels; a traced run leaves it out of the ratio.
    if (trace) repetition("warmup").foreach(_._2.release())
    val reps = ArrayBuffer.empty[(Span, Rep)]
    val deadline = Clock.ms + seconds * 1e3
    var started = 0
    // A traced run orders its repetitions traced, untraced, untraced,
    // traced (repeated), so a warm-up trend cancels out of the overhead ratio.
    while (started < Harness.MinReps || Clock.ms < deadline || (trace && started % 4 != 0)) {
      val traced = trace && (started % 4 == 0 || started % 4 == 3)
      tracer.linkJobs = traced
      listener.foreach(_.recording = traced)
      // release the previous outputs first: a cached frame left behind
      // would serve the next repetition's load from memory
      reps.lastOption.foreach(_._2.release())
      reps ++= repetition(if (traced) "rep" else "rep.untraced")
      started += 1
    }
    tracer.linkJobs = false
    listener.foreach(_.recording = false)

    phase(s"measurement (${reps.map(x => f"${x._1.seconds}%.2f").mkString(", ")} s)")
    // correctness, once per run, outside every timed region
    var failed = errors.size
    reps.lastOption.foreach { case (_, rep) =>
      val bad = try rep.check() catch { case NonFatal(e) => Seq(s"check threw $e") }
      errors ++= bad
      failed += bad.size
    }
    reps.lastOption.foreach(_._2.release())
    if (reps.isEmpty) errors += "no repetition completed"
    errors.foreach(e => System.err.println(s"[graftbench] FAIL $e"))
    phase("check")

    val metrics =
      if (!trace) Harness.endToEnd(reps.toSeq, setups.toSeq, tracer)
      else {
        org.apache.spark.GraftbenchAccess.drainListenerBus(spark.sparkContext)
        val l = listener.get
        val layer = new LayerMetrics(tracer, l, cores)
        TraceFile.write(new File(work, "trace.json"), tracer, l)
        layer.all(reps.toSeq, derivedBuilds.toSeq)
      }
    spark.stop()

    val n = attempted
    val fields = metrics.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$unit"}"""
    }
    s"""{"correct": ${errors.isEmpty}, "attempted": $n, "failed": ${math.min(failed, n)}, """ +
      s""""reps": ${reps.size}, "metrics": {${fields.mkString(", ")}}}"""
  }
}

object Harness {
  val RepNames = Set("setup", "warmup", "rep", "rep.untraced")
  /** Repetitions measured even when they overrun `--seconds`, so the
    * median always has a middle. */
  val MinReps = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  def endToEnd(reps: Seq[(Span, Rep)], setups: Seq[Double],
               tracer: Tracer): Seq[(String, (Double, String))] = {
    // median seconds of each call name across the repetitions
    val calls = reps.flatMap(r => tracer.children(r._1)).groupBy(_.name).values
      .map(v => median(v.map(_.seconds))).filter(_ > 0)
    val geomean = if (calls.isEmpty) 0.0 else math.exp(calls.map(math.log).sum / calls.size)
    Seq(
      "run_s" -> (median(reps.map(_._1.seconds)) -> "s"),
      "setup_s" -> (median(setups) -> "s"),
      "call_geomean_s" -> (geomean -> "s"),
    )
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
