package graftbench

import java.io.{File, PrintWriter}

import Harness.{median, percentile}

/** Per-layer metrics of a traced run, computed from the call spans and the
  * jobs, stages and tasks the listener saw. Each value is the median over
  * the traced repetitions unless its name says otherwise. Every workload
  * reports every metric; a layer a workload does not call reads 0. */
final class LayerMetrics(tracer: Tracer, l: EngineListener, cores: Int) {

  /** Jobs a repetition started: those whose job group names one of its
    * spans, plus group-less jobs that started inside it. */
  private def jobsOf(rep: Span): Seq[JobRec] = {
    val ids = tracer.children(rep).map(_.id).toSet + rep.id
    l.jobs.toSeq.filter(j => j.span match {
      case Some(s) => ids(s)
      case None => j.start >= rep.start && j.start <= rep.end
    })
  }

  /** Length of the union of the intervals, clipped to [lo, hi], in ms. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Seconds of `call` not covered by the Spark jobs it started: driver-side
    * planning, result handling and scheduling waits. */
  private def selfSeconds(call: Span): Double = {
    val jobs = l.jobs.toSeq.filter(_.span.contains(call.id))
    (call.end - call.start - covered(jobs.map(j => (j.start.toDouble, j.end.toDouble)),
      call.start, call.end)) / 1e3
  }

  def all(reps: Seq[(Span, Rep)], derivedBuilds: Seq[Double]): Seq[(String, (Double, String))] = {
    val traced = reps.filter(_._1.name == "rep")
    val untraced = reps.filter(_._1.name == "rep.untraced")
    def perRep(f: (Span, Rep) => Double): Double = median(traced.map { case (s, r) => f(s, r) })
    def callSeconds(s: Span, p: Span => Boolean): Double =
      tracer.children(s).filter(p).map(_.seconds).sum
    def named(n: String)(s: Span, r: Rep): Double = callSeconds(s, _.name == n)
    def layer(n: String)(s: Span, r: Rep): Double = callSeconds(s, _.layer == n)
    def layerSelf(n: String)(s: Span, r: Rep): Double =
      tracer.children(s).filter(_.layer == n).map(selfSeconds).sum

    val loops = Set("graph.PageRank", "graph.Sssp", "graph.ConnectedComponents")
    val steps = traced.flatMap(_._2.supersteps)

    def stagesOf(rep: Span): Seq[StageRec] = {
      val jobIds = jobsOf(rep).map(_.id).toSet
      l.stages.toSeq.filter(s => jobIds(s.job))
    }
    def tasks(rep: Span)(f: TaskTotals => Long): Double =
      stagesOf(rep).flatMap(s => l.taskTotals.get(s.id)).map(f).sum.toDouble

    val session = tracer.spans.filter(_.name == "core.GraftSession.get").map(_.seconds)
    val heapPeak = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
    val tracedRun = median(traced.map(_._1.seconds))
    val untracedRun = median(untraced.map(_._1.seconds))

    val queryMetrics = QueryMix.Queries.map(_.module).distinct.map { m =>
      s"operators.${m}_s" -> (perRep((s, _) => callSeconds(s, _.name.startsWith(s"operators.$m."))) -> "s")
    } ++ QueryMix.Queries.map { q =>
      s"query.${q.short}_s" -> (perRep(named(q.span)) -> "s")
    }

    Seq(
      "core.session_s" -> (median(session.toSeq) -> "s"),
      "core.derived_build_s" -> (median(derivedBuilds) -> "s"),
      "io.load_s" -> (perRep(layer("io")) -> "s"),
      "io.self_s" -> (perRep(layerSelf("io")) -> "s"),
      "io.edges_loaded" -> (perRep((_, r) => r.edgesLoaded.toDouble) -> "count"),
      "graph.pagerank_s" -> (perRep(named("graph.PageRank")) -> "s"),
      "graph.triangles_s" -> (perRep(named("graph.GraphOps.triangleCountViaIntersect")) -> "s"),
      "graph.sssp_s" -> (perRep(named("graph.Sssp")) -> "s"),
      "graph.cc_s" -> (perRep(named("graph.ConnectedComponents")) -> "s"),
      "graph.self_s" -> (perRep(layerSelf("graph")) -> "s"),
      "graph.supersteps" -> (perRep((_, r) => r.supersteps.size.toDouble) -> "count"),
      "graph.superstep_p50_s" -> (median(steps) -> "s"),
      "graph.superstep_p95_s" -> (percentile(steps, 0.95) -> "s"),
      "graph.edges_per_s" -> (perRep { (s, r) =>
        val secs = callSeconds(s, c => loops(c.name))
        if (secs > 0) r.edgeSteps / secs else 0.0
      } -> "1/s"),
      "operators.self_s" -> (perRep(layerSelf("operators")) -> "s"),
    ) ++ queryMetrics ++ Seq(
      "spark.jobs" -> (perRep((s, _) => jobsOf(s).size.toDouble) -> "count"),
      "spark.stages" -> (perRep((s, _) => stagesOf(s).size.toDouble) -> "count"),
      "spark.tasks" -> (perRep((s, _) => tasks(s)(_.tasks)) -> "count"),
      "spark.jobs_per_superstep" -> (perRep { (s, r) =>
        val loopIds = tracer.children(s).filter(c => loops(c.name)).map(_.id).toSet
        val loopJobs = l.jobs.count(_.span.exists(loopIds))
        if (r.supersteps.nonEmpty) loopJobs.toDouble / r.supersteps.size else 0.0
      } -> "ratio"),
      "spark.task_s" -> (perRep((s, _) => tasks(s)(_.runMs) / 1e3) -> "s"),
      "spark.busy_ratio" -> (perRep((s, _) => tasks(s)(_.runMs) / 1e3 / (cores * s.seconds)) -> "ratio"),
      "spark.driver_gap_s" -> (perRep { (s, _) =>
        val active = covered(stagesOf(s).map(x => (x.submit.toDouble, x.complete.toDouble)), s.start, s.end)
        (s.end - s.start - active) / 1e3
      } -> "s"),
      "spark.shuffle_write_bytes" -> (perRep((s, _) => tasks(s)(_.shuffleWrite)) -> "B"),
      "spark.shuffle_read_bytes" -> (perRep((s, _) => tasks(s)(_.shuffleRead)) -> "B"),
      "spark.spill_bytes" -> (perRep((s, _) => tasks(s)(_.spill)) -> "B"),
      "spark.gc_s" -> (perRep((s, _) => tasks(s)(_.gcMs) / 1e3) -> "s"),
      "spark.failed_tasks" -> (perRep((s, _) => tasks(s)(_.failed)) -> "count"),
      "jvm.heap_peak_mb" -> (heapPeak -> "MB"),
      "trace.run_s" -> (tracedRun -> "s"),
      "trace.untraced_run_s" -> (untracedRun -> "s"),
      "trace.overhead_ratio" -> ((if (untracedRun > 0) tracedRun / untracedRun else 0.0) -> "ratio"),
    )
  }
}

/** Writes the spans, jobs and stages of a traced run in the Chrome
  * trace-event format (chrome://tracing, Perfetto): calls on one track,
  * the jobs and stages they started on two more. `args.parent` links a
  * span to its parent; a job's parent is the span whose job group it ran
  * under. */
object TraceFile {
  def write(file: File, tracer: Tracer, l: EngineListener): Unit = {
    def event(name: String, tid: Int, start: Double, end: Double, args: String) =
      s"""{"name": ${Json.str(name)}, "ph": "X", "pid": 1, "tid": $tid, """ +
        s""""ts": ${Json.num(math.rint(start * 1e3))}, "dur": ${Json.num(math.rint((end - start) * 1e3))}, "args": {$args}}"""
    val events =
      tracer.spans.map(s => event(s.name, 1, s.start, s.end, s""""id": ${s.id}, "parent": ${s.parent}""")) ++
        l.jobs.map(j => event(s"job ${j.id}", 2, j.start, j.end,
          s""""parent": ${j.span.getOrElse(-1)}, "stages": "${j.stages.mkString(" ")}"""")) ++
        l.stages.map { s =>
          val t = l.taskTotals.getOrElse(s.id, new TaskTotals)
          event(s"stage ${s.id}", 3, s.submit, s.complete,
            s""""job": ${s.job}, "tasks": ${t.tasks}, "task_ms": ${t.runMs}, """ +
              s""""shuffle_write": ${t.shuffleWrite}, "shuffle_read": ${t.shuffleRead}""")
        }
    val out = new PrintWriter(file)
    try out.println(events.mkString("{\"traceEvents\": [\n", ",\n", "\n]}"))
    finally out.close()
  }
}
