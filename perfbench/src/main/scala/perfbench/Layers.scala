package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run. Each is a mean per traced iteration
  * (the cold first iteration included). Span times of layers that only
  * some workloads call are reported as a share of the traced iteration
  * wall (`_frac`), so a layer a workload never calls reads 0, not 0 s.
  * The layer → metric → workload map is in `LAYERS.md`.
  */
object Layers {
  import Main.Iter

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds covered by the union of `[start, end)` intervals. */
  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered / 1e9
  }

  def compute(tr: Tracer, iters: Seq[Iter], g: Tracer.Gauges,
              cores: Int): Map[String, Double] = {
    val traced = iters.filter(_.traced)
    val n = traced.size.toDouble
    val wallSum = traced.map(_.wall).sum
    val spans = tr.allSpans.filter(_.endNs >= 0)
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def secs(p: String => Boolean) = named(p).map(_.seconds).sum
    def frac(p: String => Boolean) = secs(p) / wallSum
    def counters(p: String => Boolean) = named(p).map(tr.countersFor)
    def sumC(p: String => Boolean)(f: tr.Counters => Long) =
      counters(p).map(f).sum.toDouble
    val all = spans.map(tr.countersFor) :+ tr.unattributed
    def total(f: tr.Counters => Long) = all.map(f).sum.toDouble

    val isTransform = Set("transform.provider", "transform.quality")
    val parSeconds = traced.map { it =>
      unionSeconds(spans.filter(s => s.iter == it.index &&
        isTransform(s.name)).map(s => (s.startNs, s.endNs)))
    }.sum
    val isMerge = (s: String) => s.startsWith("merge.")
    // the share of each traced iteration's wall its top-level spans cover
    val coverage = traced.map { it =>
      unionSeconds(spans.filter(s => s.iter == it.index && s.parent == 0)
        .map(s => (s.startNs, s.endNs))) / it.wall
    }
    // Traced and untraced iterations alternate while the JIT still speeds
    // each one up, so a traced iteration is compared with the mean of its
    // two untraced neighbours, which cancels a steady trend.
    val overheads = traced.filter(_.index >= Main.FirstMeasured).flatMap { t =>
      for {
        before <- iters.find(_.index == t.index - 1)
        after <- iters.find(_.index == t.index + 1)
      } yield t.wall - (before.wall + after.wall) / 2
    }
    def util(runMs: Double, wall: Double) =
      if (wall > 0) runMs / 1e3 / (wall * cores) else 0.0

    val m = mutable.LinkedHashMap[String, Double](
      "ingest.sync_frac" -> frac(_ == "ingest.sync"),
      "ingest.archive_frac" -> frac(_ == "ingest.archive"),
      "ingest.files_synced" ->
        traced.map(_.ingest.map(_.synced.size).getOrElse(0)).sum / n,
      "ingest.files_skipped" ->
        traced.map(_.ingest.map(_.skipped.size).getOrElse(0)).sum / n,
      "ingest.bytes_copied" -> traced.map(_.bytesCopied).sum / n,
      "cleaning.frac" -> frac(_ == "cleaning"),
      "cleaning.rows" -> sumC(_ == "cleaning")(_.recordsWritten) / n,
      "cleaning.bytes_written" -> sumC(_ == "cleaning")(_.bytesWritten) / n,
      "cleaning.jobs" -> sumC(_ == "cleaning")(_.jobs) / n,
      "cleaning.tasks" -> sumC(_ == "cleaning")(_.tasks) / n,
      "cleaning.core_util" -> util(sumC(_ == "cleaning")(_.executorRunMs),
        secs(_ == "cleaning")),
      "catalog.validate_frac" -> frac(_ == "catalog.validate"),
      "transform.provider_frac" -> frac(_ == "transform.provider"),
      "transform.quality_frac" -> frac(_ == "transform.quality"),
      "transform.par_frac" -> parSeconds / wallSum,
      "transform.bytes_written" -> sumC(isTransform)(_.bytesWritten) / n,
      "transform.jobs" -> sumC(isTransform)(_.jobs) / n,
      "transform.tasks" -> sumC(isTransform)(_.tasks) / n,
      "transform.core_util" ->
        util(sumC(isTransform)(_.executorRunMs), parSeconds),
      "merge.frac" -> frac(isMerge))
    Pipeline.Dims.foreach(d => m(s"merge.${d}_frac") = frac(_ == s"merge.$d"))
    m ++= Seq(
      "merge.bytes_rewritten" -> sumC(isMerge)(_.bytesWritten) / n,
      "merge.rows_rewritten" -> sumC(isMerge)(_.recordsWritten) / n,
      "merge.shuffle_bytes" -> sumC(isMerge)(_.shuffleWrite) / n,
      "build.frac" -> frac(_ == "build"),
      "build.jobs" -> sumC(_ == "build")(_.jobs) / n,
      "catalyst.analysis_s" -> tr.phaseSeconds("analysis") / n,
      "catalyst.optimization_s" -> tr.phaseSeconds("optimization") / n,
      "catalyst.planning_s" -> tr.phaseSeconds("planning") / n,
      "codegen.compile_s" -> g.codegenNs / 1e9 / n,
      "codegen.classes" -> g.codegenClasses / n,
      "exec.s" -> total(_.jobMs) / 1e3 / n,
      "sched.jobs" -> total(_.jobs) / n,
      "sched.stages" -> total(_.stages) / n,
      "sched.tasks" -> total(_.tasks) / n,
      "sched.tasks_per_stage" ->
        total(_.tasks) / math.max(1.0, total(_.stages)),
      "sched.failed_tasks" -> total(_.failedTasks) / n,
      "sched.orphan_tasks" -> total(_.orphanTasks) / n,
      "compute.executor_run_s" -> total(_.executorRunMs) / 1e3 / n,
      "compute.core_util" -> util(total(_.executorRunMs), wallSum),
      "shuffle.write_bytes" -> total(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> total(_.shuffleRead) / n,
      "spill.bytes" -> total(_.spillDisk) / n,
      "gc.s" -> g.gcMs / 1e3 / n)
    Queries.Iterative.foreach(q => m(s"q.${q}_frac") = frac(_ == s"q.$q"))
    m ++= Seq(
      "trace.iter_s" -> wallSum / n,
      "trace.overhead_s" -> median(overheads),
      "trace.coverage" -> (if (coverage.isEmpty) 0.0 else coverage.min))
    m.toMap
  }

  /** The trace artifact: every span with its listener counts. */
  def traceJson(tr: Tracer, iters: Seq[Iter]): Map[String, Any] = Map(
    "iterations" -> iters.map(it => Map("index" -> it.index,
      "traced" -> it.traced, "wall_s" -> it.wall)),
    "spans" -> tr.allSpans.filter(_.endNs >= 0).map { s =>
      val c = tr.countersFor(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "iter" -> s.iter, "start_ms" -> s.startMs, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "orphan_tasks" -> c.orphanTasks,
        "job_ms" -> c.jobMs, "executor_run_ms" -> c.executorRunMs,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead,
        "spill_bytes" -> c.spillDisk, "bytes_written" -> c.bytesWritten,
        "records_written" -> c.recordsWritten)
    },
    "unattributed_jobs" -> tr.unattributed.jobs,
    "catalyst_s" -> tr.phaseSeconds.toMap)
}
