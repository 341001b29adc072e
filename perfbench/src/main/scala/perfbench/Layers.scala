package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced pass (layer = engine module).
  *
  * Each Spark job is attributed to the step that was running when it
  * started and to every engine module on its call path (inclusive, like a
  * profiler's total time); a job with no engine frame belongs to its
  * step's layer. Job spans, tagged with module and frame path, join the
  * span tree under their step.
  */
object Layers {

  /** Modules reported for every workload (0 where a workload does not reach one). */
  val Modules: Seq[String] =
    Seq("pipeline", "state", "sources", "operators", "bronze", "dashboard", "queries")

  /** Seconds covered by the union of the intervals. */
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1000.0
  }

  def of(t: Tracer, run: Span, wl: Workload): Seq[(String, Double)] = {
    val spans = t.allSpans
    val ops = spans.filter(s => s.kind == "op" && s.parent == run.id)
    val opById = ops.map(o => o.id -> o).toMap
    val steps = spans.filter(s => s.kind == "step" && opById.contains(s.parent)).sortBy(_.startMs)
    val jobs = t.jobs.values.asScala.toSeq.filter(_.endMs >= 0).sortBy(_.id)
    // the step running when the job started (the client is closed-loop: one at a time)
    val placed = jobs.flatMap(j => steps.find(_.contains(j.startMs)).map(j -> _))
    val modules = placed.map { case (j, s) =>
      val fs = t.jobFrames(j)
      j.id -> (if (fs.isEmpty) Set(wl.stepLayer(s.name)) else fs.map(Tracer.module).toSet)
    }.toMap
    placed.foreach { case (j, s) =>
      val fs = t.jobFrames(j)
      t.addSpan(s.id, "job", s"job ${j.id}", j.startMs, j.endMs, Map(
        "module" -> fs.headOption.map(Tracer.module).getOrElse(wl.stepLayer(s.name)),
        "frames" -> fs.mkString(" < ")))
    }
    // each stage that ran counts once, for the first job that lists it
    val stageOwner = placed.flatMap { case (j, _) => j.stageIds.map(_ -> j.id) }
      .groupBy(_._1).map { case (st, owners) => st -> owners.map(_._2).min }
    val ran = t.stages.values.asScala.toSeq.filter(s => s.submitMs >= 0 && stageOwner.contains(s.id))
    def stagesOf(ids: Set[Int]) = ran.filter(s => ids(stageOwner(s.id)))
    def iv(js: Seq[JobStat]) = js.map(j => (j.startMs, j.endMs))

    // SQL executions, placed by their first job's step
    val stepOfExec = placed.filter(_._1.execId >= 0).groupBy(_._1.execId)
      .map { case (e, js) => e -> js.minBy(_._1.id)._2 }
    val execs = t.execs.values.asScala.toSeq
    def execsIn(p: Span => Boolean) = execs.filter(e => stepOfExec.get(e.id).exists(p))
    def execModules(e: ExecStat) = placed.filter(_._1.execId == e.id)
      .flatMap(j => modules(j._1.id)).toSet

    def ratio(n: Double, d: Double) = if (d > 0) n / d else 0.0
    val wall = run.durS
    val out = Seq.newBuilder[(String, Double)]
    // module times are shares of the pass's wall time (and of its task slots),
    // so a module a workload never reaches reads 0 rather than a 0 s "time"
    Modules.foreach { m =>
      val js = placed.map(_._1).filter(j => modules(j.id)(m))
      out += s"$m.jobs" -> js.size.toDouble
      out += s"$m.busy_frac" -> covered(iv(js)) / wall
      out += s"$m.task_frac" -> stagesOf(js.map(_.id).toSet).map(_.taskMs).sum / 1000.0 / (wall * t.cores)
    }
    def gap(ss: Seq[Span]) = ss.map { s =>
      s.durS - covered(iv(placed.filter(_._2.id == s.id).map(_._1)))
    }.sum
    val pipelineSteps = steps.filter(_.name == "runIncremental")
    out += "pipeline.driver_gap_frac" -> ratio(gap(pipelineSteps), pipelineSteps.map(_.durS).sum)
    out += "driver_gap_s" -> gap(steps)

    // medallion ratios over the daily refreshes (idle runs and the backfill excluded)
    val dayRuns = steps.filter(s => s.name == "runIncremental" &&
      opById(s.parent).name.startsWith("day"))
    val newRows = dayRuns.map(s => wl.opCount(opById(s.parent).name, "new")).sum
    val changed = dayRuns.map(s => wl.opCount(opById(s.parent).name, "changed")).sum
    val dayExecs = execsIn(s => dayRuns.exists(_.id == s.id))
    out += "sources.scan_rows_per_new_row" -> ratio(dayExecs.flatMap(_.scans)
      .filter(_.paths.exists(_.contains("/bronze/events.parquet"))).map(_.rows).sum, newRows)
    out += "sources.silver_rows_written_per_changed_row" -> ratio(dayExecs.flatMap(_.writes)
      .filter(_.path.contains("silver_events")).map(_.rows).sum, changed)
    out += "sources.gold_rows_read_per_changed_row" -> ratio(dayExecs
      .filter(_.writes.exists(_.path.contains("gold_band_summary"))).flatMap(_.scans)
      .filter(_.paths.exists(_.contains("silver_events"))).map(_.rows).sum, changed)
    Seq("sources", "operators").foreach { m =>
      val ws = execs.filter(e => execModules(e)(m)).flatMap(_.writes)
      out += s"$m.files_committed" -> ws.map(_.files).sum.toDouble
      out += s"$m.bytes_committed" -> ws.map(_.bytes).sum.toDouble
    }
    out += "operators.shuffle_bytes" -> execs.map(_.shuffleBytes).sum.toDouble
    out += "operators.spill_bytes" -> execs.map(_.spillBytes).sum.toDouble
    val dash = execsIn(_.name == "dashboard").flatMap(_.scans)
    out += "dashboard.files_scanned" -> dash.map(_.files).sum.toDouble
    out += "dashboard.scan_bytes" -> dash.map(_.bytes).sum.toDouble
    Seq("build", "serve").foreach { k =>
      val ss = steps.filter(_.name == k)
      out += s"queries.${k}_frac" -> ss.map(_.durS).sum / wall
      out += s"queries.${k}_jobs" -> placed.count(p => ss.exists(_.id == p._2.id)).toDouble
    }
    out += "plans.plan_s" -> execs.map(_.planMs).sum / 1000.0
    out += "cache.duplicate_block_puts" -> t.duplicatePuts.sum.toDouble
    out += "cache.blocks_cached" -> t.blocksCached.sum.toDouble

    val all = placed.map(_._1)
    val busy = covered(iv(all))
    val taskS = ran.map(_.taskMs).sum / 1000.0
    out += "jobs" -> all.size.toDouble
    out += "busy_s" -> busy
    out += "sched_wait_s" -> ran.filter(_.firstLaunchMs != Long.MaxValue)
      .map(s => s.firstLaunchMs - s.submitMs).sum / 1000.0
    out += "util" -> ratio(taskS, busy * t.cores)
    out += "scan_bytes" -> execs.flatMap(_.scans).map(_.bytes).sum.toDouble
    out += "shuffle_write_bytes" -> ran.map(_.shuffleWriteBytes).sum.toDouble
    out += "tasks_failed" -> ran.map(_.failedTasks.sum).sum.toDouble
    out.result()
  }
}
