package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced operations, each a mean per operation
  * unless its name says otherwise. Listener records are attributed to an
  * operation by time: the load is one closed-loop client, so every job,
  * stage and task that starts inside an operation's span belongs to it.
  */
object Layers {
  final case class Result(metrics: Map[String, Double], recon: Seq[Map[String, Any]])

  /** Call-site files whose job time `pipeline.job_s.<File>` reports. */
  val PipelineFiles: Seq[String] =
    Seq("CuratePipeline", "TextAnalysis", "CloudOptimize", "Interchange", "Packing", "Tables")
  private val WriteFiles = Set("CloudOptimize", "Interchange")
  private val SiteFile = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r

  /** Seconds of `[lo, hi]` covered by the union of `intervals`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open || a > end) { total += b - a; end = b; open = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def compute(ops: Seq[OpRec], spans: Spans, rec: Recorder, storageMb: Seq[Double],
      cores: Int): Result = {
    val jobs = rec.jobs
    val tasks = rec.tasks.toSeq
    val stages = rec.stages.toSeq
    val plans = rec.plans.toSeq
    val execSite = rec.execs.map(e => e.id -> e.description).toMap
    // AQE stage jobs are submitted from a thread pool and carry its call
    // site, so a job inside an SQL execution takes that execution's
    // call site instead
    def file(j: JobRec): String = {
      val site = execSite.get(j.execId).filter(_.contains(".scala:")).getOrElse(j.callSite)
      SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("other")
    }
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var latency, violations = 0.0
    val recon = ops.map { o =>
      val op = spans(o.span)
      val b = spans(o.build)
      val x = spans(o.execute)
      val oj = jobs.filter(j => op.contains(j.submit))
      val ot = tasks.filter(t => op.contains(t.launch))
      val os = stages.filter(s => op.contains(s.submit))
      val op_plans = plans.filter(p => op.contains(p.optimizeStart))
      val buildJobs = oj.filter(j => b.contains(j.submit))
      def jobSpans(js: Seq[JobRec]) = js.map(j => (j.submit, j.end))
      def planS(in: Span) = op_plans.filter(p => in.contains(p.optimizeStart))
        .map(p => p.optimizeS + p.physicalS).sum
      latency += op.dur
      sum("operators.build_s") += b.dur
      sum("operators.build_jobs") += buildJobs.size
      sum("operators.self_s") += math.max(0.0,
        b.dur - covered(jobSpans(buildJobs), b.start, b.end) - planS(b))
      sum("plans.optimize_s") += op_plans.map(_.optimizeS).sum
      sum("plans.physical_s") += op_plans.map(_.physicalS).sum
      sum("plans.exchanges") += op_plans.map(_.exchanges).sum
      sum("plans.broadcast_joins") += op_plans.map(_.broadcastJoins).sum
      sum("plans.shuffled_joins") += op_plans.map(_.shuffledJoins).sum
      sum("sched.jobs") += oj.size
      sum("sched.stages") += os.size
      sum("sched.tasks") += ot.size
      sum("sched.delay_s") += ot.map(_.schedDelay).sum
      sum("sched.deser_s") += ot.map(_.deser).sum
      sum("sched.idle_s") += x.dur - covered(ot.map(t => (t.launch, t.finish)), x.start, x.end)
      val taskS = ot.map(_.run).sum
      sum("exec.task_s") += taskS
      sum("exec.cpu_s") += ot.map(_.cpu).sum
      sum("exec.gc_s") += ot.map(_.gc).sum
      sum("exec.serial_stage_s") += os.filter(_.numTasks == 1).map(s => s.end - s.submit).sum
      sum("shuffle.write_mb") += ot.map(_.shuffleWrite).sum / 1e6
      sum("shuffle.read_mb") += ot.map(_.shuffleRead).sum / 1e6
      sum("shuffle.fetch_wait_s") += ot.map(_.fetchWait).sum
      sum("spill_mb") += ot.map(_.spill).sum / 1e6
      sum("sources.scan_mb") += ot.map(_.input).sum / 1e6
      sum("sources.write_mb") += ot.map(_.output).sum / 1e6
      val byFile = oj.groupBy(file).map { case (f, js) => f -> js.map(j => j.end - j.submit).sum }
      sum("sources.schema_jobs") += oj.count(j => file(j) == "Tables")
      sum("sources.write_s") += byFile.collect { case (f, s) if WriteFiles(f) => s }.sum
      byFile.foreach { case (f, s) =>
        val key = if (PipelineFiles.contains(f)) f else "other"
        sum(s"pipeline.job_s.$key") += s
      }
      // reconciliation: build + planning + job time against the latency
      val planX = planS(x)
      val jobsX = covered(jobSpans(oj.filter(j => x.contains(j.submit))), x.start, x.end)
      val remainder = op.dur - b.dur - planX - jobsX
      // listener sums must fit inside the span walls they are attributed to
      if (taskS > cores * op.dur * 1.05 + 0.05 || oj.exists(_.end > op.end + 0.05))
        violations += 1
      Map("name" -> o.name, "latency" -> op.dur, "build" -> b.dur, "plan" -> planX,
        "jobs" -> jobsX, "remainder" -> remainder, "task_s" -> taskS)
    }
    val n = math.max(ops.size, 1).toDouble
    val names = Seq("operators.build_s", "operators.build_jobs", "operators.self_s",
      "plans.optimize_s", "plans.physical_s", "plans.exchanges", "plans.broadcast_joins",
      "plans.shuffled_joins", "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
      "sched.deser_s", "sched.idle_s", "exec.task_s", "exec.cpu_s", "exec.gc_s",
      "exec.serial_stage_s", "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
      "spill_mb", "sources.scan_mb", "sources.schema_jobs", "sources.write_s",
      "sources.write_mb") ++ (PipelineFiles :+ "other").map(f => s"pipeline.job_s.$f")
    val perOp = names.map(k => k -> sum(k) / n).toMap
    val lat = math.max(latency, 1e-9)
    val metrics = perOp ++ Map(
      "operators.build_share" -> sum("operators.build_s") / lat,
      "exec.busy_frac" -> sum("exec.task_s") / (cores * lat),
      "storage.cached_mb_max" -> (if (storageMb.isEmpty) 0.0 else storageMb.max),
      "storage.cached_mb_end" -> storageMb.lastOption.getOrElse(0.0),
      "recon.remainder_s" -> recon.map(_("remainder").asInstanceOf[Double]).sum / n,
      "recon.violations" -> violations)
    Result(metrics, recon)
  }
}
