package perfbench

import scala.jdk.CollectionConverters._

/** The traced run's artifact: every per-layer metric, the spans, the jobs
  * with their call sites, self time per layer and job counts per cycle.
  *
  * Scope: the timed region only. On a lane workload that is the fixed lane
  * set (the lanes the end-to-end metrics cover); on `etl_sync` it is the
  * timed cycles. A layer a workload does not call reads 0.
  */
object TraceReport {
  def apply(trace: Trace, result: java.util.Map[String, Any]): java.util.Map[String, Any] = {
    def num(m: Any, k: String): Double = m match {
      case j: java.util.Map[_, _] => Option(j.get(k)).map(_.toString.toDouble).getOrElse(0.0)
      case s: scala.collection.Map[_, _] =>
        s.asInstanceOf[scala.collection.Map[String, Any]].get(k).map(_.toString.toDouble).getOrElse(0.0)
      case _ => 0.0
    }
    val spans = trace.spans.toSeq
    val workload = spans.find(_.layer == "workload")
    val lanes = Option(result.get("lanes")).map(_.asInstanceOf[java.util.List[java.util.Map[String, Any]]]
      .asScala.toSeq.filter(_.get("fixed") == true)).getOrElse(Nil)
    val laneSpans = spans.filter(s => s.layer == "lane" && lanes.exists(_.get("lane") == s.name))
    val scopeRoots = if (lanes.nonEmpty) laneSpans else workload.toSeq
    val scope = scopeRoots.flatMap(s => trace.subtree(s.id)).toSet
    val scopeWall = scopeRoots.map(_.seconds).sum
    val inScope = spans.filter(s => scope(s.id))
    def callSpans(name: String) = inScope.filter(_.name == name)
    def subtrees(ss: Seq[Trace.Span]) = ss.flatMap(s => trace.subtree(s.id)).toSet
    val pulls = callSpans("runPull")
    val pushes = callSpans("runPushAll")
    val triggers = callSpans("trigger")
    val pullJobs = trace.jobsIn(subtrees(pulls))
    val cycles = Option(result.get("cycles")).map(_.asInstanceOf[java.util.List[java.util.Map[String, Any]]]
      .asScala.toSeq).getOrElse(Nil)
    val landed = cycles.map(c => num(c, "pulled_rows")).sum
    val sources = Option(result.get("sources")).map(_.asInstanceOf[Map[String, Map[String, Long]]])
      .getOrElse(Map.empty)
    def srcSum(k: String) = sources.values.map(_.getOrElse(k, 0L)).sum.toDouble
    val ingest = result.get("ingest")
    val firstOp = Option(result.get("first_op_ms")).map(_.toString.toLong).getOrElse(0L)
    val progress = trace.progress.map(_.progress)
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= firstOp).toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    val lastState = progress.lastOption.flatMap(_.stateOperators.headOption)
    val pushTasks = trace.tasksIn(subtrees(pushes))
    val pushWall = pushes.map(_.seconds).sum
    val runtime = trace.tasksIn(scope)
    val phases = trace.phasesIn(scope)
    def laneSum(k: String) = lanes.map(l => num(l, k)).sum

    val layers = scala.collection.mutable.LinkedHashMap[String, Double](
      "session.build_s" -> num(result, "session_build_s"),
      "session.warmup_s" -> num(result, "warmup_s"),
      "cli.pull_s" -> pulls.map(_.seconds).sum,
      "cli.push_s" -> pushWall,
      "cli.pull_rows_per_s" -> safeDiv(landed, pulls.map(_.seconds).sum),
      "cli.push_rows_per_s" -> safeDiv(cycles.map(c => num(c, "push_acks")).sum, pushWall),
      "sources.requests" -> srcSum("requests"),
      "sources.requests_per_1k_rows" -> safeDiv(srcSum("requests"), landed / 1000.0),
      "sources.fetched_rows" -> srcSum("rows"),
      "sources.dup_rows" -> (if (landed > 0) srcSum("rows") - landed else 0.0),
      "sources.bytes_mb" -> srcSum("bytes") / 1e6,
      "sources.scan_s" -> pullJobs.filter(_.callSite.startsWith("count at")).map(_.seconds).sum,
      "ingest.write_s" -> pullJobs.filter(_.callSite.startsWith("parquet at")).map(_.seconds).sum,
      "ingest.files" -> num(ingest, "files"),
      "ingest.bytes_per_row" -> safeDiv(num(ingest, "bytes"), landed),
      "ingest.max_file_mb" -> num(ingest, "max_file_bytes") / 1e6,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.batch_s" -> progress.map(dur(_, "triggerExecution")).sum,
      "streaming.planning_s" -> progress.map(dur(_, "queryPlanning")).sum,
      "streaming.commit_s" -> progress.map(p => dur(p, "commitOffsets") + dur(p, "walCommit")).sum,
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> lastState.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
      "streaming.rows_per_s" -> safeDiv(progress.map(_.numInputRows.toDouble).sum,
        triggers.map(_.seconds).sum),
      "push.requests" -> num(result.get("push"), "requests"),
      "push.non2xx" -> num(result.get("push"), "non2xx"),
      "push.tasks" -> pushTasks.n.toDouble,
      "push.task_s" -> pushTasks.taskS,
      "push.par" -> safeDiv(pushTasks.taskS, pushWall),
      "queries.construct_s" -> laneSum("construct_s"),
      "queries.construct_jobs" -> laneSum("construct_jobs"),
      "queries.action_s" -> laneSum("action_s"),
      "queries.jobs" -> laneSum("jobs"),
      "queries.stages" -> laneSum("stages"),
      "queries.tasks" -> laneSum("tasks"),
      "plans.analysis_s" -> phases.getOrElse("analysis", 0.0),
      "plans.optimization_s" -> phases.getOrElse("optimization", 0.0),
      "plans.planning_s" -> phases.getOrElse("planning", 0.0))
    runtime.asMap.foreach { case (k, v) => if (k != "tasks") layers(s"runtime.$k") = v }
    layers("runtime.par") = safeDiv(runtime.taskS, scopeWall)
    layers("runtime.peak_rss_mb") = num(result, "vm_hwm_mb")

    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("layers", layers)
    out.put("self_s", trace.selfTimeByLayer)
    out.put("cycle_jobs", spans.filter(_.layer == "cycle").map(s => s.name -> trace.jobsIn(trace.subtree(s.id)).size).toMap)
    out.put("spans", spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "owner" -> s.owner, "start_s" -> (s.start - t0) / 1e9,
      "end_s" -> (s.end - t0) / 1e9)))
    out.put("jobs", trace.jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
      "call_site" -> j.callSite, "seconds" -> j.seconds)).toSeq)
    out
  }

  private def safeDiv(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}
