package graftbench

import scala.collection.mutable

/** Per-layer metrics of the traced passes, as totals per traced pass
  * (counts, milliseconds, bytes) or ratios. Also adds the job, stage and
  * microbatch spans under the harness's query-phase spans. */
final class Layers(spans: Spans, l: LayerListener, execs: Seq[Main.Exec], passes: Int, cores: Int) {
  val nPasses: Int = math.max(passes, 1)
  private def perPass(x: Double): Double = x / nPasses
  private def perPass(x: Long): Double = x.toDouble / nPasses
  private def kindOf(span: Int): String = if (span >= 0) spans.get(span).kind else "other"

  // only jobs submitted from a harness phase of a traced pass
  private val jobs = l.jobs.filter(j => j.span >= 0 && j.endMs >= 0).toList
  private val stageJob: Map[Int, JobRec] = jobs.flatMap(j => j.stageIds.map(_ -> j)).reverse.toMap
  private val tasks = l.tasks.filter(t => stageJob.contains(t.stageId)).toList
  private val stages = l.stages.filter(s => stageJob.contains(s.stageId)).toList
  private val isDedup = (q: String) => q.contains("dedup") || q.contains("neardup")
  private val isAnn = (q: String) => q.startsWith("q_ann_") || q.startsWith("q_knn_") || q.startsWith("q_embed_")
  private val buildSpans = execs.filter(_.buildSpan >= 0).map(e => e -> spans.get(e.buildSpan))

  // microbatches hang under the build span (the replay) that contains them
  private val batchSpans: List[(BatchRec, Int)] = l.batches.toList.flatMap { b =>
    val start = spans.msToNs(b.startMs)
    buildSpans.find { case (_, s) => s.start <= start + 1000000L && start <= s.end }.map { case (e, s) =>
      b -> spans.add(s.id, s"${e.query} batch ${b.batchId}", "microbatch", start,
        start + spans.msToNs(b.triggerMs), Map("batch_ms" -> b.batchMs))
    }
  }
  private val jobSpan: Map[Int, Int] = jobs.map { j =>
    val start = spans.msToNs(j.startMs)
    val parent = batchSpans.collectFirst {
      case (_, id) if spans.get(id).parent == j.span && spans.get(id).start <= start && start <= spans.get(id).end => id
    }.getOrElse(j.span)
    j.jobId -> spans.add(parent, s"job ${j.jobId}", "job", start, spans.msToNs(j.endMs), Map("desc" -> j.desc))
  }.toMap
  stages.foreach { s =>
    if (s.submitMs >= 0 && s.doneMs >= 0)
      spans.add(jobSpan(stageJob(s.stageId).jobId), s"stage ${s.stageId}", "stage",
        spans.msToNs(s.submitMs), spans.msToNs(s.doneMs), Map("tasks" -> s.numTasks))
  }

  private def phaseOfStage(stageId: Int): String = kindOf(stageJob(stageId).span)

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  private def schedulerMetrics: Map[String, Double] = {
    val actionTasks = tasks.filter(t => phaseOfStage(t.stageId) == "action")
    val actionSpans = execs.filter(_.actionSpan >= 0).map(e => spans.get(e.actionSpan))
    val actionMs = actionSpans.map(s => (s.end - s.start) / 1e6).sum
    val idle = actionSpans.map { s =>
      val (s0, s1) = (s.start / 1000000L, s.end / 1000000L)
      val inside = actionTasks.map(t => (math.max(t.launchMs, s0), math.min(t.finishMs, s1))).filter(x => x._2 > x._1)
      (s1 - s0) - union(inside)
    }.sum
    val skew = tasks.groupBy(_.stageId).values.filter(_.size >= 4).map { ts =>
      val d = ts.map(t => t.finishMs - t.launchMs).sorted
      d.last.toDouble / math.max(d(d.size / 2), 1L)
    }.foldLeft(0.0)(math.max)
    Map(
      "sched.jobs" -> perPass(jobs.size),
      "sched.stages" -> perPass(stages.size),
      "sched.tasks" -> perPass(tasks.size),
      "sched.task_run_ms" -> perPass(tasks.map(_.runMs).sum),
      "sched.task_cpu_ms" -> perPass(tasks.map(_.cpuNs).sum / 1e6),
      "sched.task_deser_ms" -> perPass(tasks.map(_.deserMs).sum),
      "sched.sched_delay_ms" -> perPass(tasks.map(t => math.max(0L,
        (t.finishMs - t.launchMs) - t.runMs - t.deserMs - t.resultSerMs - t.gettingResultMs)).sum),
      "sched.gc_ms" -> perPass(tasks.map(_.gcMs).sum),
      "sched.busy_frac" -> (if (actionMs > 0) actionTasks.map(t => t.finishMs - t.launchMs).sum / (actionMs * cores) else 0.0),
      "sched.idle_gap_ms" -> perPass(idle),
      "sched.stage_skew" -> skew)
  }

  private def dataMetrics: Map[String, Double] = {
    val scans = tasks.filter(_.inRecords > 0)
    Map(
      "shuffle.write_bytes" -> perPass(tasks.map(_.shuffleWriteBytes).sum),
      "shuffle.read_bytes" -> perPass(tasks.map(_.shuffleReadBytes).sum),
      "shuffle.records" -> perPass(tasks.map(_.shuffleWriteRecords).sum),
      "shuffle.fetch_wait_ms" -> perPass(tasks.map(_.fetchWaitMs).sum),
      "shuffle.write_ms" -> perPass(tasks.map(_.shuffleWriteNs).sum / 1e6),
      "spill.memory_bytes" -> perPass(tasks.map(_.spillMem).sum),
      "spill.disk_bytes" -> perPass(tasks.map(_.spillDisk).sum),
      "tables.scan_rows" -> perPass(scans.map(_.inRecords).sum),
      "tables.scan_bytes" -> perPass(scans.map(_.inBytes).sum),
      "tables.scan_tasks" -> perPass(scans.size),
      "tables.scan_run_ms" -> perPass(scans.map(_.runMs).sum))
  }

  private def planMetrics: Map[String, Double] = {
    def sum(k: String, es: Seq[Main.Exec] = execs) =
      es.map(_.extra.getOrElse(k, 0).toString.toDouble).sum
    val eager = jobs.filter(j => kindOf(j.span) == "build")
    def keep(f: String => Boolean) = {
      val es = execs.filter(e => e.ok && f(e.query))
      val pairs = sum("join_rows", es)
      if (pairs > 0) es.map(_.rows).sum / pairs else 0.0
    }
    Map(
      "queries.build_ms" -> perPass(execs.map(_.buildS).sum * 1000),
      "queries.eager_jobs" -> perPass(eager.size),
      "queries.eager_job_ms" -> perPass(eager.map(j => j.endMs - j.startMs).sum),
      "catalyst.analysis_ms" -> perPass(sum("analysis_ms")),
      "catalyst.optimization_ms" -> perPass(sum("optimization_ms")),
      "catalyst.planning_ms" -> perPass(sum("planning_ms")),
      "catalyst.plan_nodes" -> perPass(sum("plan_nodes")),
      "catalyst.exchanges" -> perPass(sum("exchanges")),
      "catalyst.repartition_by_num" -> perPass(sum("repartition_by_num")),
      "seriesops.spread_exchanges" -> perPass(sum("spread_exchanges")),
      "dedup.candidate_pairs" -> perPass(sum("join_rows", execs.filter(e => isDedup(e.query)))),
      "dedup.candidate_keep_frac" -> keep(isDedup),
      "ann.candidate_keep_frac" -> keep(isAnn))
  }

  private def streamMetrics: Map[String, Double] = {
    val bs = l.batches.toList
    def dur(k: String) = perPass(bs.map(_.durations.getOrElse(k, 0L)).sum)
    val byRun = bs.groupBy(_.runId).values
    val lifecycle = buildSpans.collect { case (e, s) if e.query.startsWith("q_stream_") =>
      val inside = batchSpans.filter(_._2 >= 0).map(b => spans.get(b._2)).filter(_.parent == s.id)
      (s.end - s.start) / 1e6 - inside.map(b => (b.end - b.start) / 1e6).sum
    }.sum
    val ms = bs.map(_.batchMs).sorted
    Map(
      "streaming.batches" -> perPass(bs.size),
      "streaming.batch_ms_p50" -> (if (ms.isEmpty) 0.0 else ms(ms.size / 2).toDouble),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_rows" -> perPass(byRun.map(_.map(_.stateRows).max).sum),
      "streaming.state_mem_bytes" -> perPass(byRun.map(_.map(_.stateMem).max).sum),
      "streaming.state_commit_ms" -> perPass(bs.map(_.stateCommitMs).sum),
      "streaming.lifecycle_ms" -> perPass(lifecycle))
  }

  lazy val metrics: Map[String, Double] = schedulerMetrics ++ dataMetrics ++ planMetrics ++ streamMetrics

  /** Metrics that read zero because the workload has nothing for that layer. */
  lazy val absent: Map[String, String] = {
    val qs = execs.map(_.query).toSet
    val out = mutable.Map[String, String]()
    if (!qs.exists(_.startsWith("q_stream_")))
      metrics.keys.filter(_.startsWith("streaming.")).foreach(out(_) = "no stream replay in this workload")
    else if (l.batches.forall(_.stateRows == 0))
      metrics.keys.filter(_.startsWith("streaming.state_")).foreach(out(_) = "the workload's stream replays keep no state")
    if (!qs.exists(isDedup))
      Seq("dedup.candidate_pairs", "dedup.candidate_keep_frac").foreach(out(_) = "no dedup query in this workload")
    if (!qs.exists(isAnn))
      out("ann.candidate_keep_frac") = "no ANN query in this workload"
    metrics.foreach { case (k, v) =>
      if (v == 0.0 && !out.contains(k)) out(k) = "measured zero on this workload"
    }
    out.toMap
  }
}
