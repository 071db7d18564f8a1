package graft.perfbench

import graft.perfbench.Main.{OpRec, PassRec}

/** Turns a traced run's raw records into the per-layer metrics, each a
  * mean per pass. Spark work is attributed to an op by its job group.
  */
object Layers {
  /** Span names reported as `<name>_s` (inclusive span time). */
  val SpanLayers: Seq[String] = Seq("entry.build", "pipeline.ref_run", "pipeline.chain",
    "pipeline.release", "llmops.ann_probe",
    "llmops.ann_append", "llmops.ann_seal", "retrieval.bm25_append", "retrieval.bm25_probe",
    "streaming.corpus_batch", "streaming.release_tick", "streaming.takedown")

  val Modules: Seq[String] = Seq("relational", "scalars", "features", "streaming",
    "llmops", "retrieval", "sinks", "other")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of `[lo, hi]` not covered by any of `ivs`. */
  private def uncovered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = lo
    ivs.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { covered += e - s.max(cur); cur = e }
      }
    (hi - lo) - covered
  }

  def of(t: Trace, w: Workload, ops: Seq[OpRec], passes: Seq[PassRec],
      sessionS: Double, inputBytes: Long): Seq[(String, Double)] = {
    val n = passes.size.max(1).toDouble
    val keys = ops.map(_.key).toSet
    val accs = t.perGroup.filter { case (g, _) => keys(g) }.values.toSeq
    def sum(f: Trace.Acc => Long): Double = accs.map(f).sum.toDouble
    val jobs = t.jobs.values.filter(j => keys(j.group) && j.endMs >= 0).toSeq
    val jobsByOp = jobs.groupBy(_.group)
    val windows = t.opWindows.filter { case (k, _, _) => keys(k) }
    val uncoveredMs = windows.map { case (k, s, e) =>
      uncovered(s, e, jobsByOp.getOrElse(k, Nil).map(j => (j.startMs, j.endMs)))
    }.sum
    val execs = t.executions.synchronized(t.executions.toSeq).filter { case (s, _, _, _) =>
      windows.exists { case (_, lo, hi) => s >= lo && s <= hi }
    }
    val spanTotals = t.spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.filter(s => keys(s.op)).map(s => (s.endNs - s.startNs) / 1e9).sum
    }
    val annProbes = ops.filter(_.op.name.startsWith("ann.probe["))
    val annProbeBytes = annProbes.flatMap(o => t.perGroup.get(o.key)).map(_.bytesRead).sum
    def stateMean(f: PassRec => Double) = passes.map(f).sum / n

    Seq(
      "sessions.build_s" -> sessionS,
      "tables.bytes_read" -> sum(_.bytesRead) / n,
      "tables.rows_read" -> sum(_.rowsRead) / n,
      "entry.build_jobs" -> sum(_.buildJobs) / n,
      "catalyst.analysis_s" -> execs.map(_._2).sum / 1000.0 / n,
      "catalyst.optimization_s" -> execs.map(_._3).sum / 1000.0 / n,
      "catalyst.planning_s" -> execs.map(_._4).sum / 1000.0 / n,
      "catalyst.executions" -> execs.size / n,
      "sched.jobs" -> sum(_.jobs) / n,
      "sched.stages" -> sum(_.stages) / n,
      "sched.tasks" -> sum(_.tasks) / n,
      "sched.job_busy_s" -> jobs.map(j => j.endMs - j.startMs).sum / 1000.0 / n,
      "sched.scheduler_delay_s" -> sum(_.schedDelayMs) / 1000.0 / n,
      "sched.driver_uncovered_s" -> uncoveredMs / 1000.0 / n,
      "exec.run_s" -> sum(_.runMs) / 1000.0 / n,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> sum(_.gcMs) / 1000.0 / n,
      "exec.deser_s" -> sum(_.deserMs) / 1000.0 / n,
      "exec.result_bytes" -> sum(_.resultBytes) / n,
      "shuffle.write_bytes" -> sum(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> sum(_.shuffleRead) / n,
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1000.0 / n,
      "shuffle.spill_bytes" -> sum(_.spill) / n,
      "sinks.bytes_written" -> sum(_.bytesWritten) / n,
      "sinks.rows_written" -> sum(_.rowsWritten) / n,
      "sinks.files_written" -> ops.map(_.filesNew).sum / n,
      "sinks.entries_live" -> stateMean(_.liveFiles.toDouble),
      "memo.installs" -> stateMean(_.memos.toDouble),
      "llmops.ann_probe_bytes_per_query" ->
        (if (annProbes.isEmpty) 0.0 else annProbeBytes.toDouble / annProbes.size / w.probeQueries.max(1)),
      "write_amp" -> sum(_.bytesWritten) / n / inputBytes.max(1L),
      "space_amp" -> stateMean(_.liveBytes.toDouble) / inputBytes.max(1L),
      "trace.wall_s" -> median(passes.map(_.wallS)),
      "trace.overhead_s" -> t.overheadNs.get / 1e9 / n
    ) ++ SpanLayers.map(s => s"${s}_s" -> spanTotals.getOrElse(s, 0.0) / n) ++
      Modules.map(m => s"ops.${m}_s" -> ops.filter(_.op.module == m).map(_.latS).sum / n)
  }

  /** Per span name: count, inclusive and self seconds, over the ops. */
  def spanSummary(t: Trace): String = {
    val childNs = t.spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val rows = t.spans.filter(_.op.nonEmpty).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val incl = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum
      name -> Json.obj(Seq("count" -> ss.size.toString,
        "total_s" -> Json.num(incl / 1e9), "self_s" -> Json.num(self / 1e9)))
    }
    Json.obj(Seq(
      "summary" -> Json.obj(rows),
      "spans" -> Json.arr(t.spans.toSeq.map(s => Json.arr(Seq(Json.str(s.name),
        Json.num(s.startNs / 1e9), Json.num(s.endNs / 1e9), s.parent.toString, Json.str(s.op)))))))
  }
}
