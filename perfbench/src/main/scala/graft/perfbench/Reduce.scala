package graft.perfbench

import scala.jdk.CollectionConverters._

/** Turns the traced run's buffered events into the per-layer metrics.
  * Counters and times are totals over the traced passes divided by the
  * number of traced passes, so a run with more passes reads the same.
  */
object Reduce {
  /** Logical plan nodes of a statement that writes through a V2 catalog. */
  private val WriteNodes = Set("AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic",
    "ReplaceData", "WriteDelta", "CreateTableAsSelect", "ReplaceTableAsSelect",
    "DeleteFromTable", "UpdateTable", "MergeIntoTable")

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def apply(t: Trace, opSpans: Seq[Span], windows: Seq[(Long, Long)], traced: Seq[Double],
      untraced: Seq[Double], cores: Int, scans: Seq[Seq[Map[String, Long]]], gcS: Double,
      rootBytesEnd: Long, calls: LayerCalls.Result, leaks: Seq[(Int, Int, Int)]): Map[String, Double] = {
    val n = math.max(1, traced.length).toDouble
    def inWindow(us: Long): Boolean = windows.exists { case (a, b) => us >= a && us <= b }
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()

    // plans.*: one QueryExecution per executed statement.
    val stmts = t.statements.asScala.toSeq.filter { case (qe, _) =>
      qe.tracker.phases.get("analysis").exists(p => inWindow(p.startTimeMs * 1000L))
    }
    def phase(name: String): Double =
      stmts.map(_._1.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)).sum / 1e3
    m("plans.statements") = stmts.length / n
    m("plans.analysis_s") = phase("analysis") / n
    m("plans.optimization_s") = phase("optimization") / n
    m("plans.physical_s") = phase("planning") / n
    m("plans.graft_rules_s") = stmts.map(_._1.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum).sum / 1e9 / n
    val writes = stmts.filter { case (qe, _) =>
      qe.logical.exists(p => WriteNodes.contains(p.getClass.getSimpleName))
    }

    // exec.*: scheduler and executors.
    val jobs = t.jobSpans.asScala.toSeq.filter(s => inWindow(s.startUs))
    val stages = t.stageSpans.asScala.toSeq.filter(s => inWindow(s.startUs))
    val tasks = t.tasks.asScala.toSeq.filter(e => inWindow(e.taskInfo.finishTime * 1000L))
    val metrics = tasks.flatMap(e => Option(e.taskMetrics))
    val runS = metrics.map(_.executorRunTime).sum / 1e3
    val opWall = opSpans.map(s => (s.endUs - s.startUs) / 1e6).sum
    m("exec.jobs") = jobs.length / n
    m("exec.stages") = stages.length / n
    m("exec.tasks") = tasks.length / n
    m("exec.task_run_s") = runS / n
    m("exec.task_cpu_s") = metrics.map(_.executorCpuTime).sum / 1e9 / n
    m("exec.task_overhead_s") = tasks.map { e =>
      e.taskInfo.duration - Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    }.sum / 1e3 / n
    m("exec.shuffle_write_bytes") = metrics.map(_.shuffleWriteMetrics.bytesWritten).sum / n
    m("exec.shuffle_read_bytes") = metrics.map(_.shuffleReadMetrics.totalBytesRead).sum / n
    m("exec.spill_bytes") = metrics.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).sum / n
    m("exec.task_failures") = tasks.count(_.reason != org.apache.spark.Success) / n
    m("exec.core_busy_ratio") = if (opWall > 0) runS / (opWall * cores) else 0.0

    // Self time of each span kind inside the ops; what no job covers is
    // driver-only. Every instant of an op is credited to exactly one kind,
    // so the five self times sum to the traced op time by construction.
    val batches = t.batchSpans.filter(s => inWindow(s.startUs))
    val self = Trace.selfTimes(opSpans, t.sqlSpans.asScala.toSeq ++ jobs ++ stages ++ batches)
    Seq("op", "batch", "statement", "job", "stage").foreach { k =>
      m(s"trace.${k}_self_s") = self.getOrElse(k, 0.0) / n
    }
    m("exec.driver_only_s") = Seq("op", "batch", "statement").map(self.getOrElse(_, 0.0)).sum / n
    m("trace.overhead_ratio") = if (untraced.nonEmpty) mean(traced) / mean(untraced) else 0.0

    // sources.*: task IO plus the catalog root, scanned between ops.
    m("sources.input_bytes") = metrics.map(_.inputMetrics.bytesRead).sum / n
    m("sources.input_rows") = metrics.map(_.inputMetrics.recordsRead).sum / n
    m("sources.output_bytes") = metrics.map(_.outputMetrics.bytesWritten).sum / n
    m("sources.output_rows") = metrics.map(_.outputMetrics.recordsWritten).sum / n
    m("sources.write_stmts") = writes.length / n
    m("sources.write_stmt_s") = writes.map(_._2).sum / 1e9 / n
    val fresh = scans.flatMap(_.sliding(2)).collect { case Seq(before, after) =>
      after.filter { case (p, sz) => !before.get(p).contains(sz) }
        .map { case (p, sz) => p -> (sz - before.getOrElse(p, 0L)).max(0L) }
    }.flatten
    def isLedgerDoc(p: String): Boolean = {
      val f = p.substring(p.lastIndexOf('/') + 1)
      p.contains("/_ledger/") && f.endsWith(".json") && !f.startsWith(".tmp-")
    }
    m("sources.files_written") = fresh.length / n
    m("sources.bytes_written") = fresh.map(_._2).sum / n
    m("sources.ledger_docs_written") = fresh.count(x => isLedgerDoc(x._1)) / n
    m("sources.ledger_bytes_written") = fresh.filter(x => isLedgerDoc(x._1)).map(_._2).sum / n
    m("sources.write_amplification") =
      if (m("sources.output_bytes") > 0) m("sources.bytes_written") / m("sources.output_bytes") else 0.0
    m("sources.root_bytes_end") = rootBytesEnd.toDouble

    // streaming.*: one progress event per micro-batch.
    val progress = t.progress.asScala.toSeq.filter { p =>
      inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L)
    }
    def dur(k: String): Double =
      progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / n
    val states = progress.flatMap(_.stateOperators.toSeq)
    m("streaming.batches") = progress.length / n
    m("streaming.data_batch_ratio") =
      if (progress.isEmpty) 0.0 else progress.count(_.numInputRows > 0).toDouble / progress.length
    m("streaming.input_rows") = progress.map(_.numInputRows).sum / n
    m("streaming.add_batch_s") = dur("addBatch")
    m("streaming.query_planning_s") = dur("queryPlanning")
    m("streaming.wal_commit_s") = dur("walCommit")
    m("streaming.commit_offsets_s") = dur("commitOffsets")
    m("streaming.latest_offset_s") = dur("latestOffset")
    m("streaming.get_batch_s") = dur("getBatch")
    m("streaming.trigger_s") = dur("triggerExecution")
    m("streaming.state_commit_s") = states.map(_.commitTimeMs).sum / 1e3 / n
    m("streaming.state_store_instances") = states.map(_.numStateStoreInstances).sum / n
    m("streaming.state_rows") = states.map(_.numRowsTotal).sum / n
    m("streaming.state_memory_bytes") = states.map(_.memoryUsedBytes).sum / n

    // operators.*, functions.*, tables.*: the direct layer calls.
    val allJobs = t.jobSpans.asScala.toSeq
    def callsOf(name: String) = calls.calls.filter(_.name == name)
    def jobsIn(c: LayerCalls.Call): Double = allJobs.count(j => j.startUs >= c.startUs && j.startUs <= c.endUs)
    Seq("kmeans_train", "cc_small", "cc_large").foreach { k =>
      val cs = callsOf(s"operators.$k")
      m(s"operators.${k}_s") = median(cs.map(_.seconds))
      m(s"operators.${k}_jobs") = median(cs.map(jobsIn))
    }
    Seq("minhash32", "simhash64", "srp_bucket", "cosine_sim", "bloom_might_contain").foreach { k =>
      val cs = callsOf(s"functions.$k")
      m(s"functions.${k}_rows_per_s") = if (cs.isEmpty) 0.0 else cs.head.rows / median(cs.map(_.seconds))
    }
    m("operators.ivf_recall_at10") = calls.ivfRecallAt10
    m("tables.table_s") = median(callsOf("tables.table").map(_.seconds))
    m("tables.register_all_s") = median(callsOf("tables.register_all").map(_.seconds))

    m("session.conf_leaks") = leaks.map(_._1).sum / n
    m("session.cache_leaks") = leaks.map(_._2).sum / n
    m("session.stream_leaks") = leaks.map(_._3).sum / n
    m("jvm.gc_s") = gcS / n
    m.toMap
  }
}
