package graftbench

/** Per-layer metrics of a traced run, computed from the tracer's spans and
  * listener records. Every workload reports the same names; a layer the
  * workload does not exercise reads 0. */
object Report {
  val OpKinds: Seq[String] = Seq("write", "read", "compact", "query")
  val Queries: Seq[String] = Seq(
    "q01_scan_project", "q04_filter_compound", "q05_lww_collapse", "q25_compact",
    "q07_join_inner", "q08_join_broadcast", "q12_agg_hash", "q15_window_rank", "q17_topk")

  private val execMetrics: Seq[(String, String)] = Seq(
    "jobs_per_op" -> "count", "stages_per_op" -> "count", "tasks_per_op" -> "count",
    "driver_gap_s" -> "s", "task_run_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "core_busy_frac" -> "ratio", "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_bytes" -> "bytes", "records_read" -> "rows",
    "failed_tasks" -> "count")

  /** Every per-layer metric name with its unit, in report order. */
  val layerUnits: Seq[(String, String)] =
    Seq("streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
      "streaming.source_rows_read_per_batch" -> "rows",
      "streaming.trigger_p50_s" -> "s", "streaming.add_batch_p50_s" -> "s",
      "streaming.overhead_p50_s" -> "s",
      "core.point_get_p50_s" -> "s", "core.range_scan_p50_s" -> "s",
      "core.collapse_at_p50_s" -> "s", "core.rows_examined_per_row_returned" -> "ratio",
      "core.compact_rows_written" -> "rows", "core.compact_bytes_written" -> "bytes",
      "core.compact_trivial_moves" -> "count", "core.writes_during_compaction_p50_s" -> "s",
      "operators.bm25_p50_s" -> "s") ++
      Seq("plans.analysis_s" -> "s", "plans.optimizer_s" -> "s", "plans.planning_s" -> "s",
        "plans.plan_frac" -> "ratio") ++
      Queries.map(q => s"queries.${q}_s" -> "s") ++
      OpKinds.flatMap(k => execMetrics.map { case (m, u) => s"exec.$k.$m" -> u }) ++
      Seq("exec.persisted_rdds_peak" -> "count", "exec.storage_peak_bytes" -> "bytes",
        "bench.gen_s" -> "s", "bench.tracing_overhead_frac" -> "ratio",
        "bench.span_sum_err_frac" -> "ratio")

  /** Jobs launched on behalf of an op span: its own job group, or (for a
    * write op) the stream micro-batches it waited for. */
  def jobsOf(t: Tracer, op: Span, byGroup: Map[String, Seq[Job]],
      byBatch: Map[Long, Seq[Job]]): Seq[Job] = {
    val own = byGroup.getOrElse(s"op-${op.id}", Nil)
    val batches = op.attrs.get("batches").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toLong)
    own ++ batches.flatMap(b => byBatch.getOrElse(b, Nil))
  }

  /** Job group of each recorded planning phase's SQL execution. */
  def phaseGroups(t: Tracer, jobs: Seq[Job]): Seq[(String, String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val groupOfExec: Map[Long, String] =
      t.execGroup.asScala.toMap.map { case (k, v) => k.longValue -> v } ++
        jobs.filter(_.execId >= 0).map(j => j.execId -> j.group).toMap
    t.phases.asScala.toSeq.map { case (qe, name, a, b) =>
      val g = Option(t.qeExec.get(qe)).flatMap(e => groupOfExec.get(e)).getOrElse("")
      (g, name, a, b)
    }
  }

  /** Layer of a span by its name prefix (`core.point_get` is `core`). */
  def layerOf(name: String): String = name.takeWhile(_ != '.')

  final case class Breakdown(layerSelfNs: Map[String, Long], rootWallNs: Long, selfSumNs: Long)

  /** Split every client thread's timeline into layer self times. Each
    * bench span's self time is its duration minus what its child spans
    * cover; inside a leaf span, the time its op's jobs cover is `exec`, the
    * planning phases outside jobs are `plans`, and the rest is the leaf's
    * own layer. The roots are the `client.*` spans. */
  def breakdown(t: Tracer): Breakdown = {
    val spans = t.allSpans
    val children = spans.groupBy(_.parent)
    val jobs = t.allJobs.filter(_.end > 0)
    val byGroup = jobs.groupBy(_.group)
    val byBatch = jobs.filter(_.batch >= 0).groupBy(_.batch)
    val phasesByGroup = phaseGroups(t, jobs).groupBy(_._1)
    val self = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var rootWall = 0L
    def visit(s: Span, op: Option[Span]): Unit = {
      val kids = children.getOrElse(s.id, Nil)
      val curOp = if (s.kind.nonEmpty) Some(s) else op
      if (kids.nonEmpty) {
        self(layerOf(s.name)) += s.dur - Intervals.coveredLen(kids.map(k => (k.start, k.end)), s.start, s.end)
        kids.foreach(visit(_, curOp))
      } else {
        val (jobIv, phIv) = curOp.fold((Seq.empty[(Long, Long)], Seq.empty[(Long, Long)])) { o =>
          (jobsOf(t, o, byGroup, byBatch).map(j => (j.start, j.end)),
            phasesByGroup.getOrElse(s"op-${o.id}", Nil).map { case (_, _, a, b) => (a * 1000000L, b * 1000000L) })
        }
        val ex = Intervals.coveredLen(jobIv, s.start, s.end)
        val pl = Intervals.coveredMinus(phIv, jobIv, s.start, s.end)
        self("exec") += ex
        self("plans") += pl
        self(layerOf(s.name)) += s.dur - ex - pl
      }
    }
    spans.filter(s => s.parent == 0 && s.name.startsWith("client.")).foreach { r =>
      rootWall += r.dur
      visit(r, None)
    }
    Breakdown(self.toMap, rootWall, self.values.sum)
  }

  /** Exec, plans and streaming per-layer metrics from listener records over
    * the op spans; the workload adds its own layers. */
  def tracerLayers(t: Tracer, cpus: Int, timedWallS: Double, threadWallS: Double): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = t.allSpans
    val ops = spans.filter(_.kind.nonEmpty)
    val jobs = t.allJobs.filter(_.end > 0)
    val byGroup = jobs.groupBy(_.group)
    val byBatch = jobs.filter(_.batch >= 0).groupBy(_.batch)
    val out = scala.collection.mutable.Map.empty[String, Double]
    OpKinds.foreach { k =>
      val ks = ops.filter(_.kind == k)
      val n = math.max(ks.size, 1).toDouble
      var nJobs, nStages, nTasks, failedTasks = 0L
      var gapNs, runMs, cpuNs, gcMs, shR, shW, spill, inB, recs, wallNs = 0L
      ks.foreach { op =>
        val js = jobsOf(t, op, byGroup, byBatch)
        nJobs += js.size
        gapNs += op.dur - Intervals.coveredLen(js.map(j => (j.start, j.end)), op.start, op.end)
        wallNs += op.dur
        js.foreach { j =>
          val a = t.jobAgg(j)
          nStages += t.stagesOf(j); nTasks += a.tasks; failedTasks += a.failedTasks
          runMs += a.runMs; cpuNs += a.cpuNs; gcMs += a.gcMs; shR += a.shuffleRead
          shW += a.shuffleWrite; spill += a.spill; inB += a.inputBytes; recs += a.records
        }
      }
      out ++= Map(
        s"exec.$k.jobs_per_op" -> nJobs / n, s"exec.$k.stages_per_op" -> nStages / n,
        s"exec.$k.tasks_per_op" -> nTasks / n, s"exec.$k.driver_gap_s" -> gapNs / 1e9 / n,
        s"exec.$k.task_run_s" -> runMs / 1e3 / n, s"exec.$k.task_cpu_s" -> cpuNs / 1e9 / n,
        s"exec.$k.gc_s" -> gcMs / 1e3 / n,
        s"exec.$k.core_busy_frac" -> (if (wallNs > 0) runMs * 1e6 / (wallNs.toDouble * cpus) else 0.0),
        s"exec.$k.shuffle_read_bytes" -> shR / n, s"exec.$k.shuffle_write_bytes" -> shW / n,
        s"exec.$k.spill_bytes" -> spill / n, s"exec.$k.input_bytes" -> inB / n,
        s"exec.$k.records_read" -> recs / n, s"exec.$k.failed_tasks" -> failedTasks.toDouble)
    }
    // planning phases of the non-write ops, by the op their execution names
    val readOps = ops.filter(_.kind != "write")
    val readGroups = readOps.map(o => s"op-${o.id}").toSet
    val ph = phaseGroups(t, jobs).filter(p => readGroups(p._1))
    def phaseS(name: String): Double =
      ph.filter(_._2 == name).map { case (_, _, a, b) => (b - a) / 1e3 }.sum
    val nRead = math.max(readOps.size, 1).toDouble
    val (an, opt, pl) = (phaseS("analysis"), phaseS("optimization"), phaseS("planning"))
    val readWall = readOps.map(_.dur).sum / 1e9
    out ++= Map("plans.analysis_s" -> an / nRead, "plans.optimizer_s" -> opt / nRead,
      "plans.planning_s" -> pl / nRead,
      "plans.plan_frac" -> (if (readWall > 0) (an + opt + pl) / readWall else 0.0))
    // streaming: micro-batch progress inside the timed window. Spark's
    // numInputRows counts every scan of a batch's source rows (the sink
    // scans a batch more than once), so it is reported as rows read, not
    // as batch size; the workload reports `streaming.rows_per_batch`.
    val prog = t.progress.asScala.toSeq
    def d(p: (Long, Long, Map[String, Long], Long), k: String) = p._3.getOrElse(k, 0L) / 1e3
    out ++= Map(
      "streaming.batches" -> prog.size.toDouble,
      "streaming.source_rows_read_per_batch" -> Stat.mean(prog.map(_._4.toDouble)),
      "streaming.trigger_p50_s" -> Stat.median(prog.map(d(_, "triggerExecution"))),
      "streaming.add_batch_p50_s" -> Stat.median(prog.map(d(_, "addBatch"))),
      "streaming.overhead_p50_s" -> Stat.median(prog.map(p => d(p, "triggerExecution") - d(p, "addBatch"))))
    out += "exec.storage_peak_bytes" -> t.storagePeak.get.toDouble
    out += "bench.tracing_overhead_frac" -> t.callbackNs.get / 1e9 / math.max(timedWallS, 1e-9)
    val b = breakdown(t)
    out += "bench.span_sum_err_frac" ->
      (if (threadWallS > 0) math.abs(b.selfSumNs / 1e9 - threadWallS) / threadWallS else 0.0)
    out.toMap
  }

  /** Record ids of the reads, to relate rows examined to rows returned. */
  def readRecords(t: Tracer): Long = {
    val jobs = t.allJobs.filter(_.end > 0)
    val byGroup = jobs.groupBy(_.group)
    t.allSpans.filter(_.kind == "read").flatMap(o => byGroup.getOrElse(s"op-${o.id}", Nil))
      .map(j => t.jobAgg(j).records).sum
  }

  /** Write ops that overlap a compaction op. */
  def writesDuringCompaction(t: Tracer): Seq[Double] = {
    val ops = t.allSpans.filter(_.kind.nonEmpty)
    val comps = ops.filter(_.kind == "compact")
    ops.filter(_.kind == "write")
      .filter(w => comps.exists(c => c.start < w.end && w.start < c.end))
      .map(_.dur / 1e9)
  }
}
