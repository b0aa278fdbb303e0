package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span on the benchmark's own timeline. Times are epoch nanoseconds
  * (see [[Clock]]), so they line up with the epoch-millisecond times Spark's
  * listeners report. `kind` is the op kind (write, read, compact, query) for
  * op spans and empty for the others. `attrs` carries the stream batch ids a
  * write op waited for. */
final case class Span(
    id: Long, parent: Long, name: String, kind: String, thread: String, run: String,
    start: Long, end: Long, attrs: Map[String, String] = Map.empty) {
  def dur: Long = end - start
}

/** Epoch-anchored monotonic clock: nanoTime deltas added to one
  * currentTimeMillis reading, so spans are monotonic yet comparable with
  * listener timestamps (epoch ms). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

/** One Spark job as the listener saw it: its job group, the stream batch
  * it belongs to (-1 if none), and its SQL execution id (-1 if none). */
final class Job(val id: Int, val start: Long, val group: String, val batch: Long,
    val execId: Long, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** Task metrics summed over a stage (or a job's stages). */
final class StageAgg {
  var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var inputBytes = 0L
  var records = 0L
}

/** Span recorder plus Spark's public listeners, attached from outside the
  * engine. With `enabled = false` nothing is recorded and no listener is
  * attached: the end-to-end run measures the untraced system.
  *
  * Attribution: every op span sets a job group `op-<spanId>` on its thread,
  * so jobs (and the SQL executions that launch them) name the op that caused
  * them. A streaming query inherits its starter's job group; its jobs carry
  * the micro-batch id, which a write op records as an attribute. */
final class Tracer(val enabled: Boolean, val run: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  /** Nanoseconds spent inside the tracer's own listener callbacks. */
  val callbackNs = new AtomicLong(0)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** QueryExecution id -> SQL execution id, from execution-end events. */
  val qeExec = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** (QueryExecution id, phase name, start ms, end ms) from QueryPlanningTracker. */
  val phases = new ConcurrentLinkedQueue[(Long, String, Long, Long)]()
  /** (batch id, epoch ms at trigger start, durationMs by phase, input rows). */
  val progress = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long], Long)]()
  private val blockBytes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val storageNow = new AtomicLong(0)
  val storagePeak = new AtomicLong(0)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
      val j = new Job(e.jobId, e.time * 1000000L, prop("spark.jobGroup.id").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.records += m.inputMetrics.recordsRead
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val info = e.blockUpdatedInfo
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val size = info.memSize + info.diskSize
      val prev = if (size > 0) blockBytes.put(key, size) else blockBytes.remove(key)
      val now = storageNow.addAndGet(size - Option(prev).map(_.longValue).getOrElse(0L))
      storagePeak.accumulateAndGet(now, math.max)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
        case e: SparkListenerSQLExecutionEnd =>
          // the end event carries its QueryExecution (an accessor not in the
          // public API), which links planning phases to the execution
          scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
            .toOption.filter(_ != null).foreach(qe => qeExec.put(qe.id, e.executionId))
        case _ =>
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add((p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      qe.tracker.phases.foreach { case (name, s) =>
        phases.add((qe.id, name, s.startTimeMs, s.endTimeMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `f` inside a span. An op span (non-empty `kind`) scopes the jobs it
    * launches with job group `op-<id>`. Returns the result and the span. */
  def span[T](name: String, kind: String = "", attrs: => Map[String, String] = Map.empty)(
      f: => T)(implicit spark: SparkSession): (T, Span) = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    if (enabled && kind.nonEmpty) sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    stack.set(id :: parents)
    val t0 = Clock.now()
    try {
      val r = f
      val s = Span(id, parents.headOption.getOrElse(0L), name, kind,
        Thread.currentThread.getName, run, t0, Clock.now(), attrs)
      if (enabled) spans.add(s)
      (r, s)
    } finally {
      stack.set(parents)
      if (enabled && kind.nonEmpty) {
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
      }
    }
  }

  /** Record an already-timed span (e.g. a write op whose end is observed by
    * polling) under the current thread's parent. */
  def record(name: String, kind: String, start: Long, end: Long, attrs: Map[String, String]): Span = {
    val s = Span(ids.incrementAndGet(), stack.get.headOption.getOrElse(0L), name, kind,
      Thread.currentThread.getName, run, start, end, attrs)
    if (enabled) spans.add(s)
    s
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq

  /** Task aggregates of one job over the stages it owns. */
  def jobAgg(j: Job): StageAgg = {
    val out = new StageAgg
    j.stages.filter(s => stageToJob.get(s) == j.id).foreach { s =>
      Option(stageAgg.get(s)).foreach { a =>
        a.synchronized {
          out.tasks += a.tasks; out.failedTasks += a.failedTasks; out.runMs += a.runMs
          out.cpuNs += a.cpuNs; out.gcMs += a.gcMs; out.shuffleRead += a.shuffleRead
          out.shuffleWrite += a.shuffleWrite; out.spill += a.spill
          out.inputBytes += a.inputBytes; out.records += a.records
        }
      }
    }
    out
  }

  def stagesOf(j: Job): Int = j.stages.count(s => stageAgg.containsKey(s) && stageToJob.get(s) == j.id)

  /** Spans as JSON lines, for the run's span file. */
  def spansJson: Seq[String] = allSpans.sortBy(_.start).map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "thread" -> s.thread, "run" -> s.run, "start_ns" -> s.start, "end_ns" -> s.end,
      "attrs" -> s.attrs))
  }
}

/** Interval arithmetic over epoch-nanosecond intervals. */
object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi). */
  def coveredLen(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Intervals of `xs` minus the union of `cut`, as a covered length within
    * [lo, hi). */
  def coveredMinus(xs: Seq[(Long, Long)], cut: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    coveredLen(xs ++ cut, lo, hi) - coveredLen(cut, lo, hi)
}

/** Minimal JSON rendering for results and spans (no library on the
  * classpath is needed for this). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(value)
    case r: RawJson => r.s
    case other => str(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
