package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A benchmark workload: seeded inputs, a set-up that builds the state the
  * timed phase needs, closed-loop client threads for `seconds`, and output
  * checks. Subclasses fill the end-to-end metrics they measure. */
abstract class Workload(val opts: Opts) {
  val ops = new Ops
  val genS = ArrayBuffer.empty[Double]
  implicit var spark: SparkSession = _
  var tracer: Tracer = new Tracer(false, "setup")
  var dir: String = _

  /** Write the seeded inputs into `dir`. */
  def generate(): Unit
  /** Build state over the generated inputs (stream, indexes). */
  def build(): Unit
  /** Warm the JIT and the plans the timed phase runs. */
  def warmUp(): Unit
  /** The timed phase: start the client threads and join them. */
  def timed(seconds: Int): Unit
  /** Stop background queries started by set-up. */
  def stop(): Unit
  /** Post-run output checks (count into `ops`). */
  def verify(): Unit
  /** End-to-end metrics other than set-up time and heap. */
  def e2e(wallS: Double): Map[String, Double]
  /** Workload-specific per-layer metrics (traced run). */
  def layers(): Map[String, Double]

  /** Summed wall of the client loops, measured apart from the spans. */
  val clientWallNs = new java.util.concurrent.atomic.AtomicLong(0)

  /** A client thread running `body` as its timed loop under a
    * `client.<name>` root span. */
  protected def client(name: String)(body: => Unit): Thread = {
    val th = new Thread(() => {
      val t0 = System.nanoTime()
      tracer.span(s"client.$name") {
        ops.guarded(s"client $name")(body)
      }
      clientWallNs.addAndGet(System.nanoTime() - t0)
      ()
    }, s"bench-$name")
    th.setDaemon(true)
    th
  }
}

object Main {
  /** The end-to-end metrics the result line reports (and the benchmark
    * bounds). */
  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_rows_per_s" -> "rows/s", "write_p50_s" -> "s",
    "read_p50_s" -> "s", "compact_s" -> "s", "space_amp" -> "ratio", "heap_live_mb" -> "MB")
  /** Session starts and input generations per run. The first pays the
    * JVM's cold start; with three, the median is a warm repetition. */
  val SetupReps = 3
  /** Tails, in the result file only: a run holds too few samples for a
    * 90th percentile with ten samples beyond it, so they are not bounded. */
  val TailUnits: Seq[(String, String)] = Seq("write_p90_s" -> "s", "read_p90_s" -> "s")

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(
      workload = m.getOrElse("workload", sys.error("--workload is required")),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toInt,
      trace = m.getOrElse("trace", "0") == "1",
      work = m.getOrElse("work", sys.error("--work is required")),
      out = m.getOrElse("out", sys.error("--out is required")),
      cpus = m.getOrElse("cpus", "4").toInt,
      corrupt = m.getOrElse("corrupt", "0") == "1")
  }

  def workload(o: Opts): Workload = o.workload match {
    case "kv_mixed" => new KvMixed(o)
    case "olap_scan" => new OlapScan(o)
    case other => sys.error(s"unknown workload: $other")
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Disk-read calibration (the method of `graft.Bench.calibMbPerS`):
    * stream the largest generated input file through the OS, MB/s. */
  def calibMbPerS(dir: String): Double = {
    val files = {
      val st = java.nio.file.Files.walk(Files.path(dir))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet")).toVector
      } finally st.close()
    }
    if (files.isEmpty) return -1.0
    val f = files.maxBy(java.nio.file.Files.size)
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    val in = java.nio.file.Files.newInputStream(f)
    try { while (in.read(buf) > 0) () } finally in.close()
    java.nio.file.Files.size(f) / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try {
      if (o.workload == "generate") generateAll(o) else run(o)
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] run failed: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  /** Write every workload's generated inputs under `work/<workload>` (for
    * the determinism self-test), nothing else. */
  def generateAll(o: Opts): Unit = {
    Files.deleteRecursively(o.work)
    val spark = Session.start(o.work, o.cpus)
    Seq("kv_mixed", "olap_scan").foreach { name =>
      val w = workload(o.copy(workload = name))
      w.spark = spark
      w.dir = s"${o.work}/$name"
      w.generate()
    }
    spark.stop()
  }

  def run(o: Opts): Unit = {
    val runId = f"${System.currentTimeMillis()}%x-${ProcessHandle.current.pid}%d"
    Files.deleteRecursively(o.work)
    Files.mkdirs(o.work)
    val loadStart = loadAvg
    val w = workload(o)
    // Session start and input generation run SetupReps times, each with a
    // fresh session and directory; the last is kept. The reported set-up
    // time is their median plus the one state build and warm-up that follow.
    val setupS = (1 to SetupReps).map { rep =>
      if (rep > 1) {
        w.spark.stop()
        Files.deleteRecursively(w.dir)
      }
      val t0 = System.nanoTime()
      w.spark = Session.start(o.work, o.cpus)
      w.dir = s"${o.work}/rep$rep"
      val t1 = System.nanoTime()
      w.generate()
      w.genS += (System.nanoTime() - t1) / 1e9
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] setup rep $rep: $s%.3f s")
      s
    }
    val warmS = {
      val t0 = System.nanoTime()
      w.build()
      w.warmUp()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[bench] build and warm-up: $warmS%.3f s")
    val calib = calibMbPerS(w.dir)
    val tracer = new Tracer(o.trace, runId)
    tracer.attach(w.spark)
    w.tracer = tracer
    w.ops.clearSamples()
    // persisted-RDD peak, sampled only when tracing
    val persistedPeak = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sampling = o.trace
    val sampler = new Thread(() => while (sampling) {
      persistedPeak.accumulateAndGet(w.spark.sparkContext.getPersistentRDDs.size, math.max)
      Thread.sleep(50)
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    w.timed(o.seconds)
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    sampler.join()
    val threadWall = w.clientWallNs.get / 1e9
    val heapMb = LiveHeap.mb()
    tracer.detach(w.spark)
    w.stop()
    w.verify()

    val e2e = Map("setup_s" -> (Stat.median(setupS) + warmS), "heap_live_mb" -> heapMb) ++ w.e2e(wall)
    val layers: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val base = Report.layerUnits.map(_._1 -> 0.0).toMap
        base ++ Report.tracerLayers(tracer, o.cpus, wall, threadWall) ++ w.layers() ++
          Map("bench.gen_s" -> Stat.median(w.genS.toSeq), "exec.persisted_rdds_peak" -> persistedPeak.get.toDouble)
      }
    val breakdown = if (o.trace) Some(Report.breakdown(tracer)) else None
    if (o.trace) {
      val spanFile = o.out.stripSuffix(".json") + ".spans.jsonl"
      Files.write(spanFile, tracer.spansJson.mkString("", "\n", "\n"))
    }
    val units = (E2eUnits ++ TailUnits ++ Report.layerUnits).toMap
    def metricObj(m: Map[String, Double], order: Seq[String]): Seq[(String, Any)] =
      order.filter(m.contains).map(k => k -> Map("value" -> m(k), "unit" -> units(k)))
    val result = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus, "run_id" -> runId,
      "trace" -> o.trace, "seconds" -> o.seconds, "timed_wall_s" -> wall,
      "attempted" -> w.ops.attempted.get, "failed" -> w.ops.failed.get,
      "failures" -> scala.jdk.CollectionConverters.IteratorHasAsScala(w.ops.failures.iterator).asScala.toSeq,
      "setup_reps_s" -> setupS, "build_warm_up_s" -> warmS,
      "samples" -> w.ops.all,
      "host" -> Map("load_avg_start" -> loadStart, "load_avg_end" -> loadAvg,
        "calib_read_mb_per_s" -> calib, "cpus" -> o.cpus),
      "end_to_end" -> RawJson(Json.obj(metricObj(e2e, E2eUnits.map(_._1)))),
      "tails" -> RawJson(Json.obj(metricObj(e2e, TailUnits.map(_._1)))),
      "per_layer" -> RawJson(Json.obj(metricObj(layers, Report.layerUnits.map(_._1)))),
      "layer_self_s" -> breakdown.map(_.layerSelfNs.map { case (k, v) => k -> v / 1e9 }),
      "client_wall_s" -> threadWall
    ))
    Files.write(o.out, result + "\n")
    w.spark.stop()
  }
}

/** Pre-rendered JSON embedded as is. */
final case class RawJson(s: String) {
  override def toString: String = s
}
