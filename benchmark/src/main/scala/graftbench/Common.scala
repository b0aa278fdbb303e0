package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-run options, parsed from the command line. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
    out: String, cpus: Int, corrupt: Boolean)

/** Latency samples and success counts shared by a workload's client
  * threads. Every operation that is timed is also counted as attempted; a
  * wrong result or an exception counts it failed. */
final class Ops {
  private val samples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Forget the latency samples taken so far (set-up's warm-up ops). */
  def clearSamples(): Unit = synchronized(samples.clear())

  def add(kind: String, seconds: Double): Unit = synchronized {
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += seconds
  }
  def get(kind: String): Seq[Double] = synchronized(samples.get(kind).map(_.toSeq).getOrElse(Nil))
  def all: Map[String, Seq[Double]] = synchronized(samples.map { case (k, v) => k -> v.toSeq }.toMap)

  /** Count one attempted operation; `ok = false` records it failed with a
    * short reason (kept for the result file). */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failures.size < 50) failures.add(what)
    }
    ok
  }

  /** Run `f`, counting a thrown exception as one failed operation. */
  def guarded(what: String)(f: => Unit): Unit =
    try f catch {
      case e: InterruptedException => throw e
      case e: Throwable => check(ok = false, s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
}

object Stat {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Driver heap in use after full collections, MB. A collection lets
  * Spark's cleaner see unreachable broadcasts, shuffles and RDDs and drop
  * them in the background; the next one reclaims what it dropped. So
  * collect every quarter second, at least three times, until the heap
  * stops shrinking (by 1 MB), at most eight times. */
object LiveHeap {
  private def used(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
  def mb(): Double = {
    var prev = Double.MaxValue
    var cur = used()
    var n = 1
    while (n < 8 && (n < 3 || prev - cur > 1.0)) {
      Thread.sleep(250)
      prev = cur
      cur = used()
      n += 1
    }
    System.err.println(f"[bench] live heap $cur%.1f MB after $n collections")
    cur
  }
}

object Files {
  import java.nio.file.{Files => JF, Path, Paths}
  def path(s: String): Path = Paths.get(s)
  def deleteRecursively(p: String): Unit = {
    val root = path(p)
    if (JF.exists(root)) {
      val st = JF.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => { JF.deleteIfExists(f); () })
      finally st.close()
    }
  }
  /** Bytes of regular files under `p` (0 if absent). A live stream may
    * remove files during the walk; those count as gone. */
  def du(p: String): Long = {
    val root = path(p)
    if (!JF.exists(root)) return 0L
    var total = 0L
    JF.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.isRegularFile) total += a.size
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) = java.nio.file.FileVisitResult.CONTINUE
    })
    total
  }
  def mkdirs(p: String): Unit = { JF.createDirectories(path(p)); () }
  def write(p: String, s: String): Unit = { JF.writeString(path(p), s); () }
  def list(p: String): Seq[Path] = {
    val root = path(p)
    if (!JF.exists(root)) Nil
    else {
      val st = JF.list(root)
      try st.iterator.asScala.toVector.sortBy(_.getFileName.toString) finally st.close()
    }
  }

  /** Rename Spark's `part-NNNNN-<uuid>...parquet` outputs in `dir` to
    * `part-NNNNN.parquet` and drop its marker and checksum files, so a
    * generated table has the same file names and bytes on every run. */
  def canonicalizeParts(dir: String): Unit =
    list(dir).foreach { f =>
      val n = f.getFileName.toString
      if (n.startsWith("part-") && n.endsWith(".parquet")) {
        JF.move(f, f.resolveSibling(n.take(10) + ".parquet"))
      } else if (n.startsWith("_") || n.startsWith(".")) JF.delete(f)
    }
}

object Session {
  /** Engine session as the engine configures it, with every scratch
    * directory inside the run's work directory. */
  def start(work: String, cpus: Int): SparkSession = {
    val s = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-benchmark")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.ui.enabled", "false"),
      shufflePartitions = math.max(cpus, 4)
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
