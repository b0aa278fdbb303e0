package graftbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.Graft
import graft.core.{Changelog, ChangelogSpec, Maintenance}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Seeded changelog for the kv workload: files of `sizes(f)` rows,
  * Zipf-skewed keys over (user_id, event_type), ~10 % tombstones, monotone
  * event ids. With one file per micro-batch, the ingest stamps row `i` with
  * seq `i + 1`, so the generator knows every row's seq and keeps the
  * expected last-write-wins map. */
final class KvChangelog(seed: Long, sizes: IndexedSeq[Int]) {
  val users = 2000
  val types: IndexedSeq[String] = IndexedSeq("view", "click", "purchase", "signup", "error")
  val nKeys: Int = users * types.size
  private val rng = new SplittableRandom(seed)
  /** Key rank -> key id, a seeded permutation so hot keys are scattered. */
  private val perm: Array[Int] = {
    val a = Array.tabulate(nKeys)(identity)
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nKeys)(r => 1.0 / (r + 1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def zipfKey(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    perm(math.min(if (i >= 0) i else -i - 1, nKeys - 1))
  }
  def userOf(k: Int): Long = (k / types.size).toLong
  def typeOf(k: Int): String = types(k % types.size)
  def keyOf(user: Long, tpe: String): Int = user.toInt * types.size + types.indexOf(tpe)

  /** First row index of each file; the last entry is the row count. */
  private val starts: Array[Int] = sizes.scanLeft(0)(_ + _).toArray
  val n: Int = starts.last
  /** The seq high-water mark once the first `files` files are committed. */
  def seqAfter(files: Long): Long = starts(files.toInt).toLong
  val key = new Array[Int](n)
  val cents = new Array[Long](n)
  val deleted = new Array[Boolean](n)
  for (i <- 0 until n) {
    key(i) = zipfKey(rng)
    cents(i) = rng.nextInt(100000).toLong
    deleted(i) = rng.nextDouble() < 0.1
  }
  /** Row indices per key, ascending (= ascending seq). */
  val versions: Array[Array[Int]] = {
    val b = Array.fill(nKeys)(ArrayBuffer.empty[Int])
    for (i <- 0 until n) b(key(i)) += i
    b.map(_.toArray)
  }
  val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z

  def fileRows(f: Int): Seq[Row] = (starts(f) until starts(f + 1)).map { i =>
    Row(i.toLong, new java.sql.Timestamp((baseUs + i * 1000L) / 1000L), userOf(key(i)),
      typeOf(key(i)), cents(i) / 100.0, deleted(i))
  }
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false), StructField("ts", TimestampType),
    StructField("user_id", LongType, nullable = false), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("is_delete", BooleanType)))

  /** Newest row index of key `k` with seq <= `snap`, if live. */
  def visible(k: Int, snap: Long): Option[Int] = {
    val v = versions(k)
    // seq of row i is i + 1: newest i with i + 1 <= snap
    var lo = 0; var hi = v.length - 1; var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (v(mid) + 1L <= snap) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best < 0 || deleted(v(best))) None else Some(v(best))
  }

  /** (live keys, sum of event ids, sum of value cents) at `snap`. */
  def collapseSums(snap: Long): (Long, Long, Long) = {
    var c = 0L; var e = 0L; var v = 0L
    for (k <- 0 until nKeys) visible(k, snap).foreach { i => c += 1; e += i; v += cents(i) }
    (c, e, v)
  }
}

/** kv_mixed: the reference's own job at time-series call sizes. A writer
  * lands small changelog files into one continuous ingest stream; a reader
  * issues point gets, range scans and snapshot collapses at held snapshots
  * and compacts the committed view every few commits. */
final class KvMixed(o: Opts) extends Workload(o) {
  val Rows = 400
  /** Rows of the first file, a backlog committed in set-up. The timed
    * commits add about 5,000 rows; on a table of 400 rows per commit
    * alone, each compaction and whole-table read would cost more than the
    * one before, so a run's medians would depend on how many commits it
    * made. */
  val BaseRows = 40000
  val WarmFiles = 3
  /** Files generated per timed second: over four times the ~1.3 commits/s
    * of the engine at the benchmark's first commit, so a faster write path
    * does not run out of input. If it does, the timed window ends there. */
  val FilesPerSecond = 6
  val NFiles: Int = WarmFiles + o.seconds * FilesPerSecond
  val CompactEvery = 4
  /** The reader cycles through this sequence of read kinds: 60 % point
    * gets, 25 % range scans, 15 % collapses, interleaved by smooth weighted
    * round robin so that every prefix is as close to that mix as it can be.
    * A run makes only ~10 reads, and independent or shuffled draws would
    * move read_p50_s with the share of each kind a run happened to get. */
  val ReadMix: IndexedSeq[String] = {
    val weights = Seq("point_get" -> 12, "range_scan" -> 5, "collapse_at" -> 3)
    val total = weights.map(_._2).sum
    val credit = Array.fill(weights.size)(0)
    IndexedSeq.fill(total) {
      for (i <- credit.indices) credit(i) += weights(i)._2
      val best = credit.indices.maxBy(credit(_))
      credit(best) -= total
      weights(best)._1
    }
  }
  val spec = ChangelogSpec(Seq("user_id", "event_type"), "seq", Some("is_delete"))
  var log: KvChangelog = _
  var g: Graft = _
  var q: StreamingQuery = _
  def staging = s"$dir/staging"
  def src = s"$dir/src"
  def sink = s"$dir/sink"
  def ckpt = s"$dir/ckpt"
  def compactDir = s"$dir/compact"
  val committed = new AtomicLong(0) // committed files
  val compactions = ArrayBuffer.empty[Option[Maintenance.CompactionMetrics]]
  var rowsReturned = 0L
  /** Space amplification right after the first timed compaction: a fixed
    * point of the maintenance cycle (commit count ~ warm-up + CompactEvery),
    * where the end of a time-bounded run is not. */
  var spaceAmp: Option[Double] = None
  private def spaceNow(): Double = {
    val landed = Files.list(src).map(p => java.nio.file.Files.size(p)).sum
    (Files.du(sink) + Files.du(ckpt) + Files.du(compactDir)).toDouble / landed
  }
  var timedCommits = 0L
  /** (committed batches, committed rows) from `ingestProperties` after
    * warm-up and after the run, for the timed batches' mean size. */
  private def ingested(): (Long, Long) = {
    val p = g.ingestProperties(ckpt)
    (p("graft.ingest.committed.batches").toLong, p("graft.ingest.committed.rows").toLong)
  }
  var ingestedBefore, ingestedAfter = (0L, 0L)

  def generate(): Unit = {
    log = new KvChangelog(opts.seed, BaseRows +: IndexedSeq.fill(NFiles - 1)(Rows))
    // one element per slice: file f is partition f
    val files = spark.sparkContext.parallelize((0 until NFiles).map(log.fileRows), NFiles)
    spark.createDataFrame(files.flatMap(identity), log.schema).write.parquet(staging)
    Files.canonicalizeParts(staging)
  }

  def build(): Unit = {
    Files.mkdirs(src)
    Files.mkdirs(compactDir)
    g = Graft(spark, dir)
    committed.set(0)
    compactions.clear()
    lastOut = None
    val sc = spark.sparkContext
    sc.setJobGroup("stream", "kv ingest", interruptOnCancel = false)
    q = g.ingest(src, log.schema, sink, ckpt, Seq("event_id"), spec,
      availableNow = false, maxFilesPerTrigger = Some(1), triggerInterval = "100 milliseconds")
    sc.clearJobGroup()
  }

  def warmUp(): Unit = {
    (0 until WarmFiles).foreach(_ => land())
    val r = new SplittableRandom(opts.seed ^ 0x5eed)
    val snap = log.seqAfter(committed.get)
    pointGet(r, snap); rangeScan(r, snap); collapseAt(snap)
    compact(snap)
    compactions.clear()
    ingestedBefore = ingested()
  }

  private def file(i: Int) = f"part-$i%05d.parquet"

  /** Land the next file and wait until its rows are committed. Returns
    * (start, end) epoch ns of the wait, and the batch id. */
  private def land(): (Long, Long, Long) = {
    val i = committed.get.toInt
    val t0 = Clock.now()
    java.nio.file.Files.move(Files.path(s"$staging/${file(i)}"), Files.path(s"$src/${file(i)}"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // one file per micro-batch: batch id == file index
    def done = Option(q.lastProgress).exists(p => p.batchId > i || (p.batchId == i && p.numInputRows > 0))
    while (!done) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(1)
    }
    val t1 = Clock.now()
    committed.incrementAndGet()
    (t0, t1, i.toLong)
  }

  private def readView = tracer.span("streaming.read_committed")(g.readCommitted(sink, ckpt))._1

  private def pointGet(r: SplittableRandom, snap: Long): Long = {
    val k = log.zipfKey(r)
    val (u, t) = (log.userOf(k), log.typeOf(k))
    val df = readView
    val res = tracer.span("core.point_get") {
      Changelog.pointGet(df, spec, col("user_id") === u && col("event_type") === t, snap)
        .select("event_id", "seq", "value")
    }._1
    val rows = tracer.span("exec.collect")(res.collect())._1
    val got = rows.map(x => (x.getLong(0), x.getLong(1), math.round(x.getDouble(2) * 100))).toSeq
      .map { case (e, sq, c) => (e, sq, if (opts.corrupt) c + 1 else c) }
    val want = log.visible(k, snap).map(i => (i.toLong, i + 1L, log.cents(i))).toSeq
    ops.check(got == want, s"point_get($u,$t)@$snap: $got != $want")
    rows.length
  }

  private def rangeScan(r: SplittableRandom, snap: Long): Long = {
    val u0 = r.nextInt(log.users - 4).toLong
    val df = readView
    val res = tracer.span("core.range_scan") {
      Changelog.rangeScan(df.filter(col("seq") <= snap), spec,
        col("user_id").between(u0, u0 + 3), Seq("user_id", "event_type"))
        .select("user_id", "event_type", "event_id")
    }._1
    val rows = tracer.span("exec.collect")(res.collect())._1
    val got = rows.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
    val want = (u0 to u0 + 3).flatMap(u => log.types.sorted.flatMap { t =>
      log.visible(log.keyOf(u, t), snap).map(i => (u, t, i.toLong))
    })
    ops.check(got == want, s"range_scan($u0..${u0 + 3})@$snap: ${got.size} rows != ${want.size}")
    rows.length
  }

  private def collapseAt(snap: Long, view: => org.apache.spark.sql.DataFrame = readView): Long = {
    val df = view
    val res = tracer.span("core.collapse_at") {
      Changelog.collapseAt(df, spec, snap)
        .agg(count(lit(1)), sum(col("event_id")), sum(round(col("value") * 100).cast("long")))
    }._1
    val row = tracer.span("exec.collect")(res.collect())._1.head
    val got = (row.getLong(0), row.getLong(1), row.getLong(2))
    val want = log.collapseSums(snap)
    ops.check(got == want, s"collapse_at@$snap: $got != $want")
    got._1
  }

  private var lastOut: Option[String] = None
  private var outputs = 0

  /** Compact the committed view at the facade's snapshot floor into a new
    * directory, then drop the output it supersedes. */
  private def compact(current: Long): String = {
    outputs += 1
    val out = s"$compactDir/c$outputs"
    val retention = g.snapshots.retentionFloor(current)
    val df = readView.drop("batch_id")
    val m = tracer.span("core.compact")(Maintenance.compactFrameMetrics(spark, df, out, spec, retention))._1
    compactions += m
    lastOut.foreach(Files.deleteRecursively)
    lastOut = Some(out)
    out
  }

  def timed(seconds: Int): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    def more = System.nanoTime() < deadline
    val c0 = committed.get
    @volatile var writerDone = false
    val writer = client("writer") {
      try while (more && committed.get < NFiles) {
        val i = committed.get
        val (t0, t1, b) = land()
        ops.add("write", (t1 - t0) / 1e9)
        tracer.record("streaming.ingest_commit", "write", t0, t1, Map("batches" -> b.toString))
        val props = g.ingestProperties(ckpt)
        ops.check(props("graft.ingest.committed.rows").toLong == log.seqAfter(i + 1),
          s"committed rows ${props("graft.ingest.committed.rows")} after file $i")
      } finally writerDone = true
    }
    val reader = client("reader") {
      val r = new SplittableRandom(opts.seed * 31 + 7)
      val held = scala.collection.mutable.Queue.empty[graft.core.Snapshots.Handle]
      var nReads = 0
      var lastCompact = committed.get
      while (more && !writerDone) {
        if (nReads % 8 == 0) {
          held.enqueue(g.getSnapshot(log.seqAfter(committed.get)))
          if (held.size > 2) g.releaseSnapshot(held.dequeue())
        }
        val snap = held(r.nextInt(held.size)).seq
        val kind = ReadMix(nReads % ReadMix.size)
        val t0 = System.nanoTime()
        tracer.span(s"bench.$kind", "read") {
          ops.guarded(kind) {
            rowsReturned += (kind match {
              case "point_get" => pointGet(r, snap)
              case "range_scan" => rangeScan(r, snap)
              case _ => collapseAt(snap)
            })
          }
        }
        val s = (System.nanoTime() - t0) / 1e9
        ops.add("read", s); ops.add(kind, s)
        nReads += 1
        if (committed.get - lastCompact >= CompactEvery && more) {
          lastCompact = committed.get
          val t1 = System.nanoTime()
          val out = tracer.span("bench.compact", "compact")(compact(log.seqAfter(lastCompact)))._1
          ops.add("compact", (System.nanoTime() - t1) / 1e9)
          // a read at the oldest held snapshot, the one the retention floor
          // keeps, must agree on the compacted table
          ops.guarded("read after compaction") {
            collapseAt(held.head.seq, spark.read.parquet(out))
          }
          if (spaceAmp.isEmpty) spaceAmp = Some(spaceNow())
        }
      }
      held.foreach(g.releaseSnapshot)
    }
    writer.start(); reader.start()
    writer.join(); reader.join()
    timedCommits = committed.get - c0
  }

  def stop(): Unit = if (q != null) { q.stop(); q.awaitTermination() }

  def verify(): Unit = {
    ingestedAfter = ingested()
    ops.guarded("final collapse") {
      // the whole committed table at the final high-water mark
      collapseAt(log.seqAfter(committed.get))
    }
  }

  def e2e(wallS: Double): Map[String, Double] = {
    Map(
      "throughput_rows_per_s" -> timedCommits * Rows / wallS,
      "write_p50_s" -> Stat.median(ops.get("write")),
      "write_p90_s" -> Stat.quantile(ops.get("write"), 0.9),
      "read_p50_s" -> Stat.median(ops.get("read")),
      "read_p90_s" -> Stat.quantile(ops.get("read"), 0.9),
      "compact_s" -> Stat.median(ops.get("compact")),
      "space_amp" -> spaceAmp.getOrElse(spaceNow()))
  }

  def layers(): Map[String, Double] = {
    val done = compactions.flatten
    val (batches, rows) = (ingestedAfter._1 - ingestedBefore._1, ingestedAfter._2 - ingestedBefore._2)
    Map(
      "streaming.rows_per_batch" -> (if (batches > 0) rows.toDouble / batches else 0.0),
      "core.point_get_p50_s" -> Stat.median(ops.get("point_get")),
      "core.range_scan_p50_s" -> Stat.median(ops.get("range_scan")),
      "core.collapse_at_p50_s" -> Stat.median(ops.get("collapse_at")),
      "core.rows_examined_per_row_returned" ->
        Report.readRecords(tracer).toDouble / math.max(rowsReturned, 1L),
      "core.compact_rows_written" -> done.map(_.rowsWritten).sum.toDouble,
      "core.compact_bytes_written" -> done.map(_.bytesWritten).sum.toDouble,
      "core.compact_trivial_moves" -> compactions.count(_.isEmpty).toDouble,
      "core.writes_during_compaction_p50_s" -> Stat.median(Report.writesDuringCompaction(tracer)))
  }
}
