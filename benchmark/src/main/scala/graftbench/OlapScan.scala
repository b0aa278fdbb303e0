package graftbench

import java.util.SplittableRandom

import graft.queries.Registry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star schema with the testdata's schemas and sf0.1 proportions,
  * generated at `frac` of the sf0.1 row counts, then a key-shifted upscale
  * by `reps` replicas under `graft.tools.Upscale`'s rules: fact keys shift
  * by `r * (max + 1)` consistently, region and nation stay fixed, events
  * also shift user ids and move `ts` by the hour-aligned history span plus
  * two hours. Every column is a pure function of (seed, row id), and each
  * table is written from a fixed number of range partitions, so a seed
  * always gives the same bytes. */
final class OlapGen(seed: Long, frac: Double, reps: Int) {
  private val sf01: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "users" -> 1500L)
  /** Rows of one replica (dimension tables keep their size). */
  val baseRows: Map[String, Long] = sf01.map { case (t, n) =>
    t -> (if (t == "region" || t == "nation") n else math.round(n * frac))
  }
  /** Rows of each table after the upscale. */
  val rows: Map[String, Long] = baseRows.map { case (t, n) =>
    t -> (if (t == "region" || t == "nation") n else n * reps)
  }
  private val evGapUs = 26000000L // ~26 s between events, as in sf0.1

  private def h(seed: Long, salt: Int, c: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), c), lit(Long.MaxValue))
  /** Uniform integer in [0, n). */
  private def uni(seed: Long, salt: Int, n: Long, c: Column = col("id")): Column = pmod(h(seed, salt, c), lit(n))
  private def cents(seed: Long, salt: Int, lo: Long, hi: Long): Column =
    ((uni(seed, salt, hi - lo + 1) + lit(lo)).cast("double") / 100.0)
  private def pick(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (uni(seed, salt, xs.size.toLong) + 1).cast("int"))
  private def day(seed: Long, salt: Int, fromDay: Long, days: Long): Column =
    timestamp_seconds((uni(seed, salt, days) + lit(fromDay)) * 86400L)

  def base(spark: SparkSession, table: String, parts: Int): DataFrame = {
    val n = baseRows(table)
    val (nCust, nSupp, nPart, nOrd) =
      (baseRows("customer"), baseRows("supplier"), baseRows("part"), baseRows("orders"))
    val r = spark.range(0, n, 1, parts)
    val d1995 = 9131L // 1995-01-01 in days since epoch
    table match {
      case "region" => r.select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name"))
      case "nation" => r.select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" => r.select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        uni(seed, 1, 25).cast("int").as("c_nationkey"), cents(seed, 2, -99999, 999999).as("c_acctbal"),
        pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" => r.select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        uni(seed, 4, 25).cast("int").as("s_nationkey"), cents(seed, 5, -99999, 999999).as("s_acctbal"))
      case "part" => r.select(col("id").as("p_partkey"),
        concat_ws(" ", pick(seed, 6, Seq("large", "hot", "blue", "old", "red", "small", "green", "dark")),
          pick(seed, 7, Seq("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"))).as("p_name"),
        concat(lit("Brand#"), uni(seed, 8, 25) + 1).as("p_brand"),
        pick(seed, 9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")).as("p_type"),
        (uni(seed, 10, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice"))
      case "orders" => r.select(col("id").as("o_orderkey"), uni(seed, 11, nCust).as("o_custkey"),
        pick(seed, 12, Seq("O", "F", "P")).as("o_orderstatus"), cents(seed, 13, 100000, 50000000).as("o_totalprice"),
        day(seed, 14, d1995, 2404).as("o_orderdate"),
        pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" => r.select(uni(seed, 16, nOrd).as("l_orderkey"), uni(seed, 17, nPart).as("l_partkey"),
        uni(seed, 18, nSupp).as("l_suppkey"), (uni(seed, 19, 7) + 1).cast("int").as("l_linenumber"),
        (uni(seed, 20, 50) + 1).cast("double").as("l_quantity"), cents(seed, 21, 90000, 10500000).as("l_extendedprice"),
        (uni(seed, 22, 11).cast("double") / 100.0).as("l_discount"), (uni(seed, 23, 9).cast("double") / 100.0).as("l_tax"),
        pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"), pick(seed, 25, Seq("O", "F")).as("l_linestatus"),
        day(seed, 26, d1995 + 1, 2600).as("l_shipdate"))
      case "events" => r.select(col("id").as("event_id"),
        // 2024-01-01 plus ~26 s per event with jitter: monotone in event id
        timestamp_micros(lit(1704067200000000L) + col("id") * evGapUs + uni(seed, 27, evGapUs)).as("ts"),
        uni(seed, 28, baseRows("users")).as("user_id"),
        pick(seed, 29, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
        cents(seed, 30, 0, 56000).as("value"),
        format_string("{\"k\": %d}", uni(seed, 31, 100)).as("props"))
    }
  }

  /** Replicate `df` `reps` times as Upscale does, shifting `shifts`
    * (column -> span) by `replica * span`. */
  private def upscale(df: DataFrame, reps: Int, shifts: Seq[(String, Long)]): DataFrame = {
    val x = df.withColumn("_r", explode(sequence(lit(0L), lit(reps - 1L))))
    shifts.foldLeft(x) { case (d, (c, span)) =>
      if (c == "ts") d.withColumn(c, timestamp_micros(unix_micros(col(c)) + col("_r") * lit(span)))
      else d.withColumn(c, col(c) + col("_r") * lit(span))
    }.drop("_r")
  }

  /** Write every table under `dir` (`<table>.parquet` directories). */
  def write(spark: SparkSession, dir: String): Unit = {
    val hourUs = 3600L * 1000000L
    val evSpanUs = ((baseRows("events") * evGapUs) / hourUs + 2) * hourUs
    val b = baseRows
    val shifts: Map[String, Seq[(String, Long)]] = Map(
      "customer" -> Seq("c_custkey" -> b("customer")), "supplier" -> Seq("s_suppkey" -> b("supplier")),
      "part" -> Seq("p_partkey" -> b("part")),
      "orders" -> Seq("o_orderkey" -> b("orders"), "o_custkey" -> b("customer")),
      "lineitem" -> Seq("l_orderkey" -> b("orders"), "l_partkey" -> b("part"), "l_suppkey" -> b("supplier")),
      "events" -> Seq("event_id" -> b("events"), "user_id" -> b("users"), "ts" -> evSpanUs))
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events").foreach { t =>
      val parts = math.max(1, math.min(4, (baseRows(t) / 50000L).toInt))
      val b = base(spark, t, parts)
      val df = shifts.get(t).fold(b)(s => upscale(b, reps, s))
      df.write.parquet(s"$dir/$t.parquet")
      Files.canonicalizeParts(s"$dir/$t.parquet")
    }
  }
}

object OlapGen {
  /** Tables each headline query scans, for the rows-scanned throughput. */
  val scans: Map[String, Seq[String]] = Map(
    "q01_scan_project" -> Seq("lineitem"), "q04_filter_compound" -> Seq("orders"),
    "q05_lww_collapse" -> Seq("events"), "q25_compact" -> Seq("events"),
    "q07_join_inner" -> Seq("lineitem", "orders", "customer"),
    "q08_join_broadcast" -> Seq("lineitem", "supplier", "nation", "region"),
    "q12_agg_hash" -> Seq("lineitem"), "q15_window_rank" -> Seq("orders"),
    "q17_topk" -> Seq("customer", "orders"))
}

/** olap_scan: the nine headline QueryDefs in seeded order on a seeded,
  * key-shifted upscale, results to the noop sink, plus one BM25 probe of a
  * persisted text index per round (the operators' store; see README for
  * why it rides here). A round also writes q01's result (the projected
  * lineitem table) as parquet twice, the workload's write samples, and runs
  * the q25 compaction rewrite twice more, its compaction samples. One
  * client thread runs seeded rounds: the first round whole, later ones
  * until the time is up. */
final class OlapScan(o: Opts) extends Workload(o) {
  val Frac = 0.15
  val Reps = 2
  def data = s"$dir/data"
  val defs = Report.Queries.map(Registry.byName)
  val perOp = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  var gen: OlapGen = _
  var stores: Stores = _
  private var writes = 0

  private def runQuery(name: String, tables: String): Unit = {
    val d = Registry.byName(name)
    val df = tracer.span(s"queries.$name")(d.fn(spark, tables))._1
    tracer.span("exec.noop_write")(df.write.format("noop").mode("overwrite").save())
  }

  /** The query whose result the write op writes as parquet. */
  val WriteQuery = "q01_scan_project"

  /** Write `WriteQuery`'s result as parquet into a new directory. */
  private def writeResult(tables: String): String = {
    writes += 1
    val out = s"$dir/writes/w$writes"
    val df = tracer.span(s"queries.$WriteQuery")(Registry.byName(WriteQuery).fn(spark, tables))._1
    tracer.span("exec.parquet_write")(df.write.parquet(out))
    out
  }

  private val opNames = Report.Queries :+ "bm25"
  private val round = opNames ++ Seq("q25_compact", "q25_compact", "write", "write")

  private def runOp(name: String, r: SplittableRandom, tables: String): Unit = name match {
    case "bm25" => stores.bm25(tracer, r)
    case q => runQuery(q, tables)
  }

  def generate(): Unit = {
    gen = new OlapGen(opts.seed, Frac, Reps)
    stores = new Stores(spark, opts.seed, dir, ops)
    gen.write(spark, data)
    stores.generate()
  }


  def build(): Unit = stores.build()

  /** Each query writes its result as parquet, for the DuckDB oracle to
    * check after the run; then every op once more, untimed, and q25 and
    * the write op, whose samples `compact_s` and `write_p50_s` take, once
    * more. A query's first runs are still compiling: q25 takes about 0.7 s
    * on its third run and settles near 0.4 s from its fourth or fifth, so
    * with fewer warm runs a run's median would depend on how many samples
    * it got. */
  def warmUp(): Unit = {
    Report.Queries.foreach { q =>
      ops.guarded(s"$q result write") {
        val res = Registry.byName(q).fn(spark, data)
        // the self-test's corrupted result: one revenue off by a cent
        val out = if (opts.corrupt && q == "q17_topk") res.withColumn("revenue", col("revenue") + 0.01) else res
        out.write.parquet(s"$dir/results/$q")
      }
    }
    val r = new SplittableRandom(opts.seed ^ 0x5eed)
    (opNames ++ Seq("write", "q25_compact", "write")).foreach { name =>
      ops.guarded(s"warm-up $name") {
        if (name == "write") Files.deleteRecursively(writeResult(data)) else runOp(name, r, data)
      }
    }
  }

  def timed(seconds: Int): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val th = client("queries") {
      val r = new SplittableRandom(opts.seed * 131 + 3)
      var first = true
      while (first || System.nanoTime() < deadline) {
        val order = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong())).shuffle(round)
        // the first round runs whole, later rounds stop at the deadline
        order.iterator.takeWhile(_ => first || System.nanoTime() < deadline).foreach { name =>
          val kind = if (name == "write") "write" else if (Report.Queries.contains(name)) "query" else "read"
          val t0 = System.nanoTime()
          var out: Option[String] = None
          val ok = tracer.span(s"bench.$name", kind) {
            try {
              if (name == "write") out = Some(writeResult(data)) else runOp(name, r, data)
              true
            } catch {
              case e: Throwable => ops.check(ok = false, s"$name threw $e")
            }
          }._1
          val s = (System.nanoTime() - t0) / 1e9
          if (ok) {
            perOp(name) = perOp(name) :+ s
            ops.add(name, s)
          }
          // a written result holds every lineitem row (the file footers'
          // count); then it is removed, so the next write starts alike
          out.foreach { p =>
            ops.guarded("result write check") {
              val n = spark.read.parquet(p).count()
              ops.check(n == gen.rows("lineitem"), s"$WriteQuery result write holds $n rows")
            }
            Files.deleteRecursively(p)
          }
          if (ok && kind == "query") ops.check(ok = true, "")
        }
        first = false
      }
    }
    th.start(); th.join()
  }

  def stop(): Unit = ()

  /** Record the oracle SQL beside the results the warm-up wrote (the
    * DuckDB comparison runs after the JVM exits), then the stores' checks. */
  def verify(): Unit = {
    val oracle = defs.map(d => d.name -> d.oracle.getOrElse(sys.error(s"${d.name} has no oracle")))
    Files.write(s"${opts.work}/oracle.json", Json.obj(Seq(
      "tables_dir" -> data, "results_dir" -> s"$dir/results",
      "queries" -> oracle.toMap)))
    stores.verify()
  }

  /** Reads and throughput are summarized over the per-op medians, so the
    * mix is the same whether the time allowed one round or one and a half:
    * throughput is the base rows the nine queries scan per second of their
    * summed median latencies. */
  def e2e(wallS: Double): Map[String, Double] = {
    val medians = opNames.map(o => Stat.median(perOp(o)))
    val queryRows = Report.Queries.map(q => OlapGen.scans(q).map(gen.rows).sum).sum
    val queryS = Report.Queries.map(q => Stat.median(perOp(q))).sum
    val input = Seq(data, s"$dir/documents").map(Files.du).sum
    Map(
    "throughput_rows_per_s" -> queryRows / queryS,
    "write_p50_s" -> Stat.median(perOp("write")),
    "write_p90_s" -> Stat.quantile(perOp("write"), 0.9),
    "read_p50_s" -> Stat.median(medians),
    "read_p90_s" -> Stat.quantile(medians, 0.9),
    "compact_s" -> Stat.median(perOp("q25_compact")),
    "space_amp" -> (input + Files.du(stores.tidx)).toDouble / input)
  }

  def layers(): Map[String, Double] =
    Report.Queries.map(q => s"queries.${q}_s" -> Stat.median(perOp(q))).toMap ++ Map(
      "operators.bm25_p50_s" -> Stat.median(perOp("bm25")))
}
