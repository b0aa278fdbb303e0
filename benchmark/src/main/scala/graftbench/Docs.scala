package graftbench

import java.util.SplittableRandom

import graft.operators.Search
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded documents for the text store: `n` documents of 30-50 words drawn
  * from a 4,000-word vocabulary of 5-8 letter words. */
final class Docs(seed: Long, n: Int) {
  private val rng = new SplittableRandom(seed ^ 0x0d0c5L)
  private def word(len: Int): String = new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
  val vocab: IndexedSeq[String] = {
    val s = scala.collection.mutable.LinkedHashSet.empty[String]
    while (s.size < 4000) s += word(5 + rng.nextInt(4))
    s.toIndexedSeq
  }
  val texts: IndexedSeq[String] =
    IndexedSeq.fill(n)(Seq.fill(30 + rng.nextInt(21))(vocab(rng.nextInt(vocab.size))).mkString(" "))
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  def rows(from: Int, until: Int): Seq[Row] = (from until until).map(i => Row(i.toLong, texts(i)))
}

/** The persisted store the olap workload probes: a BM25 text index (a base
  * root plus a streamed segment, as a live corpus has), with seeded queries
  * and their output checks. */
final class Stores(spark: SparkSession, seed: Long, dir: String, ops: Ops) {
  val BaseDocs = 400
  val SegmentDocs = 100
  val Segments = 1
  val docs = new Docs(seed, BaseDocs + Segments * SegmentDocs)
  def tidx = s"$dir/text_idx"

  private def docFrame(from: Int, until: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(docs.rows(from, until), 2), docs.schema)

  /** Write the generated documents as parquet. */
  def generate(): Unit = {
    docFrame(0, docs.texts.size).write.parquet(s"$dir/documents")
    Files.canonicalizeParts(s"$dir/documents")
  }

  def build(): Unit = {
    val all = spark.read.parquet(s"$dir/documents")
    Search.buildTextIndex(all.filter(s"doc_id < $BaseDocs"), tidx, buckets = 16)
    (0 until Segments).foreach { k =>
      val lo = BaseDocs + k * SegmentDocs
      Search.appendToTextIndex(all.filter(s"doc_id >= $lo AND doc_id < ${lo + SegmentDocs}"), tidx)
    }
  }

  private def queryText(r: SplittableRandom): String = {
    val doc = docs.texts(r.nextInt(docs.texts.size)).split(" ")
    doc(r.nextInt(doc.length)) + " " + doc(r.nextInt(doc.length))
  }

  private def queryFrame(texts: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("query_id", "query_text")
  }

  /** One BM25 probe of the text index; its terms come from a corpus
    * document, so it must match at least one document. */
  def bm25(t: Tracer, r: SplittableRandom): Unit = {
    implicit val s: SparkSession = spark
    val qs = queryFrame(Seq(queryText(r)))
    val res = t.span("operators.bm25_indexed")(Search.bm25Indexed(spark, tidx, qs, topK = 10))._1
    val rows = t.span("exec.collect")(res.collect())._1
    ops.check(rows.nonEmpty && rows.length <= 10, s"bm25Indexed returned ${rows.length} rows")
  }

  private def canon(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Horizon check: the index's BM25 equals a BM25 scan of the same
    * documents. */
  def verify(): Unit =
    ops.guarded("bm25Indexed vs bm25 scan") {
      val r = new SplittableRandom(seed + 99)
      val qs = queryFrame(Seq.fill(3)(queryText(r)))
      ops.check(canon(Search.bm25Indexed(spark, tidx, qs, topK = 12)) ==
        canon(Search.bm25(spark.read.parquet(s"$dir/documents"), qs, topK = 12)),
        "bm25Indexed != bm25 scan")
    }
}
