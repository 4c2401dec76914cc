package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexConfig, IndexManifest}
import graft.search._

/** A check that failed; the run reports it and exits non-zero. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Per-run state: session, tracer, op accounting and collected samples. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val work: String,
    val trace: Tracer, val listener: Option[WorkListener]) {

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Named samples (seconds or millis as the name says). */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Single-valued facts (sizes, counts). */
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def values(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** One counted operation: a throw or a failed check inside counts it failed. */
  def op[A](f: => A): A = {
    attempted += 1
    try f
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    }
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- engine plumbing -------------------------------------------------

  val config: IndexConfig = IndexConfig(explicitDocIdCol = Some("doc_id"),
    numSegments = 4, segmentsPerWave = 4, buildPartitions = 4)
  lazy val builder = new IndexBuilder(spark, config)

  /** Appended waves are numbered from here, like streaming micro-batches. */
  val AppendWaveBase = 100000

  def path(name: String): String = s"$work/$name"

  private val corpusBytes = scala.collection.mutable.Map.empty[String, Long]
  /** Content bytes taken in by build and append calls (write amplification base). */
  var indexedContentBytes = 0L

  def writeDocs(docs: Seq[BenchDoc], out: String): Unit = {
    spark.createDataFrame(docs).write.mode("overwrite").parquet(out)
    corpusBytes(out) = contentBytes(docs)
  }

  def build(corpus: String, idx: String): IndexManifest = {
    indexedContentBytes += corpusBytes.getOrElse(corpus, 0L)
    trace("index.build")(builder.build(spark.read.parquet(corpus), idx, resume = false))
  }

  /** Append one batch as a new wave and publish it incrementally. */
  def append(idx: String, wave: Int, docs: Seq[BenchDoc]): Unit = {
    val staged = spark.createDataFrame(docs)
      .withColumn("docId", col("doc_id"))
      .withColumn("segId", lit(wave))
      .select(builder.stagedColumns.map(col): _*)
    indexedContentBytes += contentBytes(docs)
    trace("index.invert")(builder.invertWave(staged, wave, idx))
    trace("index.publish_incremental")(builder.publishIncremental(idx, wave))
  }

  def open(idx: String): IndexSearcher = trace("search.open")(new IndexSearcher(spark, idx))

  def run(s: IndexSearcher, q: GenQuery, k: Int = 10): TopDocs =
    if (q.wand) Wand.searchTopK(s, q.query, k) else s.search(q.query, k)

  /** Top-k as comparable (docId, score) pairs. */
  def hits(td: TopDocs): Seq[(Long, Double)] = td.scoreDocs.toSeq.map(d => (d.docId, d.score))

  /** The doc whose `uniqtoken_<id>` is searched must be the one hit. */
  def checkFresh(s: IndexSearcher, id: Long): Unit = {
    val td = s.search(TermQuery(s"uniqtoken_$id"), 10)
    check(td.totalHits == 1 && td.scoreDocs.headOption.exists(_.docId == id),
      s"uniqtoken_$id: totalHits=${td.totalHits} top=${td.scoreDocs.headOption}")
  }

  def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(p))
  }

  def rm(p: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new java.io.File(p))
  }

  def contentBytes(docs: Seq[BenchDoc]): Long = docs.map(_.content.getBytes("UTF-8").length.toLong).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
}
