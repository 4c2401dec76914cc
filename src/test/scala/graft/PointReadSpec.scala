package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.StandardCodeAnalyzer
import graft.index._
import graft.search._

/** Bounded lookups (terms dict, fieldstats, docs, the small delete set and
  * the driver-local posting fetch) are job-free point reads: a fresh
  * searcher's selective queries launch ZERO Spark jobs, and answer exactly
  * as the distributed path does.
  */
class PointReadSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  private def appendWave(b: IndexBuilder, dir: String, wave: Int, ids: Range): Unit = {
    val docs = ids.map(i => (i.toLong, wave, s"org/r$i", f"p$i%05d.scala", "", "scala",
      TestCorpus.content(i))).toDF("docId", "segId", "repo", "path", "commit", "lang", "content")
    b.invertWave(docs.select(b.stagedColumns.map(col): _*), wave, dir)
    b.publishIncremental(dir, wave)
  }

  /** Build + 2 appended waves (ids 300..419), with persisted deletes (one
    * of them deleted twice).
    */
  private lazy val multiWave = {
    val dir = tmp("graft-point-multi")
    val b = new IndexBuilder(spark, IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 2))
    b.build(TestCorpus.corpus(300).toDF(), dir)
    appendWave(b, dir, 100000, 300 until 360)
    appendWave(b, dir, 100001, 360 until 420)
    Deletes.append(spark, dir, Seq(3L, 10L, 305L, 365L))
    Deletes.append(spark, dir, Seq(10L))
    dir
  }

  /** Format 3: posting rows carry the offsets column. */
  private lazy val withOffsets = {
    val dir = tmp("graft-point-offsets")
    new IndexBuilder(spark, IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 4, segmentsPerWave = 4, withOffsets = true))
      .build(TestCorpus.corpus(200).toDF(), dir)
    dir
  }

  private val queries = Seq[Query](
    TermQuery("parser"),
    BooleanQuery(Seq(BooleanClause(Occur.SHOULD, TermQuery("parser")),
      BooleanClause(Occur.SHOULD, TermQuery("w17")))),
    PhraseQuery(Seq("posting", "list")),
    TermQuery("uniqtoken_330"), // singleton in an appended wave
    TermQuery("uniqtoken_305")) // singleton of a deleted doc

  /** Jobs started by Spark while `f` runs. Listener events arrive
    * asynchronously but in order, so a marker job run after `f` (and one
    * before it, to flush earlier events) brackets the count exactly.
    */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(tag: String): Int = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var e = events.poll(60, TimeUnit.SECONDS)
      while (e != tag) {
        assert(e != null, s"marker job $tag never reached the listener")
        n += 1
        e = events.poll(60, TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(l)
    try {
      marker("point-read-before")
      val r = f
      (r, marker("point-read-after"))
    } finally sc.removeSparkListener(l)
  }

  private def hits(td: TopDocs) = td.scoreDocs.map(d => (d.docId, d.score)).toSeq

  for ((name, dir) <- Seq("multi-wave with deletes" -> (() => multiWave),
    "format 3 (offsets)" -> (() => withOffsets))) {

    test(s"$name: cold selective queries, docs() and collectionStats launch zero Spark jobs") {
      val idx = dir()
      for (q <- queries; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
        val (td, jobs) = jobsDuring(new IndexSearcher(spark, idx).search(q, 10, mode))
        assert(jobs == 0, s"$q ($mode) launched $jobs Spark jobs")
        assert(td.totalHits >= 0)
      }
      val (docs, docJobs) = jobsDuring(new IndexSearcher(spark, idx).docs(Seq(1L, 5L, 330L)))
      assert(docJobs == 0)
      assert(docs.map(_.docId).sorted == (if (idx == multiWave) Seq(1L, 5L, 330L) else Seq(1L, 5L)))
      assert(docs.forall(d => d.dl > 0 && d.fieldDls.get("content").contains(d.dl)))
      val (cs, csJobs) = jobsDuring(new IndexSearcher(spark, idx).collectionStats)
      assert(csJobs == 0)
      assert(cs.maxDoc == IndexManifest.load(spark, idx).maxDoc)
    }

    test(s"$name: top-k and totalHits match the distributed path bit for bit, both modes") {
      val idx = dir()
      for (q <- queries; mode <- Seq[ScoreMode](ScoreMode.Ref32, ScoreMode.ExactDouble)) {
        val local = new IndexSearcher(spark, idx).search(q, 10, mode)
        val dist = new IndexSearcher(spark, idx)
        dist.localSearchMaxPostings = 0
        val d = dist.search(q, 10, mode)
        assert(local.totalHits == d.totalHits, s"totalHits $q ($mode)")
        assert(hits(local) == hits(d), s"top-k $q ($mode)")
      }
    }
  }

  test("deletes apply on the point-read path; the size gate is the footer row count") {
    val s = new IndexSearcher(spark, multiWave)
    assert(s.search(TermQuery("uniqtoken_305"), 10).totalHits == 0)
    assert(s.search(TermQuery("uniqtoken_330"), 10).scoreDocs.map(_.docId).toSeq == Seq(330L))
    assert(Deletes.load(spark, multiWave).toSeq == Seq(3L, 10L, 305L, 365L))
    assert(Deletes.rowBound(spark, multiWave) == 5L) // 10 is deleted twice
    assert(!s.rangedDeletes)
    // the bound gates: 5 rows > 4 → ranged, same answers
    val ranged = new IndexSearcher(spark, multiWave, deleteBroadcastMax = 4)
    assert(ranged.rangedDeletes)
    for (q <- queries)
      assert(hits(ranged.search(q, 10)) == hits(s.search(q, 10)), s"ranged parity $q")
  }

  test("a new searcher is lazy: no listing or footer read until a lookup needs it") {
    val dir = tmp("graft-point-lazy")
    new IndexBuilder(spark, IndexConfig(analyzer = new StandardCodeAnalyzer(),
      docsPerRange = 64, numSegments = 2, segmentsPerWave = 2))
      .build(TestCorpus.corpus(40).toDF(), dir)
    val tables = Seq("terms", "fieldstats", "docs", "postings")
    for (t <- tables) new java.io.File(s"$dir/$t").renameTo(new java.io.File(s"$dir/moved_$t"))
    val s = new IndexSearcher(spark, dir) // would throw if it listed a table
    for (t <- tables) new java.io.File(s"$dir/moved_$t").renameTo(new java.io.File(s"$dir/$t"))
    assert(s.search(TermQuery("parser"), 5).totalHits > 0)
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  test("reader: _SUCCESS, _temporary and dot files are ignored") {
    val dir = tmp("graft-point-hidden")
    (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/wave=1")
    for (junk <- Seq(s"$dir/wave=1/.junk.parquet", s"$dir/_temporary/0/part-0.parquet",
      s"$dir/_junk.parquet"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(junk).getParent)
        .resolve(new java.io.File(junk).getName).toFile.createNewFile()
    assert(new java.io.File(s"$dir/wave=1/_SUCCESS").exists())
    val r = new PointReader(conf, dir)
    assert(r.files.nonEmpty && r.files.forall(_.getPath.getName.startsWith("part-")))
    assert(r.rowCount == 50L)
    val got = r.rows(Seq("k", "v"), Some(PointReader.longIn("k", Seq(7L, 42L))))
    assert(got.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]) ==
      Seq(Seq(7L, "v7"), Seq(42L, "v42")))
  }

  test("reader: a column absent from some files reads as null") {
    val dir = tmp("graft-point-schema")
    Seq((1L, "a", 10)).toDF("k", "s", "extra").write.parquet(s"$dir/wave=1")
    Seq((2L, "b")).toDF("k", "s").write.parquet(s"$dir/wave=2")
    val got = new PointReader(conf, dir).rows(Seq("k", "extra", "s"), None)
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(got == Seq(Seq(1L, 10, "a"), Seq(2L, null, "b")))
  }

  test("reader: keys on a row-group boundary are found (tiny parquet.block.size)") {
    val dir = tmp("graft-point-rowgroups")
    (0 until 3000).map(i => (f"k$i%05d", i.toLong)).toDF("key", "v").coalesce(1)
      .sortWithinPartitions("key")
      .write.mode("overwrite").option("parquet.block.size", "1024").parquet(dir)
    val r = new PointReader(conf, dir)
    val blocks = r.files.toSeq.flatMap(f => PointReader.footer(conf, f).getBlocks.asScala)
    assert(blocks.size > 2, s"expected several row groups, got ${blocks.size}")
    val firstOfSecond = blocks.head.getRowCount.toInt
    val edges = Seq(firstOfSecond - 1, firstOfSecond, 2999)
    for (i <- edges) {
      val got = r.rows(Seq("key", "v"), Some(PointReader.stringIn("key", Seq(f"k$i%05d"))))
      assert(got.map(_.toSeq) == Seq(Seq(f"k$i%05d", i.toLong)), s"boundary key $i")
    }
    val both = r.rows(Seq("v"), Some(PointReader.stringIn("key", edges.map(i => f"k$i%05d"))))
    assert(both.map(_(0)).toSet == edges.map(_.toLong).toSet)
    assert(r.rows(Seq("v"), Some(PointReader.stringIn("key", Seq("k99999")))).isEmpty)
  }
}
