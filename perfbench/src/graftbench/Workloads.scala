package graftbench

import graft.index.{CheckIndex, IndexManifest, TieredMerge}
import graft.search._

/** What a workload leaves for the layer probes. */
final case class Served(idx: String, searcher: IndexSearcher)

/** The timed part of a run: its ops and the GC time they cost. */
final case class Window(ops: Long, gcMs: Long)

object Workloads {

  // Sizes, set by the run budget (README, "Budget")
  val IngestDocs = 16000
  val ServeDocs = 8000
  /** Docs per appended batch. */
  val Batch = 500
  /** Set-up reps: ingest rewrites its corpus; serving rebuilds its index.
    * A build still speeds up (JIT) by about 1.5× over its first few runs
    * in a JVM, so the median of six serving builds falls on a warm one.
    */
  val IngestSetupReps = 2
  val ServeSetupReps = 6
  /** Docs in the warm-up slice index. */
  val WarmSlice = 1000
  val BuildsPerCycle = 3
  val AppendsPerCycle = 3
  /** Read-after-write queries after each ingest refresh. */
  val ReadsPerRefresh = 5
  /** serve_cold: queries between refreshes, docs deleted at each. */
  val QueriesPerRefresh = 12
  val DeletesPerRefresh = 5

  /** Query-stream indices from here on are outside every timed stream. */
  val WarmQueries = 1000000L
  val ProbeQueries = 2000000L

  /** JIT warm-up, done once per run: build a slice index, then `use` it.
    * Returns its seconds.
    */
  private def warmUp(ctx: Ctx)(use: String => Unit): Double = ctx.secs(ctx.trace("setup") {
    val slice = ctx.path("slice")
    ctx.writeDocs(Gen.docs(ctx.seed, 0, WarmSlice), slice + "_corpus")
    ctx.build(slice + "_corpus", slice)
    use(slice)
    ctx.rm(slice); ctx.rm(slice + "_corpus")
  })._2

  /** Set-up is repeated `reps` times on fresh directories, and `setup_s`
    * is `onceS` (the warm-up and any set-up done once) plus the median
    * rep. Every rep is untimed work the run needs before measuring: corpus
    * materialization for ingest; the index build, one appended batch and a
    * searcher for serving.
    */
  private def repeatSetup[A](ctx: Ctx, onceS: Double, reps: Int)(rep: Int => A): A = {
    val runs = (0 until reps).map(r => ctx.secs(ctx.trace("setup")(rep(r))))
    ctx.sample("setup_s", onceS + Stats.median(runs.map(_._2)))
    runs.last._1
  }

  private def timed(ctx: Ctx)(body: (() => Boolean) => Long): Window = {
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    val ops = ctx.trace("timed")(body(() => System.nanoTime() < deadline))
    Window(ops, Jvm.gcMs - gc0)
  }

  // ---- ingest: writes only ----------------------------------------------

  def ingest(ctx: Ctx): (Served, Window) = {
    val corpus = ctx.path("corpus")
    // the warm-up also appends, so the timed refreshes are not the first
    val warmS = warmUp(ctx) { slice =>
      ctx.append(slice, ctx.AppendWaveBase, Gen.docs(ctx.seed, WarmSlice, Batch))
    }
    repeatSetup(ctx, warmS, IngestSetupReps)(_ => ctx.writeDocs(Gen.docs(ctx.seed, 0, IngestDocs), corpus))
    // read-after-write: docs of the batch at [first, first + batch), each
    // searched by its uniqtoken on the just-opened searcher
    def readAfterWrite(s: IndexSearcher, first: Long, pick: Long): Unit = {
      val r = Gen.picks(ctx.seed, pick)
      for (_ <- 0 until ReadsPerRefresh) {
        val (_, qS) = ctx.secs(ctx.op(ctx.trace("search.query")(ctx.checkFresh(s, first + r.nextInt(Batch)))))
        ctx.sample("query_ms", qS * 1000)
      }
    }
    var idx = ""
    var cycle = 0
    val win = timed(ctx) { more =>
      var ops = 0L
      do {
        for (b <- 0 until BuildsPerCycle) {
          if (idx.nonEmpty) ctx.rm(idx)
          idx = ctx.path(s"ingest${cycle}_$b")
          val (_, buildS) = ctx.secs(ctx.op(ctx.build(corpus, idx)))
          ctx.sample("build_docs_per_s", IngestDocs / buildS)
          ops += 1
        }
        var next = IngestDocs.toLong
        for (a <- 0 until AppendsPerCycle) {
          val batch = Gen.docs(ctx.seed, next, Batch)
          val (s, refreshS) = ctx.secs(ctx.op {
            ctx.append(idx, ctx.AppendWaveBase + a, batch)
            ctx.open(idx)
          })
          ctx.sample("refresh_s", refreshS)
          readAfterWrite(s, next, 1000L * cycle + a)
          next += Batch
          ops += 1 + ReadsPerRefresh
        }
        val (_, mergeS) = ctx.secs(ctx.op {
          val group = TieredMerge.waves(ctx.spark, idx).filter(_.wave >= ctx.AppendWaveBase)
          ctx.trace("index.merge_execute")(TieredMerge.execute(ctx.spark, idx, group))
          ctx.trace("index.publish")(ctx.builder.publish(idx))
        })
        ctx.sample("merge_s", mergeS)
        ctx.op {
          val m = IndexManifest.load(ctx.spark, idx)
          ctx.check(m.docCount == next, s"manifest docCount ${m.docCount} != generated $next")
        }
        readAfterWrite(ctx.open(idx), next - Batch, 1000L * cycle + 999)
        ops += 2 + ReadsPerRefresh
        if (more()) { ctx.rm(idx); idx = "" } // keep the last cycle's index for the checks below
        cycle += 1
      } while (more())
      ops
    }
    ctx.op {
      val rep = CheckIndex.run(ctx.spark, idx)
      ctx.check(rep.ok, s"CheckIndex: ${rep.problems.take(3).mkString("; ")}")
    }
    val docCount = IndexManifest.load(ctx.spark, idx).docCount
    ctx.facts("index_bytes_per_doc") = ctx.dirBytes(idx).toDouble / docCount
    (Served(idx, ctx.open(idx)), win)
  }

  // ---- serve_cold: reads beside writes, a seeded long-tail query stream --

  def serveCold(ctx: Ctx): (Served, Window) = {
    // the warm-up also appends and runs a query of every shape, from
    // outside the timed stream
    val warmS = warmUp(ctx) { slice =>
      ctx.append(slice, ctx.AppendWaveBase, Gen.docs(ctx.seed, WarmSlice, Batch))
      val s = ctx.open(slice)
      Gen.Shapes.indices.foreach(i => ctx.run(s, Gen.query(ctx.seed, WarmQueries + i)))
    }
    // set-up: write the first `docs - batch` docs once; each rep builds
    // them, appends the last `batch` as a wave (one refresh sample) and
    // opens a searcher
    val corpus = ctx.path("corpus")
    val base = ServeDocs - Batch
    val (_, corpusS) = ctx.secs(ctx.trace("setup")(ctx.writeDocs(Gen.docs(ctx.seed, 0, base), corpus)))
    var prev: Option[IndexSearcher] = None
    val (idx, s0) = repeatSetup(ctx, warmS + corpusS, ServeSetupReps) { r =>
      prev.foreach(_.close())
      if (r > 0) ctx.rm(ctx.path(s"serve${r - 1}"))
      val idx = ctx.path(s"serve$r")
      val (_, buildS) = ctx.secs(ctx.build(corpus, idx))
      ctx.sample("build_docs_per_s", base / buildS)
      val (s, refreshS) = ctx.secs {
        ctx.append(idx, ctx.AppendWaveBase, Gen.docs(ctx.seed, base, Batch))
        ctx.open(idx)
      }
      ctx.sample("refresh_s", refreshS)
      ctx.facts("index_bytes_per_doc") = ctx.dirBytes(idx).toDouble / ServeDocs
      prev = Some(s)
      (idx, s)
    }
    ctx.rm(corpus)
    var s = s0
    var nextId = ServeDocs.toLong
    var deleted = Set.empty[Long]
    var refreshes = 0
    val rnd = Gen.picks(ctx.seed, 0)
    val win = timed(ctx) { more =>
      var ops = 0L
      while (more() || ops < 8) {
        if (ops > 0 && ops % QueriesPerRefresh == 0) {
          val batch = Gen.docs(ctx.seed, nextId, Batch)
          val dels = Gen.deletePicks(ctx.seed, refreshes, nextId - 1, DeletesPerRefresh, deleted)
          ctx.op(ctx.trace("index.deletes")(graft.index.Deletes.append(ctx.spark, idx, dels)))
          val (s1, refreshS) = ctx.secs(ctx.op {
            ctx.append(idx, ctx.AppendWaveBase + 1 + refreshes, batch)
            ctx.open(idx)
          })
          ctx.sample("refresh_s", refreshS)
          s.close()
          s = s1
          deleted ++= dels
          ctx.op(ctx.trace("check")(ctx.checkFresh(s, nextId + rnd.nextInt(Batch))))
          ctx.op(ctx.trace("check") {
            val gone = s.search(TermQuery(s"uniqtoken_${dels.head}"), 10)
            ctx.check(gone.totalHits == 0, s"deleted doc ${dels.head} still matches")
          })
          nextId += Batch
          refreshes += 1
        }
        val q = Gen.query(ctx.seed, ops)
        val (td, qS) = ctx.secs(ctx.op(ctx.trace("search.query")(ctx.run(s, q))))
        ctx.sample("query_ms", qS * 1000)
        ctx.op(ctx.trace("check") {
          val hit = td.scoreDocs.find(d => deleted.contains(d.docId))
          ctx.check(hit.isEmpty, s"deleted doc ${hit.map(_.docId)} returned for $q")
          if (q.wand) {
            val exact = s.search(q.query, 10)
            ctx.check(ctx.hits(td) == ctx.hits(exact), s"WAND top-k differs from search for $q")
          }
        })
        ops += 1
      }
      ops
    }
    (Served(idx, s), win)
  }
}
