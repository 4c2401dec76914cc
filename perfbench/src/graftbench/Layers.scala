package graftbench

import org.apache.spark.sql.functions._

import graft.analysis.StandardCodeAnalyzer
import graft.codec.{PostingEntry, PostingsCodec, SmallFloat}
import graft.index.TieredMerge
import graft.pipeline.Hybrid
import graft.search._

/** Layer probes for the traced run. Each one calls a single layer through
  * its public API on the workload's own data, inside spans, so every
  * per-layer metric exists on every workload.
  */
object Layers {

  /** Repeat `f` until `minS` seconds have passed; returns (reps, seconds). */
  private def loop(minS: Double)(f: => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < minS) { f; n += 1 }
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def analysis(ctx: Ctx, docs: Seq[BenchDoc]): Unit = ctx.trace("analysis.probe") {
    val a = new StandardCodeAnalyzer()
    docs.foreach(d => a(d.content)) // warm
    var tokens = 0L
    val (_, s) = loop(0.5) { docs.foreach(d => tokens += a(d.content).tokens.length) }
    ctx.facts("analysis.tokens_per_s") = tokens / s
  }

  /** Postings for hot, mid and rare terms, shaped from the docs. */
  private def postings(docs: Seq[BenchDoc]): Seq[Array[PostingEntry]] = {
    val a = new StandardCodeAnalyzer()
    val byTerm = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[PostingEntry]]
    docs.sortBy(_.doc_id).foreach { d =>
      val an = a(d.content)
      val norm = SmallFloat.encodeNorm(an.length, an.numOverlap)
      an.tokens.groupBy(_.term).foreach { case (t, ts) =>
        byTerm.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) +=
          PostingEntry(d.doc_id, ts.length, an.length, norm, ts.map(_.pos).sorted)
      }
    }
    val bySize = byTerm.values.map(_.toArray).toSeq.sortBy(p => -p.length)
    val n = docs.length
    val hot = bySize.take(4)
    val mid = bySize.filter(p => p.length <= n / 8 && p.length >= n / 40).take(8)
    val rare = bySize.filter(p => p.length >= 2 && p.length <= 16).take(200)
    hot ++ mid ++ rare
  }

  def codec(ctx: Ctx, docs: Seq[BenchDoc]): Unit = ctx.trace("codec.probe") {
    val lists = postings(docs)
    val enc = lists.map(l => PostingsCodec.encode(l, withPositions = true))
    val payloadBytes = enc.map(_.payload.length.toLong).sum
    val allBytes = enc.map(e => e.payload.length.toLong + e.positions.map(_.length).getOrElse(0)).sum
    ctx.facts("codec.bytes_per_posting") = payloadBytes.toDouble / lists.map(_.length).sum
    val (ne, se) = loop(0.4) { lists.foreach(l => PostingsCodec.encode(l, withPositions = true)) }
    ctx.facts("codec.encode_mb_per_s") = ne * allBytes / se / 1e6
    val (nd, sd) = loop(0.4) { enc.foreach(e => PostingsCodec.decode(e.payload)) }
    ctx.facts("codec.decode_mb_per_s") = nd * payloadBytes / sd / 1e6
    // the middle third of each list's docId span, through the skip data
    val ranged = enc.filter(_.skip.lastDoc.length > 1)
    val rangedBytes = ranged.map(_.payload.length.toLong).sum
    val (nr, sr) = loop(0.4) {
      ranged.foreach { e =>
        val w = (e.lastDocId - e.firstDocId) / 3
        PostingsCodec.decodeRange(e.payload, e.skip, e.firstDocId + w, e.firstDocId + 2 * w)
      }
    }
    ctx.facts("codec.decode_range_mb_per_s") = nr * rangedBytes / sr / 1e6
  }

  /** Append, force-merge and publish, for workloads whose stream does not. */
  def index(ctx: Ctx, idx: String, firstId: Long, batch: Int): Unit = {
    ctx.append(idx, ctx.AppendWaveBase + 900, Gen.docs(ctx.seed, firstId, batch))
    val group = TieredMerge.waves(ctx.spark, idx).filter(_.wave >= ctx.AppendWaveBase)
    ctx.trace("index.merge_execute")(TieredMerge.execute(ctx.spark, idx, group))
    ctx.trace("index.publish")(ctx.builder.publish(idx))
  }

  /** Query phases on fresh searchers: stats, then fetch+eval with warm
    * stats, then eval with cached rows; WAND and exhaustive each on their
    * own cold searcher.
    */
  def search(ctx: Ctx, idx: String, qs: Seq[GenQuery]): Unit = qs.foreach { gq =>
    val q = gq.query
    val s = ctx.open(idx)
    val keys = Query.leafKeys(Query.rewrite(s.expandPrefixes(q)), s.field)
    ctx.trace("search.stats") { s.collectionStats; s.termStats(keys) }
    val first = ctx.trace("search.fetch_eval")(s.search(q, 10))
    for (_ <- 0 until 3) {
      val again = ctx.trace("search.eval")(s.search(q, 10))
      ctx.check(ctx.hits(again) == ctx.hits(first), s"cached search of $q changed its top-k")
    }
    val w = ctx.trace("search.wand")(Wand.searchTopK(ctx.open(idx), q, 10, cachedShortcut = false))
    val e = ctx.trace("search.exhaustive")(ctx.open(idx).search(q, 10))
    ctx.check(ctx.hits(w) == ctx.hits(e), s"pruned WAND differs from search for $q")
  }

  /** BM25 top-50, vector top-50 over seeded embeddings, RRF top-10; the
    * fused list must equal RRF recomputed on the driver.
    */
  def pipeline(ctx: Ctx, idx: String, maxId: Long, qs: Seq[GenQuery]): Unit = {
    import ctx.spark.implicits._
    val embPath = ctx.path("embeddings")
    ctx.trace("pipeline.setup") {
      (0L to maxId).map(i => (i, Gen.embedding(ctx.seed, i))).toDF("doc_id", "embedding")
        .write.mode("overwrite").parquet(embPath)
    }
    val emb = ctx.spark.read.parquet(embPath)
    val s = ctx.open(idx)
    val k0 = 60
    qs.zipWithIndex.foreach { case (gq, i) =>
      val qid = Gen.picks(ctx.seed, 5000 + i).nextLong(maxId + 1)
      val lex = ctx.trace("pipeline.lex_topn")(s.search(gq.query, 50, ScoreMode.ExactDouble))
        .scoreDocs.map(_.docId).toSeq
      val vec = ctx.trace("pipeline.vector_ranks")(
        Hybrid.vectorRanks(emb, "doc_id", "embedding", qid, 50).collect())
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val fused = ctx.trace("pipeline.fuse")(
        Hybrid.rrfFuse(ctx.spark, lex, vec.toDF("doc_id", "vrank"), k0, 10).collect())
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val lr = lex.zipWithIndex.map { case (d, j) => d -> (j + 1L) }.toMap
      val vr = vec.toMap
      val expect = (lr.keySet ++ vr.keySet).toSeq.map { d =>
        d -> (lr.get(d).map(r => 1.0 / (k0 + r)).getOrElse(0.0) +
          vr.get(d).map(r => 1.0 / (k0 + r)).getOrElse(0.0))
      }.sortBy { case (d, rrf) => (-rrf, d) }.take(10)
      ctx.check(fused == expect, s"RRF fuse of $gq differs from driver RRF")
    }
  }

  /** Same cached queries with spans on and off, interleaved. */
  def overhead(ctx: Ctx, s: IndexSearcher, qs: Seq[GenQuery]): Unit = {
    val on = scala.collection.mutable.ArrayBuffer.empty[Double]
    val off = scala.collection.mutable.ArrayBuffer.empty[Double]
    qs.foreach(q => ctx.run(s, q))
    for (r <- 0 until 20; q <- qs) {
      val traced = r % 2 == 0
      ctx.trace.on = traced
      val (_, t) = ctx.secs(ctx.trace("overhead.query")(ctx.run(s, q)))
      (if (traced) on else off) += t
    }
    ctx.trace.on = true
    ctx.facts("trace.overhead_frac") = Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1
  }
}
