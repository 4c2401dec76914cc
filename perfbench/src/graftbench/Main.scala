package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.IndexManifest
import graft.search._

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * Usage: graftbench.Main --workload <ingest|serve_cold> --seed N
  *   --seconds S --trace 0|1 --work DIR --cpus N
  *
  * Prints report lines, then one JSON object as the last line of stdout.
  * With `--trace 0` it carries the end-to-end metrics; with `--trace 1` the
  * per-layer metrics of the traced run.
  */
object Main {

  val Runs: Map[String, Ctx => (Served, Window)] =
    Map("ingest" -> Workloads.ingest, "serve_cold" -> Workloads.serveCold)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val runWorkload = Runs.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (have: ${Runs.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = need("work")
    val cpus = need("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val listener = if (traced) Some(new WorkListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, seconds, work, new Tracer(traced), listener)
    val out = try {
      selfTest(ctx)
      val (served, win) = runWorkload(ctx)
      if (traced) probes(ctx, served)
      Right((served, win))
    } catch { case e: Throwable => e.printStackTrace(); Left(e) }

    val metrics = out match {
      case Right((_, win)) =>
        try {
          if (traced) perLayer(ctx, win) else endToEnd(ctx)
        } catch { case e: Throwable =>
          e.printStackTrace()
          ctx.failed += 1; ctx.failures += s"metrics: $e"; Nil
        }
      case Left(_) => Nil
    }
    spark.stop()

    val correct = out.isRight && ctx.failed == 0 && metrics.nonEmpty
    println(f"workload $workload seed $seed: attempted ${ctx.attempted} failed ${ctx.failed} " +
      f"error_rate ${if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted}%.6f")
    ctx.failures.take(5).foreach(f => println(s"  failure: $f"))
    Seq("setup_s", "build_docs_per_s", "refresh_s", "merge_s", "query_ms").foreach { k =>
      val v = ctx.values(k)
      if (v.nonEmpty) println(f"  $k%-18s n=${v.length}%-5d median=${Stats.median(v)}%.4f " +
        f"p99=${Stats.pct(v, 0.99)}%.4f max=${v.max}%.4f sum=${v.sum}%.2f")
    }
    metrics.foreach { case (k, v, u) => println(f"  $k%-34s $v%14.4f $u") }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, "failed": ${ctx.failed}, "metrics": {${m.mkString(", ")}}}""")
    sys.exit(if (correct) 0 else 1)
  }

  /** Same seed gives byte-identical inputs, another seed different ones. */
  private def selfTest(ctx: Ctx): Unit = ctx.op {
    val a = Gen.fingerprint(ctx.seed)
    ctx.check(a == Gen.fingerprint(ctx.seed), "generators are not deterministic")
    ctx.check(a != Gen.fingerprint(ctx.seed + 1), "another seed gives the same inputs")
  }

  private def probes(ctx: Ctx, served: Served): Unit = ctx.op {
    val sample = Gen.docs(ctx.seed, 0, 3000)
    val qs = (0 until 4).map(i => Gen.query(ctx.seed, Workloads.ProbeQueries + i))
    Layers.overhead(ctx, served.searcher, qs)
    Layers.analysis(ctx, sample)
    Layers.codec(ctx, sample)
    if (ctx.trace.named("index.merge_execute").isEmpty)
      Layers.index(ctx, served.idx, IndexManifest.load(ctx.spark, served.idx).maxDocId + 1, Workloads.Batch)
    Layers.search(ctx, served.idx, qs)
    Layers.pipeline(ctx, served.idx, IndexManifest.load(ctx.spark, served.idx).maxDocId, qs.take(3))
  }

  private def endToEnd(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", Stats.median(ctx.values("setup_s")), "s"),
      ("build_docs_per_s", Stats.median(ctx.values("build_docs_per_s")), "docs/s"),
      ("refresh_p50_s", Stats.median(ctx.values("refresh_s")), "s"),
      ("query_p50_ms", Stats.median(ctx.values("query_ms")), "ms"),
      ("index_bytes_per_doc", ctx.facts("index_bytes_per_doc"), "B/doc"),
      ("peak_rss_mb", Jvm.peakRssMb, "MB"))

  private def perLayer(ctx: Ctx, win: Window): Seq[(String, Double, String)] = {
    val tr = ctx.trace
    ctx.listener.foreach(_ => org.apache.spark.BenchShim.drainListeners(ctx.spark.sparkContext))
    val work = ctx.listener.get.attribute(tr.spans.toSeq)
    def w(s: Span) = work.getOrElse(s.id, SparkWork())
    def medMs(name: String) = Stats.median(tr.named(name).map(_.ms))
    def medS(name: String) = medMs(name) / 1000
    val idxSpans = tr.spans.filter(_.name.startsWith("index.")).toSeq
    val idxWork = idxSpans.map(w).foldLeft(SparkWork())(_ + _)
    val timedSpan = tr.named("timed").head
    val queries = tr.spans.filter(s => s.name == "search.query" && s.parent == timedSpan.id).toSeq
    val qWork = queries.map(w)
    val pipeQ = tr.named("pipeline.lex_topn").length
    val pipeJobs = tr.spans.filter(s => s.name == "pipeline.lex_topn" || s.name == "pipeline.vector_ranks" ||
      s.name == "pipeline.fuse").map(w(_).jobs).sum
    val self = tr.selfNs
    // self time per span name, to reconcile the layers against the run
    tr.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      println(f"  self $name%-28s n=${ss.length}%-6d ${ss.map(s => self(s.id)).sum / 1e9}%10.3f s")
    }
    val mb = 1e6
    Seq(
      ("analysis.tokens_per_s", ctx.facts("analysis.tokens_per_s"), "tokens/s"),
      ("codec.encode_mb_per_s", ctx.facts("codec.encode_mb_per_s"), "MB/s"),
      ("codec.decode_mb_per_s", ctx.facts("codec.decode_mb_per_s"), "MB/s"),
      ("codec.decode_range_mb_per_s", ctx.facts("codec.decode_range_mb_per_s"), "MB/s"),
      ("codec.bytes_per_posting", ctx.facts("codec.bytes_per_posting"), "B"),
      ("index.build_s", medS("index.build"), "s"),
      ("index.invert_s", medS("index.invert"), "s"),
      ("index.publish_incremental_s", medS("index.publish_incremental"), "s"),
      ("index.merge_execute_s", medS("index.merge_execute"), "s"),
      ("index.publish_s", medS("index.publish"), "s"),
      ("index.jobs", idxWork.jobs.toDouble, "count"),
      ("index.tasks", idxWork.tasks.toDouble, "count"),
      ("index.task_run_s", idxWork.runMs / 1000.0, "s"),
      ("index.task_wait_s", idxWork.waitMs / 1000.0, "s"),
      ("index.shuffle_write_mb", idxWork.shuffleWrite / mb, "MB"),
      ("index.shuffle_read_mb", idxWork.shuffleRead / mb, "MB"),
      ("index.output_mb", idxWork.output / mb, "MB"),
      ("index.write_amp", idxWork.output.toDouble / ctx.indexedContentBytes, "ratio"),
      ("search.open_ms", medMs("search.open"), "ms"),
      ("search.stats_ms", medMs("search.stats"), "ms"),
      ("search.fetch_eval_ms", medMs("search.fetch_eval"), "ms"),
      ("search.eval_ms", medMs("search.eval"), "ms"),
      ("search.wand_ms", medMs("search.wand"), "ms"),
      ("search.exhaustive_ms", medMs("search.exhaustive"), "ms"),
      ("search.wand_over_exhaustive", medMs("search.wand") / medMs("search.exhaustive"), "ratio"),
      ("search.split_loss_ms",
        medMs("search.stats") + medMs("search.fetch_eval") - medMs("search.exhaustive"), "ms"),
      ("search.zero_job_frac", qWork.count(_.jobs == 0).toDouble / qWork.length, "ratio"),
      ("search.jobs_per_query", qWork.map(_.jobs).sum.toDouble / qWork.length, "count"),
      ("search.tasks_per_query", qWork.map(_.tasks).sum.toDouble / qWork.length, "count"),
      ("search.task_run_ms_per_query", qWork.map(_.runMs).sum.toDouble / qWork.length, "ms"),
      ("search.task_wait_ms_per_query", qWork.map(_.waitMs).sum.toDouble / qWork.length, "ms"),
      ("pipeline.lex_topn_ms", medMs("pipeline.lex_topn"), "ms"),
      ("pipeline.vector_ranks_ms", medMs("pipeline.vector_ranks"), "ms"),
      ("pipeline.fuse_ms", medMs("pipeline.fuse"), "ms"),
      ("pipeline.jobs_per_query", pipeJobs.toDouble / pipeQ, "count"),
      ("jvm.gc_ms_per_op", win.gcMs.toDouble / win.ops, "ms"),
      ("trace.overhead_frac", ctx.facts("trace.overhead_frac"), "ratio"),
      ("trace.self_cover_frac",
        1.0 - self(timedSpan.id).toDouble / (timedSpan.endNs - timedSpan.startNs), "ratio"))
  }
}
