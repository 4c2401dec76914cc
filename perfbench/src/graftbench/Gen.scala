package graftbench

import java.util.SplittableRandom

import graft.search._
import graft.tools.SyntheticCorpus

/** One generated document. `doc_id` is handed to the engine as its docId
  * (`IndexConfig.explicitDocIdCol`), so checks can name documents.
  */
final case class BenchDoc(doc_id: Long, repo: String, path: String, commit: String,
    lang: String, content: String)

/** A generated query: `wand` routes it through `Wand.searchTopK`. */
final case class GenQuery(shape: String, query: Query, wand: Boolean) {
  override def toString: String = s"$shape${if (wand) "/wand" else ""}:$query"
}

/** Seeded generators for every input the benchmark feeds the engine. Each
  * input is a pure function of (seed, stream, index), so the same seed gives
  * byte-identical inputs and nothing depends on generation order.
  *
  * The corpus keeps the `SyntheticCorpus` term profile: hot terms in almost
  * every doc, mid terms in about a tenth, a `wNNN` long tail, stopwords,
  * geometric doc lengths, a planted "posting list" phrase in every 7th doc
  * and one `uniqtoken_<id>` per doc.
  */
object Gen {
  import SyntheticCorpus.{hot, mid, stop}

  val TailTerms = 500
  val EmbeddingDim = 64

  // stream ids keep the generators independent of each other
  private val SDoc = 1L
  private val SQuery = 3L
  private val SPick = 4L
  private val SDelete = 5L
  private val SEmb = 6L

  /** splitmix64 finalizer over (seed, stream, i). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(seed, stream, i))

  def content(seed: Long, id: Long): String = {
    val r = rng(seed, SDoc, id)
    val len = 8 << r.nextInt(6) // 8..256 tokens
    val sb = new StringBuilder
    sb.append(hot((id % hot.length).toInt)).append(' ')
    var t = 1
    while (t < len) {
      val p = r.nextInt(100)
      val w =
        if (p < 30) hot(r.nextInt(hot.length))
        else if (p < 55) mid(r.nextInt(mid.length))
        else if (p < 75) stop(r.nextInt(stop.length))
        else s"w${r.nextInt(TailTerms)}"
      sb.append(w).append(' ')
      t += 1
    }
    if (id % 7 == 0) sb.append("posting list ")
    sb.append(s"uniqtoken_$id")
    sb.toString
  }

  def doc(seed: Long, id: Long): BenchDoc =
    BenchDoc(id, f"org${id % 13}%03d/repo${id % 29}%03d", f"src/pkg${id % 5}/File$id%07d.scala",
      f"${mix(seed, SDoc, id)}%016x", Seq("scala", "go", "java", "py", "c")((id % 5).toInt),
      content(seed, id))

  /** Documents with ids [from, from + n). */
  def docs(seed: Long, from: Long, n: Int): Seq[BenchDoc] =
    (0 until n).map(i => doc(seed, from + i))

  private def tail(r: SplittableRandom): String = s"w${r.nextInt(TailTerms)}"
  private def should(ts: Seq[Query]): Seq[BooleanClause] = ts.map(BooleanClause(Occur.SHOULD, _))

  val Shapes: IndexedSeq[String] =
    Vector("term", "or", "phrase", "boost", "and", "reqexcl", "stop", "msm", "prefix")

  /** Query `i` of the stream: Q1–Q8 shapes (term, OR, phrase, boost, AND,
    * required/excluded, stopword OR, msm) and prefix, cycled in a fixed
    * order so every run gets the same mix; terms are mostly long tail.
    * Every fourth query goes through WAND.
    */
  def query(seed: Long, i: Long): GenQuery = {
    val r = rng(seed, SQuery, i)
    def term() = {
      val p = r.nextInt(100)
      if (p < 15) hot(r.nextInt(hot.length))
      else if (p < 45) mid(r.nextInt(mid.length))
      else tail(r)
    }
    def t() = TermQuery(term())
    val shape = Shapes((i % Shapes.length).toInt)
    val q = shape match {
      case "term" => t()
      case "or" => BooleanQuery(should(Seq(t(), t())))
      case "phrase" =>
        if (r.nextInt(3) == 0) PhraseQuery(Seq("posting", "list")) else PhraseQuery(Seq(term(), term()))
      case "boost" => TermQuery(term(), 0.5f + r.nextInt(8))
      case "and" => BooleanQuery(Seq(BooleanClause(Occur.MUST, t()), BooleanClause(Occur.MUST, t())))
      case "reqexcl" => BooleanQuery(Seq(BooleanClause(Occur.MUST, t()),
        BooleanClause(Occur.MUST_NOT, TermQuery(tail(r)))))
      case "stop" => BooleanQuery(should(Seq(TermQuery(stop(r.nextInt(stop.length))),
        TermQuery(stop(r.nextInt(stop.length))), t())))
      case "msm" => BooleanQuery(should(Seq(t(), t(), t())), minShouldMatch = 2)
      case "prefix" => PrefixQuery(s"w${r.nextInt(50)}") // expands to 11 tail terms
    }
    GenQuery(shape, q, wand = i % 4 == 3)
  }

  /** The i-th pick stream (query choices, probe choices). */
  def picks(seed: Long, i: Long): SplittableRandom = rng(seed, SPick, i)

  /** `k` distinct docIds in [0, maxId], excluding `taken`, for delete batch `batch`. */
  def deletePicks(seed: Long, batch: Int, maxId: Long, k: Int, taken: Set[Long]): Seq[Long] = {
    val r = rng(seed, SDelete, batch)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < k) {
      val id = r.nextLong(maxId + 1)
      if (!taken.contains(id)) out += id
    }
    out.toSeq
  }

  def embedding(seed: Long, id: Long): Array[Double] = {
    val r = rng(seed, SEmb, id)
    Array.fill(EmbeddingDim)(r.nextDouble() * 2 - 1)
  }

  /** SHA-256 over a sample of every generator's output. */
  def fingerprint(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    docs(seed, 0, 200).foreach(d => put(d.toString))
    docs(seed, 1000000, 50).foreach(d => put(d.toString))
    (0 until 200).foreach(i => put(query(seed, i).toString))
    put(deletePicks(seed, 0, 100000, 20, Set.empty).mkString(","))
    (0 until 20).foreach(i => put(embedding(seed, i).mkString(",")))
    val pr = picks(seed, 0)
    put((0 until 100).map(_ => pr.nextInt(1000)).mkString(","))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
