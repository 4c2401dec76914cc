package graft.search

import org.apache.spark.sql.functions._

import graft.codec.SmallFloat

/** Block-max-WAND-style pruned top-k (north-star requirement; additive over
  * the reference — Lucene 4.10 predates impacts, /root/repo/SURVEY.md §4.2).
  *
  * Every posting row carries block-max metadata (maxFreq, minDl). For ANY
  * boolean tree of term/phrase leaves, a docId range's score is
  * upper-bounded by a recursive bound over the COMPILED plan (MUST bounds
  * sum raw, SHOULD bounds clamp at 0, phrase bounds from member-row
  * extremes); additionally a range can only contain a match if every MUST
  * subtree and >= minShouldMatch SHOULD subtrees are matchable there (the
  * reference's leapfrog cost-ordering of conjunctionScorer.go:16-40,
  * restated range-wise and recursively). Two phases:
  *
  *  1. evaluate the B highest-bound eligible ranges → candidate top-k →
  *     threshold τ = kth score;
  *  2. evaluate only the remaining eligible ranges whose bound reaches τ
  *     (>= — an exactly-attainable bound can hide a tie-break winner).
  *
  * Ranges skipped in phase 2 provably contain no top-k doc, so the returned
  * top-k (docIds AND scores) is identical to the exhaustive search — verified
  * by WandSpec against the exact path. Only totalHits degrades to a lower
  * bound. Both phases read row *metadata* without payloads (Parquet column
  * pruning); payload decode happens only for surviving ranges.
  *
  * Bounds and evaluation share ONE compiled plan: every leaf bound comes
  * from the leaf's own scorer (normalization and boosts included), so the
  * bound can never drift from the scoring function it bounds.
  *
  * Scale: the bounds aggregation shuffles metadata rows only (bytes per row),
  * phase selection is a distributed top-B (TakeOrdered), and surviving-range
  * selection collects at most [[SurvivorCollectMax]] ids — beyond that the
  * survivor set stays distributed and reaches the postings scan as a
  * broadcast LEFT SEMI join, so nothing driver-side grows with the corpus.
  */
object Wand {

  /** Survivor sets up to this size are collected and pushed down as an
    * `isin` (parquet row-group pruning on rangeId); larger sets stay
    * distributed (broadcast semi-join). Bounded constant — never O(corpus).
    */
  val SurvivorCollectMax = 256

  /** Safe per-row upper bound for one term's score within the row's range:
    * freq ≤ maxFreq and dl ≥ minDl. byte315 is monotone INCREASING: a larger
    * byte decodes to a larger norm float, i.e. a SMALLER decoded doc length
    * and a HIGHER BM25 score. Docs in the range carry bytes ≤
    * encode(1/√minDl) = b, so stepping UP one bucket (b+1) upper-bounds the
    * Ref32 score of any byte ≤ b (encode rounds down: decode(b) ≤ 1/√minDl <
    * decode(b+1), hence decodedLen(b+1) < minDl ≤ decodedLen(b)).
    * Evaluates the scorer's boundScore, not score: models whose score is
    * NOT nonincreasing in dl (LM Pitman-Yor) supply their own valid bound
    * (advisor round-4 fix).
    */
  private[search] def rowBound(scorer: Similarity.Scorer, maxFreq: Int, minDl: Int): Float = {
    val b = SmallFloat.floatToByte315(
      (1.0 / math.sqrt(math.max(minDl, 1).toDouble)).toFloat)
    val safeByte = math.min((b & 0xff) + 1, 255).toByte
    scorer.boundScore(maxFreq.toFloat, safeByte)
  }

  /** Pruned top-k for ANY query tree of term/phrase leaves and nested
    * booleans (MUST/SHOULD/MUST_NOT at every level, any minShouldMatch) —
    * the bounds walk the compiled plan recursively, so nothing falls back to
    * exhaustive search except the shortcuts below.
    *
    * `totalHits` depends on the path that served the query: when the
    * pruned plan runs it counts only the evaluated ranges' matches, a LOWER
    * BOUND (`totalHitsIsLowerBound = true`); when the singleton or row-cache
    * shortcut (or the exhaustive fallback for a phase 1 short of k hits)
    * serves it, the count is exact.
    */
  def searchTopK(searcher: IndexSearcher, q0: Query, k: Int,
      mode: ScoreMode = ScoreMode.Ref32, phase1Ranges: Int = 64,
      cachedShortcut: Boolean = true): TopDocs = {
    val q = Query.rewrite(searcher.expandPrefixes(q0))
    // every present term df==1 → the searcher's singleton-pulsing path
    // answers with ZERO postings reads; WAND's metadata scan would be
    // strictly more work (stats are cached, so this check is free)
    val keys = Query.leafKeys(q, searcher.field)
    if (keys.isEmpty || searcher.termStats(keys).values.forall(_.docFreq == 1))
      searcher.search(q, k, mode)
    // ROW-CACHE shortcut (round 6): when every query key's posting rows are
    // already in the searcher's row cache (and the driver-local bound
    // holds), the exhaustive driver-local path answers with ZERO Spark jobs
    // — WAND's two-phase plan would launch jobs to avoid reads the cache
    // already paid for. The top-k is identical (pruned ≡ exhaustive is the
    // pinned invariant); totalHits comes back EXACT (lowerBound = false)
    // instead of pruned. `cachedShortcut = false` opts out for callers that
    // pin pruning behavior itself (the WAND ≡ exhaustive parity specs).
    else if (cachedShortcut && searcher.servesFromRowCache(q))
      searcher.search(q, k, mode)
    else pruned(searcher, q, k, mode, phase1Ranges)
  }

  /** Term indexes the bounds read: every present leaf outside MUST_NOT
    * subtrees (those only remove docs — ignoring them keeps the bound an
    * upper bound and the eligibility a superset). FILTER leaves are read for
    * eligibility although they never score.
    */
  private def boundTerms(n: CNode): Seq[Int] = n match {
    case CLeafTerm(idx, _, _, _) => if (idx >= 0) Seq(idx) else Nil
    case CLeafPhrase(idxs, _, _, _, _) => idxs.toSeq
    case CBool(must, should, filters, _, _, _) =>
      (must ++ should ++ filters).toSeq.flatMap(boundTerms)
    case CDisMax(children, _) => children.toSeq.flatMap(boundTerms)
    case CConst(child, _) => boundTerms(child)
  }

  /** One range's metadata rows, (maxFreq, minDl) per row, indexed by term
    * index; null = the term has no row in the range.
    */
  private type RangeRows = Array[scala.collection.mutable.ArrayBuffer[(Int, Int)]]

  /** A leaf's bound at (maxFreq, minDl), in the arithmetic the evaluation
    * uses (advisor round-3 fix: τ and bounds must live in the SAME
    * arithmetic — a float32 bound one ulp below a float64 τ could wrongly
    * prune a tie-break winner when the norm-quantization margin vanishes,
    * e.g. b=0). ExactDouble evaluates the exact scorer's boundScore:
    * it defaults to score, valid for every model monotone nondecreasing in
    * freq and nonincreasing in dl (BM25 family, TF-IDF 1/√dl, LM/DFR/IB
    * length penalties, DFI expectation growth); LM Pitman-Yor (whose
    * discount term grows with dl) overrides it with a dl-independent bound
    * (advisor round-4 fix). Ref32 keeps the safe-byte float32 [[rowBound]].
    */
  private def leafBound(ref: Similarity.Scorer, exact: Similarity.ExactScorer,
      exactMode: Boolean, maxFreq: Int, minDl: Int): Double =
    if (exactMode) exact.boundScore(maxFreq.toDouble, math.max(minDl, 1).toDouble)
    else rowBound(ref, maxFreq, minDl).toDouble

  /** Per-range (bound, canMatch) over the compiled plan. A term duplicated
    * across clauses scores once per clause, so each clause bounds with its
    * own scorer and bounds sum per clause. MUST bounds sum raw
    * (negative-scoring LM models: every MUST clause matches), SHOULD bounds
    * clamp at 0 (a non-matching clause contributes 0 — a common term's
    * negative bound must not drag the range below a doc matching only the
    * rare term), FILTER children gate like MUST and contribute 0, MUST_NOT
    * children are ignored. Coords (≤ 1 at every level) only lower evaluated
    * scores, so summing unscaled clause bounds stays safe. Eligibility:
    * every MUST and FILTER child matchable, >= msm SHOULD children
    * matchable, and — with no required child — at least one SHOULD child
    * matchable (terms cannot match from another range).
    */
  private def evalNode(n: CNode, rows: RangeRows, exactMode: Boolean): (Double, Boolean) =
    n match {
      case CLeafTerm(idx, _, ref, exact) =>
        if (idx >= 0 && rows(idx) != null)
          (rows(idx).iterator.map(e => leafBound(ref, exact, exactMode, e._1, e._2)).sum, true)
        else (0.0, false)
      case CLeafPhrase(idxs, _, ref, exact, slop) =>
        // slop=0: phraseFreq <= min over members of the range's maxFreq.
        // slop>0: matches anchor on the FIRST member's positions, and one
        // later-member position can serve MANY anchors — only the first
        // member's maxFreq bounds the count. Either way a matching doc
        // contains EVERY member, so max over members' minDl is a valid dl
        // lower bound (a sloppy match still requires every member present).
        if (idxs.forall(rows(_) != null)) {
          val maxF =
            if (slop == 0) idxs.iterator.map(i => rows(i).iterator.map(_._1).max).min
            else rows(idxs(0)).iterator.map(_._1).max
          val minDl = idxs.iterator.map(i => rows(i).iterator.map(_._2).min).max
          (leafBound(ref, exact, exactMode, maxF, minDl), true)
        } else (0.0, false)
      case CBool(must, should, filters, _, msm, _) =>
        var bound = 0.0
        var ok = true
        var i = 0
        while (i < must.length) {
          val (b, e) = evalNode(must(i), rows, exactMode)
          if (!e) ok = false
          bound += b
          i += 1
        }
        i = 0
        while (i < filters.length) { // gate like MUST, bound contribution 0
          if (!evalNode(filters(i), rows, exactMode)._2) ok = false
          i += 1
        }
        var sat = 0
        i = 0
        while (i < should.length) {
          val (b, e) = evalNode(should(i), rows, exactMode)
          if (e) { sat += 1; bound += math.max(0.0, b) }
          i += 1
        }
        if (sat < msm) ok = false
        if (must.isEmpty && filters.isEmpty && sat == 0) ok = false
        (bound, ok)
      case CDisMax(children, tie) =>
        // (1−tie)·max + tie·sum over ELIGIBLE children's bounds — an upper
        // bound for tie ∈ [0,1]: the matching set is a subset of the
        // eligible set and each per-clause score ≤ its bound
        var mx = 0.0
        var sm = 0.0
        var any = false
        var i = 0
        while (i < children.length) {
          val (b, e) = evalNode(children(i), rows, exactMode)
          if (e) {
            any = true
            sm += b
            if (b > mx) mx = b
          }
          i += 1
        }
        if (any) (mx + tie.toDouble * (sm - mx), true) else (0.0, false)
      case CConst(child, s) => // exactly the constant; eligibility = child's
        val e = evalNode(child, rows, exactMode)._2
        (if (e) s.toDouble else 0.0, e)
    }

  private def pruned(searcher: IndexSearcher, q: Query,
      k: Int, mode: ScoreMode, phase1Count: Int): TopDocs = {
    val spark = searcher.sparkSession
    import spark.implicits._
    // ONE compilation serves the bounds and both evaluation phases
    val p = searcher.prepare(q, mode)
    val root = p.ge.planRoot
    val keys = p.keys.toIndexedSeq
    val termIdx = keys.zipWithIndex.toMap
    val nTerms = keys.size
    val exactMode = mode == ScoreMode.ExactDouble
    // a tree that is ineligible even in a range holding a row of EVERY
    // present term can match nowhere (an absent term, or a phrase with an
    // absent member, compiles to CLeafTerm(-1, ...)): zero hits, zero jobs
    val everyTerm: RangeRows = Array.fill(nTerms)(scala.collection.mutable.ArrayBuffer((1, 1)))
    if (!evalNode(root, everyTerm, exactMode)._2) return TopDocs(0, Array.empty)

    // per-range bound + eligibility in ONE typed pass over the range's
    // metadata rows (groupByKey on rangeId): <= #query keys x #live waves
    // entries of a few bytes each per group -- a bounded buffer, never
    // O(docs). Typed rows keyed by term index, no string codec.
    val eligible = searcher.postingRowsMeta(boundTerms(root).distinct.map(keys))
      .select(col("field"), col("term"), col("rangeId"), col("maxFreq"), col("minDl"))
      .as[(String, String, Long, Int, Int)]
      .groupByKey(_._3)
      .mapGroups { (rangeId: Long, it: Iterator[(String, String, Long, Int, Int)]) =>
        val rows: RangeRows = new Array(nTerms)
        it.foreach { case (f, t, _, maxFreq, minDl) =>
          val i = termIdx((f, t))
          if (rows(i) == null) rows(i) = scala.collection.mutable.ArrayBuffer.empty
          rows(i) += ((maxFreq, minDl))
        }
        val (b, e) = evalNode(root, rows, exactMode)
        (rangeId, b, e)
      }
      .toDF("rangeId", "rangeBound", "eligible")
      .where(col("eligible"))
      .select(col("rangeId"), col("rangeBound"))

    // phase 1: best-bound eligible ranges (distributed TakeOrdered, tiny)
    val phase1 = eligible.orderBy(col("rangeBound").desc, col("rangeId"))
      .limit(phase1Count).as[(Long, Double)].collect()
    if (phase1.isEmpty) return TopDocs(0, Array.empty)
    val phase1Set = phase1.map(_._1).toSet
    val r1 = searcher.evalRanges(p, Some(RangeSel.Ids(phase1Set.toSeq)), k)
    if (r1.scoreDocs.length < k) {
      // not enough candidates among the best ranges → exhaustive (rare:
      // k larger than phase-1 coverage)
      return searcher.evalRanges(p, None, k)
    }
    val tau = r1.scoreDocs.last.score

    // phase 2: only eligible ranges that can still beat τ. Collect a BOUNDED
    // prefix: small survivor sets get isin pushdown, anything larger stays a
    // distributed DataFrame feeding a broadcast semi-join.
    // bound >= τ, NOT strict >: for norm-insensitive scorers (b=0) the bound
    // is exactly attainable, and a doc scoring exactly τ with a smaller docId
    // wins the (score desc, docId asc) tie-break — strict > would prune it
    // and break 'pruned ≡ exhaustive' (advisor round-2 fix, WandSpec case)
    val survivorsDF = eligible
      .where(col("rangeBound") >= tau && !col("rangeId").isin(phase1Set.toSeq: _*))
      .select("rangeId")
    val probe = survivorsDF.limit(SurvivorCollectMax + 1).as[Long].collect()
    val merged = new BoundedHitQueue(k)
    r1.scoreDocs.foreach(d => merged.insert(d.docId, d.score))
    var total = r1.totalHits
    if (probe.nonEmpty) {
      val sel =
        if (probe.length <= SurvivorCollectMax) RangeSel.Ids(probe.toSeq)
        else RangeSel.Df(survivorsDF)
      val r2 = searcher.evalRanges(p, Some(sel), k)
      r2.scoreDocs.foreach(d => merged.insert(d.docId, d.score))
      total += r2.totalHits
    }
    TopDocs(total, merged.toSortedArray, totalHitsIsLowerBound = true)
  }
}
