package graft.query

import graft.core.{Analysis, Lru}
import graft.index.{Codec, IndexReader, PointReader, Vocabulary}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import QueryParser._

/** Driver-resident GRAMMAR serving: the local side of the
  * local/distributed seam, over the full query grammar (phrase / near /
  * window chains, NOT, OR, prefix, range, synonym, fuzzy, the 5-knob score
  * algebra, pagination and rank modes).
  *
  * The reference answers every interactive query from RAM-resident
  * posting lists (README.md:16-18; CompleterBase intersects in-process
  * arrays; History.h caches whole results). The distributed [[Eval]] plans
  * are the 10^12-doc path and stay pinned by every correctness gate; this
  * object is the serving fast path in front of them: when every atom of a
  * parsed query resolves to a driver-budget-sized posting volume, the
  * atoms' decoded scored postings are fetched ONCE (one driver-side point
  * read of the block files per cold request, LRU-bounded) and the whole
  * part chain -- aggregation algebra, window matching, NOT, top-k -- runs
  * as in-process array arithmetic returning driver rows: ZERO Spark jobs,
  * cold or warm.
  *
  * Parity is the contract (spec: LocalServeSpec runs both paths over every
  * grammar shape): same BM25 operand order as [[Analysis.bm25Col]], same
  * 4dp HALF_UP rounding applied BEFORE ordering (Spark round semantics),
  * same total orders, same partial/empty semantics. Join blocks
  * `[q1#q2#...]` evaluate locally too (sub-queries recurse under default
  * params, the distributed twin's contract). Locality is decided by
  * posting volume alone: an atom of any term count serves here while its
  * postings fit [[IndexReader.MaxLocalPostingsPerQuery]]. Queries past the
  * guards ([[Fallback]]: an over-budget atom or query, a fuzzy atom whose
  * scan kept only the hull, a fuzzy best-match resolution, completions
  * over a trailing join block) return None and the caller falls back to
  * the distributed plans, so at web scale the driver never holds more
  * than the postings budget.
  */
object LocalServe {

  /** One atom's decoded scored postings, driver-resident: parallel arrays,
    * one entry per (term, doc) pair, grouped by term and doc-sorted within
    * a term (the per-(doc, term) row shape of [[AtomSource.atomScored]]).
    * `terms` holds one String per term id, shared by that term's rows.
    */
  final case class LocalAtom(terms: Array[String], docIds: Array[Long],
                             tfs: Array[Long], scores: Array[Double],
                             score1s: Array[Double],
                             positions: Array[Array[Int]]) {
    def nRows: Int = docIds.length
    /** LRU weight: row entries + held positions (both ~16-24 bytes). */
    lazy val weight: Long = {
      var w = nRows.toLong
      var i = 0
      while (i < positions.length) { w += positions(i).length; i += 1 }
      w
    }
  }

  private val EmptyPos = Array.empty[Int]
  private val EmptyAtom = LocalAtom(Array.empty, Array.empty, Array.empty,
    Array.empty, Array.empty, Array.empty)

  /** The decoded-atom LRU -- the driver's only postings cache -- keyed by
    * (index epoch, atom) so a rebuild into the same directory never serves
    * stale lists, weighed by [[LocalAtom.weight]].
    */
  private[graft] def atomLru(): Lru[(Long, Atom), LocalAtom] =
    new Lru("atoms", maxWeight = IndexReader.LocalListBudgetPostings, weigher = _.weight)

  /** One reader's serving state: its atom, page and docs LRUs and its
    * fallback counts. Held in a weak map keyed by reader INSTANCE: the
    * state dies with its reader, so rebuilds / short-lived readers cannot
    * accumulate driver memory.
    */
  private final class ReaderState {
    val atoms: Lru[(Long, Atom), LocalAtom] = atomLru()
    val pages = new Lru[(Long, String, String, Int, QueryParams), Page]("pages",
      maxEntries = ResultCacheMaxEntries)
    val docs = new Lru[Long, (String, String)]("docs",
      maxWeight = DocsCacheBudgetChars, weigher = v => v._1.length + v._2.length)
    val fallbacks: Map[Fallback, java.util.concurrent.atomic.LongAdder] =
      Fallback.all.map(_ -> new java.util.concurrent.atomic.LongAdder).toMap
  }

  private val states = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[IndexReader, ReaderState]())
  private def stateOf(reader: IndexReader): ReaderState =
    states.computeIfAbsent(reader, _ => new ReaderState)

  /** spec hook: decoded atoms currently held for this reader. */
  private[graft] def cachedAtomCount(reader: IndexReader): Int =
    stateOf(reader).atoms.size

  /** The guard that sent a request to the distributed plans. */
  private[graft] sealed trait Fallback
  private[graft] object Fallback {
    /** One atom's postings pass [[IndexReader.MaxLocalPostingsPerQuery]]. */
    case object AtomOverBudget extends Fallback
    /** The query's atoms together pass the same budget. */
    case object QueryOverBudget extends Fallback
    /** A fuzzy scan passed [[IndexAtomSource.MaxExactIds]] candidates and
      * kept only their hull.
      */
    case object FuzzyHull extends Fallback
    /** A best-match bonus on a fuzzy word needs a closest-word scan. */
    case object FuzzyBestMatch extends Fallback
    /** Completions over a trailing join block (the distributed path
      * rejects them).
      */
    case object TrailingJoinBlock extends Fallback
    /** A windowed separator on a positions-off index (Eval raises the
      * error).
      */
    case object PositionlessWindow extends Fallback
    val all: Seq[Fallback] = Seq(AtomOverBudget, QueryOverBudget, FuzzyHull,
      FuzzyBestMatch, TrailingJoinBlock, PositionlessWindow)
  }

  /** Requests on this reader that `cause` sent to the distributed plans. */
  private[graft] def fallbackCount(reader: IndexReader, cause: Fallback): Long =
    stateOf(reader).fallbacks(cause).sum

  /** Count a fallback under its cause; the None the caller returns. */
  private def fallback(reader: IndexReader, cause: Fallback): None.type = {
    stateOf(reader).fallbacks(cause).increment()
    None
  }

  /** The volume guard: true iff the atom with candidate id `runs` has more
    * postings than [[IndexReader.MaxLocalPostingsPerQuery]], summing its
    * terms' df from the resident vocabulary (one posting per (term, doc)).
    * An atom within the budget decodes at most that many rows on the
    * driver, whatever its term count. Cost: every df is at least 1, so
    * [[postingVolume]] visits at most budget + 1 ids -- a one-letter prefix
    * over millions of terms costs no more than the budget. The term count
    * is no guard here: [[IndexAtomSource.MaxExactIds]] bounds the
    * distributed plans' pushed predicate and broadcast, while the driver
    * path reads term and df by id and needs neither, so its cost follows
    * postings, not terms.
    */
  private[graft] def overBudget(v: Vocabulary, runs: Seq[(Long, Long)]): Boolean =
    postingVolume(v, runs, IndexReader.MaxLocalPostingsPerQuery) >
      IndexReader.MaxLocalPostingsPerQuery

  /** The df sum over `runs`, or the first partial sum past `limit`. */
  private[graft] def postingVolume(v: Vocabulary, runs: Seq[(Long, Long)],
                                   limit: Long): Long = {
    var sum = 0L
    val it = runs.iterator
    while (it.hasNext) {
      val (lo, hi) = it.next()
      var id = lo
      while (id <= hi) {
        sum += v.df(id.toInt)
        if (sum > limit) return sum
        id += 1
      }
    }
    sum
  }

  // ---- atom resolution ------------------------------------------------------

  /** Resolve every distinct atom of a part chain from the reader's LRU;
    * all COLD atoms are fetched with ONE point read over the union of their
    * block runs ([[IndexReader.points]]: the block files' filtered row
    * groups, read on the driver with no Spark job -- the reference's block
    * locate, HYBCompleter.cpp:661-746). The read returns exactly the rows of
    * [[IndexReader.blocksForIdRuns]] (PointReaderSpec), an atom's exact
    * candidate runs ([[IndexAtomSource.exactRuns]], any term count) cover
    * every segment of its candidate term ids, and each atom keeps only the
    * rows inside its own runs. None when any atom must stay distributed --
    * postings past the volume guard ([[overBudget]]) or a fuzzy scan
    * that kept only the hull -- decided BEFORE any fetch, from the resident
    * vocabulary. A cold query without fuzzy atoms thus runs no Spark job
    * at all.
    */
  private def localAtoms(reader: IndexReader, src: IndexAtomSource,
                         wanted: Seq[Atom]): Option[java.util.HashMap[Atom, LocalAtom]] = {
    val cache = stateOf(reader).atoms
    val atoms = new java.util.HashMap[Atom, LocalAtom]()
    val colds = new scala.collection.mutable.ArrayBuffer[(Atom, Seq[(Long, Long)])]
    for (a <- wanted.distinct) {
      val hit = cache.get((reader.indexEpoch, a))
      if (hit != null) atoms.put(a, hit)
      else src.exactRuns(a) match {
        case None => return fallback(reader, Fallback.FuzzyHull)
        case Some(runs) if runs.isEmpty => atoms.put(a, EmptyAtom) // unknown word: empty, local
        case Some(runs) =>
          if (overBudget(reader.vocabulary, runs))
            return fallback(reader, Fallback.AtomOverBudget) // head atom: stays distributed
          colds += ((a, runs))
      }
    }
    if (colds.nonEmpty) {
      val segs = reader.points.blocks(colds.iterator.flatMap(_._2).toSeq, reader.hasPositions)
      for ((a, runs) <- colds) {
        val sorted = runs.toIndexedSeq
        val own = segs.filter(s => inRuns(sorted, s.termId))
          .sortBy(s => (s.termId, s.firstDocId))
        atoms.put(a, cache.putIfAbsent((reader.indexEpoch, a), buildAtom(reader, own)))
      }
    }
    Some(atoms)
  }

  /** True iff `id` lies in one of the sorted, disjoint `runs`. */
  private def inRuns(runs: IndexedSeq[(Long, Long)], id: Long): Boolean = {
    var a = 0
    var b = runs.length
    while (a < b) { // first run whose hi >= id
      val mid = (a + b) >>> 1
      if (runs(mid)._2 < id) a = mid + 1 else b = mid
    }
    a < runs.length && runs(a)._1 <= id
  }

  /** Decode + score stored block segments into a [[LocalAtom]], with the
    * same [[Codec]] the distributed Generator uses and the exact
    * [[Analysis.bm25Col]] operand order (spec-pinned double parity). `segs`
    * must be (term_id, first_doc_id)-sorted and contain exactly the
    * candidate set's segments; term and df come from the resident
    * vocabulary, one String per term id.
    */
  private def buildAtom(reader: IndexReader,
                        segs: Array[PointReader.BlockSeg]): LocalAtom = {
    val hasPos = reader.hasPositions
    val n = segs.iterator.map(_.nDocs).sum
    val terms = new Array[String](n)
    val docIds = new Array[Long](n)
    val tfs = new Array[Long](n)
    val scores = new Array[Double](n)
    val score1s = new Array[Double](n)
    val positions = new Array[Array[Int]](n)
    val v = reader.vocabulary
    var off = 0
    var termId = -1L
    var term: String = null
    var idfV = 0.0
    segs.foreach { sg =>
      if (sg.termId != termId) {
        termId = sg.termId
        term = v.term(termId.toInt)
        idfV = reader.idf(v.df(termId.toInt))
      }
      val m = sg.nDocs
      val ds = Codec.decodeDeltas(reader.doclistCodec, sg.docDeltas, m)
      val tf = Codec.decodeLongs(reader.doclistCodec, sg.tfs, m)
      val dl = Codec.decodeLongs(reader.doclistCodec, sg.dls, m)
      val pos = if (hasPos) Codec.decodePositions(reader.doclistCodec, sg.positions, tf)
      else null
      var i = 0
      while (i < m) {
        terms(off) = term
        docIds(off) = ds(i)
        tfs(off) = tf(i)
        val dlD = dl(i).toDouble
        val denom = Analysis.K1 * ((1.0 - Analysis.B) + Analysis.B * dlD / reader.avgdl)
        scores(off) = idfV * (tf(i).toDouble * (Analysis.K1 + 1.0)) / (tf(i) + denom)
        score1s(off) = idfV * (1.0 * (Analysis.K1 + 1.0)) / (1.0 + denom)
        positions(off) = if (hasPos) pos(i) else EmptyPos
        off += 1
        i += 1
      }
    }
    LocalAtom(terms, docIds, tfs, scores, score1s, positions)
  }

  // ---- part-chain evaluation ------------------------------------------------

  /** Accumulated doc relation: doc-sorted parallel arrays; `mpos` (null
    * when the chain carries no positions) is the most recent non-NOT
    * part's MATCHED positions per doc -- [[Eval.evalDocs]]'s State.
    */
  private final case class Rel(docIds: Array[Long], scores: Array[Double],
                               mpos: Array[Array[Int]]) {
    def hasPos: Boolean = mpos != null
  }

  private def isNot(atom: Atom): Boolean = atom match {
    case w: Word => w.not
    case _ => false
  }

  private def isFuzzy(atom: Atom): Boolean = atom match {
    case w: Word => w.fuzzy
    case _ => false
  }

  /** One part's doc relation under the score algebra -- the local twin of
    * [[Eval.evalDocs]]'s partRel: per-(doc, term) contribution under
    * sameCompletionAgg, combined across the part's terms under
    * completionsAgg, plus the best-match bonus on docs matching `bw`;
    * positions gathered per doc when a later window chains from this part.
    */
  private def partRel(la: LocalAtom, params: QueryParams, damping: Double,
                      bw: Option[String], bm: Double, withPos: Boolean): Rel = {
    val termMax = params.sameCompletionAgg == QueryParams.Max
    val complMax = params.completionsAgg == QueryParams.Max
    val idx = new java.util.HashMap[java.lang.Long, Integer](
      math.max(16, la.nRows))
    val docs = new scala.collection.mutable.ArrayBuffer[Long]
    val scores = new scala.collection.mutable.ArrayBuffer[Double]
    val bmHit = new scala.collection.mutable.ArrayBuffer[Boolean]
    val posBufs =
      if (withPos) new scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]]
      else null
    var i = 0
    while (i < la.nRows) {
      val d = la.docIds(i)
      val c = (if (termMax) la.score1s(i) else la.scores(i)) * damping
      var j = idx.get(d)
      if (j == null) {
        j = docs.length
        idx.put(d, j)
        docs += d
        scores += c
        bmHit += false
        if (withPos) posBufs += new scala.collection.mutable.ArrayBuffer[Int]
      } else if (complMax) {
        if (c > scores(j)) scores(j) = c
      } else scores(j) += c
      if (bw.isDefined && bw.get == la.terms(i)) bmHit(j) = true
      if (withPos) posBufs(j) ++= la.positions(i)
      i += 1
    }
    val order = docs.indices.sortBy(docs(_)).toArray
    val outD = new Array[Long](order.length)
    val outS = new Array[Double](order.length)
    val outP = if (withPos) new Array[Array[Int]](order.length) else null
    var r = 0
    while (r < order.length) {
      val j = order(r)
      outD(r) = docs(j)
      outS(r) = if (bmHit(j)) scores(j) + bm else scores(j)
      if (withPos) outP(r) = posBufs(j).toArray
      r += 1
    }
    Rel(outD, outS, outP)
  }

  /** Evaluate the part chain to raw (unrounded) doc scores; None when any
    * atom cannot be served locally. Mirrors [[Eval.evalDocs]] exactly --
    * every branch here has its distributed twin there, and LocalServeSpec
    * pins the two equal over every grammar shape.
    */
  /** Local twin of [[Eval.evalJoinBlock]]: each side's sub-query evaluates
    * under DEFAULT params (the distributed twin calls the 2-arg evalDocs),
    * its last atom's (doc, term, score) rows are restricted to the side's
    * result docs, terms present in ALL sides survive, and docs of any side
    * holding a common term sum their rows' scores. None -> some side must
    * stay distributed (whole query falls back, like every other seam).
    */
  private def evalJoinBlockLocal(reader: IndexReader, src: IndexAtomSource,
                                 ps: Seq[ParsedQuery]): Option[Rel] = {
    val sides = ps.map { pq =>
      val rel = evalDocsLocal(reader, src, pq, QueryParams.Default) match {
        case Some(r) => r
        case None => return None
      }
      val last = pq.parts.last.atom
      val la = localAtoms(reader, src, Seq(last)) match {
        case Some(m) => m.get(last)
        case None => return None
      }
      val docSet = new java.util.HashSet[java.lang.Long](math.max(16, rel.docIds.length))
      rel.docIds.foreach(docSet.add(_))
      (la, docSet)
    }
    // terms common to ALL sides (the reference's hash join / our bitmask
    // agg, CompleterBase.Join.cpp) -- a side contributes a term iff one of
    // its result docs holds it
    val common = sides.map { case (la, docSet) =>
      val ts = new java.util.HashSet[String]()
      var i = 0
      while (i < la.nRows) {
        if (docSet.contains(la.docIds(i))) ts.add(la.terms(i))
        i += 1
      }
      ts
    }.reduce { (a, b) => a.retainAll(b); a }
    // docs of either side containing a common term, scores re-aggregated
    val acc = new java.util.TreeMap[Long, java.lang.Double]()
    sides.foreach { case (la, docSet) =>
      var i = 0
      while (i < la.nRows) {
        if (docSet.contains(la.docIds(i)) && common.contains(la.terms(i)))
          acc.merge(la.docIds(i), la.scores(i), (x, y) => x + y)
        i += 1
      }
    }
    val outD = new Array[Long](acc.size)
    val outS = new Array[Double](acc.size)
    var r = 0
    acc.forEach { (d, s) => outD(r) = d; outS(r) = s; r += 1 }
    Some(Rel(outD, outS, null))
  }

  private def evalDocsLocal(reader: IndexReader, src: IndexAtomSource,
                            q: ParsedQuery, params: QueryParams): Option[Rel] = {
    val parts = q.parts
    val lastIdx = parts.length - 1
    def bmFor(i: Int): Double = if (i == lastIdx) params.bestMatchBonus else 0.0
    def windowOf(sep: Sep): Option[(Int, Int)] = sep match {
      case Near => params.window.orElse(sep.window)
      case _ => sep.window
    }
    def nextWindowed(idx: Int): Boolean =
      parts.drop(idx + 1).dropWhile(p => isNot(p.atom)).headOption.exists(p =>
        !p.atom.isInstanceOf[JoinBlock] && p.sep.flatMap(windowOf).isDefined)
    // a windowed separator on a positions-off index must fail with Eval's
    // error, not silently fall back -- refuse the local path, Eval throws
    if (!reader.hasPositions &&
        parts.exists(_.sep.flatMap(windowOf).isDefined))
      return fallback(reader, Fallback.PositionlessWindow)

    def damp(a: Atom): Double =
      if (isFuzzy(a) && params.fuzzyDamping < 1.0) params.fuzzyDamping else 1.0
    /** best-match word resolved from the resident vocabulary only;
      * a fuzzy best-match needs a distributed closest-word scan -> None
      * (whole query falls back). Some(None) = resolved, no best match.
      */
    def bestMatch(a: Atom, bm: Double): Option[Option[String]] =
      if (bm == 0.0) Some(None)
      else a match {
        case w: Word if w.prefix =>
          Some(Some(w.text).filter(reader.vocabulary.idOf(_) >= 0))
        case w: Word if w.fuzzy => fallback(reader, Fallback.FuzzyBestMatch)
        case _ => Some(None)
      }
    def combineParts(s1: Double, s2: Double, bonus: Double): Double =
      params.partsAgg match {
        case QueryParams.Max => math.max(s1, s2)
        case QueryParams.SumWithBonus => s1 + s2 + bonus
        case _ => s1 + s2
      }

    // flatten join-block sub-queries so ONE batched fetch covers every
    // atom of the whole request (sub-query recursion then runs all-warm)
    def flatAtoms(pq: ParsedQuery): Seq[Atom] = pq.parts.flatMap(_.atom match {
      case JoinBlock(ps) => ps.flatMap(flatAtoms)
      case a => Seq(a)
    })
    val atoms = localAtoms(reader, src, flatAtoms(q)) match {
      case Some(m) => m
      case None => return None
    }
    var totalRows = 0L
    atoms.values.forEach(la => totalRows += la.nRows)
    if (totalRows > IndexReader.MaxLocalPostingsPerQuery)
      return fallback(reader, Fallback.QueryOverBudget)

    val first = parts.head
    require(!isNot(first.atom), "query cannot start with a NOT part")
    def part(i: Int, withPos: Boolean): Option[Rel] = parts(i).atom match {
      // best-match bonus is ignored for a join block, like the distributed
      // partRel; its result carries no positions
      case JoinBlock(ps) => evalJoinBlockLocal(reader, src, ps)
      case a =>
        bestMatch(a, bmFor(i)).map(bw =>
          partRel(atoms.get(a), params, damp(a), bw, bmFor(i), withPos))
    }
    var state = part(0, nextWindowed(0)) match {
      case Some(r) => r
      case None => return None
    }

    var idx = 1
    while (idx < parts.length) {
      val p = parts(idx)
      // a window needs positions on BOTH sides; a join block has none, so
      // a separator adjacent to one degrades to plain same-doc AND (the
      // distributed loop's `positionless` rule)
      val positionless = !state.hasPos || p.atom.isInstanceOf[JoinBlock]
      val window = if (positionless) None else p.sep.flatMap(windowOf)
      if (isNot(p.atom)) {
        // NOT: anti-join; positions (if any) ride through
        val neg = atoms.get(p.atom)
        val negSet = new java.util.HashSet[java.lang.Long](math.max(16, neg.nRows))
        var i = 0
        while (i < neg.nRows) { negSet.add(neg.docIds(i)); i += 1 }
        val keep = state.docIds.indices.filter(i => !negSet.contains(state.docIds(i)))
        state = Rel(keep.map(state.docIds).toArray, keep.map(state.scores).toArray,
          if (state.hasPos) keep.map(state.mpos).toArray else null)
      } else if (window.isEmpty) {
        // plain AND: doc equi-join, scores combined under partsAgg
        val cur = part(idx, nextWindowed(idx)) match {
          case Some(r) => r
          case None => return None
        }
        val (d, s, m) = mergeAnd(state, cur, combineParts(_, _, 0.0))
        state = Rel(d, s, m)
      } else {
        // windowed AND: current part's positions within [lo, hi] of a
        // previously matched position; the next window chains only from
        // positions that matched
        val (lo, hi) = window.get
        val cur = part(idx, withPos = true) match {
          case Some(r) => r
          case None => return None
        }
        val bonus =
          if (params.partsAgg == QueryParams.SumWithBonus)
            Executor.bonusFor(p.sep.get)
          else 0.0
        state = mergeWindow(state, cur, lo, hi, combineParts(_, _, bonus))
      }
      idx += 1
    }
    Some(state)
  }

  /** Sorted-array doc equi-join; keeps the RIGHT side's positions when
    * present (the AND branch's `cur.hasPos`).
    */
  private def mergeAnd(a: Rel, b: Rel, combine: (Double, Double) => Double):
      (Array[Long], Array[Double], Array[Array[Int]]) = {
    val d = new scala.collection.mutable.ArrayBuffer[Long]
    val s = new scala.collection.mutable.ArrayBuffer[Double]
    val m = if (b.hasPos) new scala.collection.mutable.ArrayBuffer[Array[Int]] else null
    var i = 0
    var j = 0
    while (i < a.docIds.length && j < b.docIds.length) {
      val cmp = java.lang.Long.compare(a.docIds(i), b.docIds(j))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        d += a.docIds(i)
        s += combine(a.scores(i), b.scores(j))
        if (m != null) m += b.mpos(j)
        i += 1
        j += 1
      }
    }
    (d.toArray, s.toArray, if (m == null) null else m.toArray)
  }

  /** Windowed doc join: keep b's positions p2 with some previously matched
    * p1 satisfying lo <= p2 - p1 <= hi (i.e. p1 in [p2-hi, p2-lo], found by
    * binary search over a sorted copy of a's matched positions); docs with
    * no surviving position drop out -- [[Eval.evalDocs]]'s windowed branch.
    */
  private def mergeWindow(a: Rel, b: Rel, lo: Int, hi: Int,
                          combine: (Double, Double) => Double): Rel = {
    val d = new scala.collection.mutable.ArrayBuffer[Long]
    val s = new scala.collection.mutable.ArrayBuffer[Double]
    val m = new scala.collection.mutable.ArrayBuffer[Array[Int]]
    var i = 0
    var j = 0
    while (i < a.docIds.length && j < b.docIds.length) {
      val cmp = java.lang.Long.compare(a.docIds(i), b.docIds(j))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        val prev = a.mpos(i).clone()
        java.util.Arrays.sort(prev)
        val kept = b.mpos(j).filter { p2 =>
          // first prev position >= p2 - hi; matched iff it is <= p2 - lo
          var lo2 = 0
          var hi2 = prev.length
          while (lo2 < hi2) {
            val mid = (lo2 + hi2) >>> 1
            if (prev(mid) < p2 - hi) lo2 = mid + 1 else hi2 = mid
          }
          lo2 < prev.length && prev(lo2) <= p2 - lo
        }
        if (kept.nonEmpty) {
          d += a.docIds(i)
          s += combine(a.scores(i), b.scores(j))
          m += kept
        }
        i += 1
        j += 1
      }
    }
    Rel(d.toArray, s.toArray, m.toArray)
  }

  // ---- whole-result history ---------------------------------------------------
  //
  // The reference History caches whole QueryResults keyed by the query
  // string, re-used only when the request parameters are compatible
  // (History.h:25-110; CompleterBase.cpp:1125-1139). The local twin: a
  // per-reader LRU of (epoch, kind, query, k, params) -> the final page
  // held as plain driver rows. Pages are k-sized, so the entry cap bounds
  // memory at a few MB; a warm repeated query costs a map lookup. The
  // row path ([[hitRows]], [[completionRows]]) hands the rows out as they
  // are -- no Catalyst analysis, planning or Dataset action per request;
  // only the DataFrame facades ([[hits]], [[completions]]) build the
  // page's LocalRelation, once, on first use.

  /** One history page: its rows, and the LocalRelation over them, built on
    * first request and memoized (its QueryExecution memoizes too, so a
    * repeated DataFrame-facade hit re-collects a planned relation).
    */
  private final class Page(spark: org.apache.spark.sql.SparkSession,
                           val rows: Seq[Row], schema: StructType) {
    lazy val df: DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Result-history entry cap, in pages (pages are k-sized rows, so this
    * bounds the cache at a few MB -- the reference's History byte budget
    * role).
    */
  val ResultCacheMaxEntries: Int = 4096

  /** spec hook */
  private[graft] def cachedResultCount(reader: IndexReader): Int =
    stateOf(reader).pages.size

  /** Row shape of a hits page: (doc_id, score). */
  private[graft] val HitSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Row shape of a completions page: (term, score, dc, oc). */
  private val CompletionSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("score", DoubleType, nullable = false),
    StructField("dc", LongType, nullable = false),
    StructField("oc", LongType, nullable = false)))

  /** The history page under `key`, or the one `compute` builds (stored);
    * None when `compute` leaves the query to the distributed plans.
    */
  private def historyPage(reader: IndexReader,
                          key: (Long, String, String, Int, QueryParams),
                          schema: StructType)(compute: => Option[Seq[Row]]): Option[Page] = {
    val pages = stateOf(reader).pages
    val cached = pages.get(key)
    if (cached != null) return Some(cached)
    compute.map(rows => pages.putIfAbsent(key, new Page(reader.spark, rows, schema)))
  }

  // ---- top-k / completions facades -------------------------------------------

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The local twin of [[Eval.hits]]: 4dp rounding applied BEFORE the
    * ordering (the distributed contract: evalDocs rounds, hits sorts), page
    * [firstHit, firstHit + k) of the total order ([[roundedTop]]).
    *
    * Rows of [[HitSchema]]; None -> the caller runs the distributed plans.
    */
  def hitRows(reader: IndexReader, query: String, k: Int,
              params: QueryParams): Option[Seq[Row]] =
    hitPage(reader, query, k, params).map(_.rows)

  /** [[hitRows]] as a (doc_id, score) LocalRelation. */
  def hits(reader: IndexReader, query: String, k: Int,
           params: QueryParams): Option[DataFrame] =
    hitPage(reader, query, k, params).map(_.df)

  private def hitPage(reader: IndexReader, query: String, k: Int,
                      params: QueryParams): Option[Page] =
    historyPage(reader, (reader.indexEpoch, "h", query, k, params), HitSchema)(
      evalHits(reader, query, k, params))

  private def evalHits(reader: IndexReader, query: String, k: Int,
                       params: QueryParams): Option[Seq[Row]] = {
    val parsed = QueryParser.parse(query, params.normalizeWords)
    val src = new IndexAtomSource(reader)
    evalDocsLocal(reader, src, parsed, params).map { rel =>
      val n = params.firstHit + k
      val page: Seq[(Long, Double)] = params.rankDocs match {
        case "doc" =>
          val asc = params.sortDocsAsc.getOrElse(true)
          val ids = if (asc) rel.docIds.indices else rel.docIds.indices.reverse
          ids.slice(params.firstHit, n)
            .map(i => (rel.docIds(i), round4(rel.scores(i))))
        case _ =>
          roundedTop(rel.docIds, rel.scores, n, params.sortDocsAsc.getOrElse(false))
            .drop(params.firstHit)
      }
      page.map { case (doc, sc) => Row(doc, sc) }
    }
  }

  /** The first `n` (doc_id, score) pairs of the order (rounded score desc,
    * or asc when `asc`; then doc_id asc), where each raw score is rounded
    * to 4dp HALF_UP first -- Spark's `round`, as [[Eval]] applies it before
    * ordering -- while rounding and sorting only a window of the rows.
    *
    * Exactness (descending; ascending mirrors it): let c be the n-th best
    * RAW score. Rounding is monotone, so the n raw-best rows all round to
    * >= round(c), and the n-th best ROUNDED score is >= round(c). Rounding
    * moves a value by at most 5e-5, so a row with raw s < c - 1e-4 rounds to
    * <= s + 5e-5 < c - 5e-5 <= round(c): strictly below n other rows,
    * whatever its doc_id. Every row of the rounded first n therefore has
    * raw s >= c - 1e-4, and the window {s >= c - 1e-4} ordered in full gives
    * the same first n as ordering every row. The window may hold more than n
    * rows -- a row just outside the raw first n can round equal to the n-th
    * and win on doc_id -- so the window's order decides, not the raw heap.
    */
  private[query] def roundedTop(docIds: Array[Long], scores: Array[Double], n: Int,
                                asc: Boolean): Seq[(Long, Double)] = {
    if (n <= 0) return Seq.empty
    val cand: Array[Int] =
      if (n >= docIds.length) docIds.indices.toArray
      else {
        // raw boundary via a size-n heap, then the 1e-4 window
        val heap = new java.util.PriorityQueue[java.lang.Double](n,
          if (asc) java.util.Comparator.reverseOrder[java.lang.Double]()
          else java.util.Comparator.naturalOrder[java.lang.Double]())
        scores.foreach { v =>
          if (heap.size < n) heap.add(v)
          else if (if (asc) v < heap.peek() else v > heap.peek()) {
            heap.poll(); heap.add(v)
          }
        }
        val cut = heap.peek()
        scores.indices.filter(i =>
          if (asc) scores(i) <= cut + 1e-4 else scores(i) >= cut - 1e-4).toArray
      }
    val rounded = cand.map(i => (docIds(i), round4(scores(i))))
    val sorted =
      if (asc) rounded.sortBy { case (doc, sc) => (sc, doc) }
      else rounded.sortBy { case (doc, sc) => (-sc, doc) }
    sorted.take(n).toSeq
  }

  /** The local twin of [[Eval.completions]]: the last part's terms within
    * the matching docs, scored under the word-side knobs, ranked by `rw=`.
    * Rows of [[CompletionSchema]]; None -> the distributed plans.
    */
  def completionRows(reader: IndexReader, query: String, k: Int,
                     params: QueryParams): Option[Seq[Row]] =
    completionPage(reader, query, k, params).map(_.rows)

  /** [[completionRows]] as a (term, score, dc, oc) LocalRelation. */
  def completions(reader: IndexReader, query: String, k: Int,
                  params: QueryParams): Option[DataFrame] =
    completionPage(reader, query, k, params).map(_.df)

  private def completionPage(reader: IndexReader, query: String, k: Int,
                             params: QueryParams): Option[Page] =
    historyPage(reader, (reader.indexEpoch, "c", query, k, params), CompletionSchema)(
      evalCompletions(reader, query, k, params))

  private def evalCompletions(reader: IndexReader, query: String, k: Int,
                              params: QueryParams): Option[Seq[Row]] = {
    val parsed = QueryParser.parse(query, params.normalizeWords)
    // completions over a trailing join block are not part of the grammar
    // (the distributed path rejects the block atom); fall back so the
    // behavior stays the distributed path's, not a silent variant
    if (parsed.parts.last.atom.isInstanceOf[JoinBlock])
      return fallback(reader, Fallback.TrailingJoinBlock)
    val src = new IndexAtomSource(reader)
    val last = parsed.parts.last.atom
    for {
      rel <- evalDocsLocal(reader, src, parsed, params)
      la <- localAtoms(reader, src, Seq(last)).map(_.get(last))
    } yield {
      val docSet = new java.util.HashSet[java.lang.Long](math.max(16, rel.docIds.length))
      rel.docIds.foreach(docSet.add(_))
      val damping = damp0(parsed.parts.last.atom, params)
      val perDocMax = params.wordSameDocAgg == QueryParams.Max
      val acrossMax = params.wordDiffDocsAgg == QueryParams.Max
      // per-term accumulators, keyed by shared term reference
      val accS = new java.util.LinkedHashMap[String, java.lang.Double]()
      val accDc = new java.util.HashMap[String, java.lang.Long]()
      val accOc = new java.util.HashMap[String, java.lang.Long]()
      var i = 0
      while (i < la.nRows) {
        if (docSet.contains(la.docIds(i))) {
          val t = la.terms(i)
          val c = (if (perDocMax) la.score1s(i) else la.scores(i)) * damping
          val prev = accS.get(t)
          if (prev == null) accS.put(t, c)
          else accS.put(t, if (acrossMax) math.max(prev, c) else prev + c)
          accDc.merge(t, 1L, (a, b) => a + b)
          accOc.merge(t, la.tfs(i), (a, b) => a + b)
        }
        i += 1
      }
      val rows = new scala.collection.mutable.ArrayBuffer[(String, Double, Long, Long)]
      accS.forEach((t, s) => rows += ((t, round4(s), accDc.get(t), accOc.get(t))))
      val ordered = params.rankWords match {
        case "dc" =>
          if (params.sortWordsAsc.getOrElse(false)) rows.sortBy(r => (r._3, r._1))
          else rows.sortBy(r => (-r._3, r._1))
        case "oc" =>
          if (params.sortWordsAsc.getOrElse(false)) rows.sortBy(r => (r._4, r._1))
          else rows.sortBy(r => (-r._4, r._1))
        case "word" =>
          if (params.sortWordsAsc.getOrElse(true)) rows.sortBy(_._1)
          else rows.sortBy(_._1)(Ordering[String].reverse)
        case _ =>
          if (params.sortWordsAsc.getOrElse(false)) rows.sortBy(r => (r._2, r._1))
          else rows.sortBy(r => (-r._2, r._1))
      }
      ordered.take(k).map { case (t, s, dc, oc) => Row(t, s, dc, oc) }.toSeq
    }
  }

  private def damp0(a: Atom, params: QueryParams): Double =
    if (isFuzzy(a) && params.fuzzyDamping < 1.0) params.fuzzyDamping else 1.0

  // ---- driver-resident docs store (excerpt/url serving) ----------------------
  //
  // The reference serves excerpt text from a memory-mapped docs.DB record
  // fetch per hit (ExcerptsGenerator.cpp; docs.DB built offline). The
  // distributed twin is a semi-join over the docs parquet per request --
  // correct at any scale but 1-2 jobs per query. Hit ids already on the
  // driver read their texts from a per-reader byte-budgeted LRU instead
  // (one driver-side point read per cold doc set, no job), and excerpt generation runs the
  // exact Excerpts.generateAll algorithm in-process: a warm full search --
  // hits, completions, excerpts, urls -- runs ZERO Spark jobs. Interactive
  // typing chains (`a`, `aa`, `aal`) re-rank the same top docs, so the LRU
  // hit rate is the autocompletion hit rate.

  /** Docs-LRU byte budget (chars; ~2 bytes each -> ~64 MB). */
  val DocsCacheBudgetChars: Long = 32L * 1024 * 1024

  /** spec hook */
  private[graft] def cachedDocCount(reader: IndexReader): Int =
    stateOf(reader).docs.size

  /** (url, text) for each hit id present in the docs store, misses fetched
    * in ONE point read of the docs files ([[IndexReader.points]]: the doc_id
    * set prunes row groups and pages, no Spark job).
    */
  private def docTexts(reader: IndexReader,
                       ids: Seq[Long]): Map[Long, (String, String)] = {
    val cache = stateOf(reader).docs
    val out = scala.collection.mutable.Map.empty[Long, (String, String)]
    val misses = scala.collection.mutable.ArrayBuffer.empty[Long]
    ids.distinct.foreach { id =>
      val hit = cache.get(id)
      if (hit != null) out(id) = hit else misses += id
    }
    if (misses.nonEmpty) {
      reader.points.docs(misses.toSeq).foreach { case (id, url, text) =>
        cache.putIfAbsent(id, (url, text))
        out(id) = (url, text)
      }
    }
    out.toMap
  }

  /** True iff the relation is already driver-resident -- collecting it
    * runs no jobs, so the local docs path adds none.
    */
  private def isLocalRelation(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** The exact [[Excerpts.generateAll]] algorithm in-process, using the
    * same lowercase code path Catalyst's `lower` uses (UTF8String), the
    * same separator regex and window arithmetic -- spec-pinned identical.
    */
  private[graft] def generateAllLocal(text: String, exact: Seq[String],
                                      prefixes: Seq[String], er: Int,
                                      en: Int): String = {
    val lowered = org.apache.spark.unsafe.types.UTF8String
      .fromString(text).toLowerCase.toString
    val toks = lowered.split(Excerpts.SepRegexStr, -1).filter(_.nonEmpty)
    def matches(t: String): Boolean =
      t.split("\\^", -1).exists(p =>
        exact.exists(_ == p) || prefixes.exists(p.startsWith))
    val matchIdx = toks.indices.filter(i => matches(toks(i)))
    val windows = matchIdx.take(en).map { m =>
      val start = math.max(m - er, 0)
      toks.slice(start, math.min(m + er + 1, toks.length))
        .map(t => if (matches(t)) s"<hl>$t</hl>" else t)
        .mkString(" ")
    }
    windows.mkString(" ... ")
  }

  /** Driver-resident excerpts for hit ids already on the driver: doc_id ->
    * excerpt for every id present in the docs store (absent ids get no
    * entry). None -> the caller keeps the distributed semi-join
    * ([[Excerpts.generateAll]]).
    */
  def excerptsOf(reader: IndexReader, ids: Seq[Long], exact: Seq[String],
                 prefixes: Seq[String], er: Int, en: Int): Option[Map[Long, String]] =
    if (!reader.hasDocsStore) None
    else Some(docTexts(reader, ids).map { case (id, (_, text)) =>
      id -> generateAllLocal(text, exact, prefixes, er, en)
    })

  /** Driver-resident urls for hit ids already on the driver (the
    * [[graft.api.Search]] urlsOf twin); absent ids get no entry.
    */
  def urlsOf(reader: IndexReader, ids: Seq[Long]): Option[Map[Long, String]] =
    if (!reader.hasDocsStore) None
    else Some(docTexts(reader, ids).map { case (id, (url, _)) => id -> url })

  /** [[excerptsOf]] for an already-local hits relation, as a
    * (doc_id, excerpt) LocalRelation in hit order.
    */
  def excerptsAll(reader: IndexReader, hits: DataFrame, exact: Seq[String],
                  prefixes: Seq[String], er: Int, en: Int): Option[DataFrame] = {
    if (!reader.hasDocsStore || !isLocalRelation(hits)) return None
    val spark = reader.spark
    import spark.implicits._
    val ids = hits.collect().map(_.getLong(0)).toSeq
    excerptsOf(reader, ids, exact, prefixes, er, en).map(ex =>
      ids.flatMap(id => ex.get(id).map(id -> _)).toDF("doc_id", "excerpt"))
  }

  /** [[urlsOf]] for an already-local hits relation. */
  def urls(reader: IndexReader, hits: DataFrame): Option[Map[Long, String]] = {
    if (!reader.hasDocsStore || !isLocalRelation(hits)) return None
    urlsOf(reader, hits.collect().map(_.getLong(0)).toSeq)
  }
}
