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
  * same total orders, same partial/empty semantics; both interpret one
  * [[QueryPlan]], which also raises the grammar's refusals for both.
  * Locality is decided by posting volume alone, once per request and
  * before any block read ([[localAtoms]]): a request past
  * [[IndexReader.MaxLocalPostingsPerQuery]] returns None -- the one
  * fallback -- and the caller runs the distributed plans, so at web scale
  * the driver never holds more than the postings budget.
  */
object LocalServe {

  /** One atom's decoded scored postings, driver-resident: parallel row
    * arrays, one entry per (term, doc) pair (the per-(doc, term) row shape
    * of [[AtomSource.atomScored]]), grouped into one run per term. Term t
    * (vocabulary id `termIds(t)`, text `terms(t)`; ids ascend) owns rows
    * [starts(t), starts(t + 1)), sorted by doc. The kernels lean on that
    * shape: a part folds its rows in this order (so a doc's contributions
    * combine in ascending term order), the best-match word is a row range,
    * and completions and join blocks merge one term run at a time against
    * the doc-sorted result docs.
    */
  final case class LocalAtom(termIds: Array[Long], terms: Array[String], starts: Array[Int],
                             docIds: Array[Long], tfs: Array[Long], scores: Array[Double],
                             score1s: Array[Double],
                             positions: Array[Array[Int]]) {
    def nRows: Int = docIds.length
    def nTerms: Int = terms.length
    /** The rows grouped by doc, built on first use and held with the atom:
      * every query over a cached atom folds its rows without regrouping.
      */
    private[LocalServe] lazy val byDoc: DocGroups = groupByDoc(docIds)
    /** LRU weight: rows + held positions, one unit each. A row holds four
      * 8-byte values (doc id, tf, score, score1), a 4-byte positions
      * reference (compressed oops) and a 4-byte [[byDoc]] slot: 40 bytes,
      * plus up to 8 for its doc's [[byDoc]] entry and, on a positions
      * index, a 16-byte array header -- 40-64 bytes. Each term run (at
      * least one row) adds its id, start and String, ~64 bytes for a short
      * term. A held position is a 4-byte int.
      */
    lazy val weight: Long = {
      var w = nRows.toLong
      var i = 0
      while (i < positions.length) { w += positions(i).length; i += 1 }
      w
    }
  }

  private val EmptyPos = Array.empty[Int]
  private val EmptyAtom = LocalAtom(Array.empty, Array.empty, Array(0), Array.empty,
    Array.empty, Array.empty, Array.empty, Array.empty)

  /** The decoded-atom LRU -- the driver's only postings cache -- keyed by
    * (index epoch, atom) so a rebuild into the same directory never serves
    * stale lists, weighed by [[LocalAtom.weight]].
    */
  private[graft] def atomLru(): Lru[(Long, Atom), LocalAtom] =
    new Lru("atoms", maxWeight = IndexReader.LocalListBudgetPostings, weigher = _.weight)

  /** One reader's serving state: its atom, page and docs LRUs and its
    * fallback count. Held in a weak map keyed by reader INSTANCE: the
    * state dies with its reader, so rebuilds / short-lived readers cannot
    * accumulate driver memory.
    */
  private final class ReaderState {
    val atoms: Lru[(Long, Atom), LocalAtom] = atomLru()
    val pages = new Lru[(Long, String, String, Int, QueryParams), Page]("pages",
      maxEntries = ResultCacheMaxEntries)
    val docs = new Lru[Long, (String, String)]("docs",
      maxWeight = DocsCacheBudgetChars, weigher = v => v._1.length + v._2.length)
    val fallbacks = new java.util.concurrent.atomic.LongAdder
  }

  private val states = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[IndexReader, ReaderState]())
  private def stateOf(reader: IndexReader): ReaderState =
    states.computeIfAbsent(reader, _ => new ReaderState)

  /** spec hook: decoded atoms currently held for this reader. */
  private[graft] def cachedAtomCount(reader: IndexReader): Int =
    stateOf(reader).atoms.size

  /** Requests on this reader sent to the distributed plans: their atoms
    * passed the postings budget ([[localAtoms]]).
    */
  private[graft] def fallbackCount(reader: IndexReader): Long =
    stateOf(reader).fallbacks.sum

  /** True iff the atom with candidate id `runs` alone passes
    * [[IndexReader.MaxLocalPostingsPerQuery]] -- the rule [[localAtoms]]
    * applies to a whole request, for one atom (spec hook).
    */
  private[graft] def overBudget(v: Vocabulary, runs: Seq[(Long, Long)]): Boolean =
    postingVolume(v, runs, IndexReader.MaxLocalPostingsPerQuery) >
      IndexReader.MaxLocalPostingsPerQuery

  /** The df sum over `runs` from the resident vocabulary (one posting per
    * (term, doc)), or the first partial sum past `limit`. Every df is at
    * least 1, so it visits at most limit + 1 ids: a one-letter prefix over
    * millions of terms costs no more than the budget. The term count is no
    * guard here: [[IndexAtomSource.MaxExactIds]] bounds the distributed
    * plans' pushed predicate and broadcast, while the driver path reads
    * term and df by id and needs neither, so its cost follows postings.
    */
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

  /** One request's resolved atoms. */
  private type Atoms = java.util.HashMap[Atom, LocalAtom]

  /** Resolve a request's distinct atoms (its plan's, join blocks
    * flattened) ONCE: warm atoms from the reader's LRU, all COLD atoms with
    * ONE point read over the union of their exact block runs
    * ([[IndexReader.points]], on the driver with no Spark job -- the
    * reference's block locate, HYBCompleter.cpp:661-746), each atom keeping
    * the rows inside its own runs.
    *
    * None -- the request's one fallback, counted -- when the atoms'
    * postings pass [[IndexReader.MaxLocalPostingsPerQuery]]: a warm atom
    * counts its held rows, a cold one its df sum ([[postingVolume]]), so
    * a request that falls back decodes and caches nothing. The sum is per
    * atom, as atoms are held: a term inside two atoms (`spark` inside
    * `s*`) is held, and counted, twice. On an index with streaming delta
    * shards a cold atom's df undercounts the postings appended since.
    */
  private def localAtoms(reader: IndexReader, src: IndexAtomSource,
                         wanted: Seq[Atom]): Option[Atoms] = {
    val state = stateOf(reader)
    val budget = IndexReader.MaxLocalPostingsPerQuery
    val atoms = new Atoms()
    val colds = new scala.collection.mutable.ArrayBuffer[(Atom, Seq[(Long, Long)])]
    var volume = 0L
    for (a <- wanted) {
      val hit = state.atoms.get((reader.indexEpoch, a))
      if (hit != null) {
        atoms.put(a, hit)
        volume += hit.nRows
      } else {
        val runs = src.exactRuns(a)
        if (runs.isEmpty) atoms.put(a, EmptyAtom) // unknown word: empty, local
        else {
          volume += postingVolume(reader.vocabulary, runs, budget - volume)
          colds += ((a, runs))
        }
      }
      if (volume > budget) { // past the budget: stays distributed
        state.fallbacks.increment()
        return None
      }
    }
    if (colds.nonEmpty) {
      val segs = reader.points.blocks(colds.iterator.flatMap(_._2).toSeq, reader.hasPositions)
      for ((a, runs) <- colds) {
        val los = runs.map(_._1).toArray
        val his = runs.map(_._2).toArray
        val own = segs.filter(s => inRuns(los, his, s.termId))
        java.util.Arrays.sort(own, SegOrder)
        atoms.put(a, state.atoms.putIfAbsent((reader.indexEpoch, a), buildAtom(reader, own)))
      }
    }
    Some(atoms)
  }

  /** Block segments by (term_id, first_doc_id). */
  private val SegOrder: java.util.Comparator[PointReader.BlockSeg] = (x, y) => {
    val c = java.lang.Long.compare(x.termId, y.termId)
    if (c != 0) c else java.lang.Long.compare(x.firstDocId, y.firstDocId)
  }

  /** True iff `id` lies in one of the sorted, disjoint runs [los(i), his(i)]. */
  private def inRuns(los: Array[Long], his: Array[Long], id: Long): Boolean = {
    var a = 0
    var b = his.length
    while (a < b) { // first run whose hi >= id
      val mid = (a + b) >>> 1
      if (his(mid) < id) a = mid + 1 else b = mid
    }
    a < his.length && los(a) <= id
  }

  /** Decode + score stored block segments into a [[LocalAtom]], with the
    * same [[Codec]] the distributed Generator uses and the exact
    * [[Analysis.bm25Col]] operand order (spec-pinned double parity). `segs`
    * must be (term_id, first_doc_id)-sorted and contain exactly the
    * candidate set's segments; term and df come from the resident
    * vocabulary, one String per term id. A term's blocks cover disjoint,
    * ascending doc ranges (shards split by doc range, appends add higher
    * ids), so its rows come out doc-sorted; a run that does not is sorted
    * here, so the [[LocalAtom]] shape holds on any layout.
    */
  private def buildAtom(reader: IndexReader,
                        segs: Array[PointReader.BlockSeg]): LocalAtom = {
    val hasPos = reader.hasPositions
    val n = segs.iterator.map(_.nDocs).sum
    val nTerms = segs.iterator.map(_.termId).distinct.size
    val termIds = new Array[Long](nTerms)
    val terms = new Array[String](nTerms)
    val starts = new Array[Int](nTerms + 1)
    val docIds = new Array[Long](n)
    val tfs = new Array[Long](n)
    val scores = new Array[Double](n)
    val score1s = new Array[Double](n)
    val positions = new Array[Array[Int]](n)
    val v = reader.vocabulary
    var off = 0
    var t = -1
    var idfV = 0.0
    segs.foreach { sg =>
      if (t < 0 || sg.termId != termIds(t)) {
        t += 1
        termIds(t) = sg.termId
        terms(t) = v.term(sg.termId.toInt)
        starts(t) = off
        idfV = reader.idf(v.df(sg.termId.toInt))
      }
      val m = sg.nDocs
      val ds = Codec.decodeDeltas(reader.doclistCodec, sg.docDeltas, m)
      val tf = Codec.decodeLongs(reader.doclistCodec, sg.tfs, m)
      val dl = Codec.decodeLongs(reader.doclistCodec, sg.dls, m)
      val pos = if (hasPos) Codec.decodePositions(reader.doclistCodec, sg.positions, tf)
      else null
      var i = 0
      while (i < m) {
        docIds(off) = ds(i)
        tfs(off) = tf(i)
        val dlD = dl(i).toDouble
        val denom = Analysis.K1 * ((1.0 - Analysis.B) + Analysis.B * dlD / reader.avgdl)
        scores(off) = idfV * ((tf(i).toDouble * (Analysis.K1 + 1.0)) / (tf(i) + denom))
        score1s(off) = idfV * ((1.0 * (Analysis.K1 + 1.0)) / (1.0 + denom))
        positions(off) = if (hasPos) pos(i) else EmptyPos
        off += 1
        i += 1
      }
    }
    starts(nTerms) = n
    val atom = LocalAtom(termIds, terms, starts, docIds, tfs, scores, score1s, positions)
    (0 until nTerms).foreach(sortRun(atom, _))
    atom
  }

  /** Sort term `t`'s rows by doc (stable) unless they already are. */
  private def sortRun(a: LocalAtom, t: Int): Unit = {
    val (s, e) = (a.starts(t), a.starts(t + 1))
    var i = s + 1
    while (i < e && a.docIds(i - 1) <= a.docIds(i)) i += 1
    if (i < e) {
      val order = (s until e).sortBy(a.docIds(_)).toArray
      def permute[T: scala.reflect.ClassTag](xs: Array[T]): Unit = {
        val moved = order.map(xs(_))
        System.arraycopy(moved, 0, xs, s, moved.length)
      }
      permute(a.docIds); permute(a.tfs); permute(a.scores); permute(a.score1s)
      permute(a.positions)
    }
  }

  // ---- part-chain evaluation ------------------------------------------------

  /** Accumulated doc relation: doc-sorted parallel arrays; `mpos` (null
    * when the chain carries no positions) is the most recent non-NOT
    * part's MATCHED positions per doc -- the mpos column of [[Eval.evalDocs]].
    */
  private final case class Rel(docIds: Array[Long], scores: Array[Double], mpos: Array[Array[Int]])

  /** Rows grouped by doc: `docs` holds the distinct docs ascending, and
    * row r's doc is docs(groupOf(r)).
    */
  private final class DocGroups(val docs: Array[Long], val groupOf: Array[Int])

  /** [[DocGroups]] of `docIds` (any order, repeats allowed, any Long) in
    * one pass over a primitive open-addressing table that doubles as docs
    * arrive, then a sort of the distinct docs: O(rows + docs log docs), no
    * boxing. A caller that then folds rows in row order combines each doc's
    * values in row order.
    */
  private def groupByDoc(docIds: Array[Long]): DocGroups = {
    val n = docIds.length
    var mask = 63
    var keys = new Array[Long](mask + 1)
    var slots = new Array[Int](mask + 1) // first-seen doc number + 1; 0 = empty
    val seen = new Array[Long](n) // distinct docs, first-seen order
    val groupOf = new Array[Int](n)
    var m = 0
    var r = 0
    while (r < n) {
      val d = docIds(r)
      var h = mix(d) & mask
      while (slots(h) != 0 && keys(h) != d) h = (h + 1) & mask
      if (slots(h) != 0) groupOf(r) = slots(h) - 1
      else {
        groupOf(r) = m
        seen(m) = d
        m += 1
        keys(h) = d
        slots(h) = m
        if (2 * m > mask) { // keep the load under one half
          mask = 2 * mask + 1
          keys = new Array[Long](mask + 1)
          slots = new Array[Int](mask + 1)
          var j = 0
          while (j < m) {
            var h2 = mix(seen(j)) & mask
            while (slots(h2) != 0) h2 = (h2 + 1) & mask
            keys(h2) = seen(j)
            slots(h2) = j + 1
            j += 1
          }
        }
      }
      r += 1
    }
    val docs = java.util.Arrays.copyOf(seen, m)
    java.util.Arrays.sort(docs)
    val rank = new Array[Int](m) // first-seen number -> position in docs
    var j = 0
    while (j < m) {
      var h = mix(docs(j)) & mask
      while (slots(h) == 0 || keys(h) != docs(j)) h = (h + 1) & mask
      rank(slots(h) - 1) = j
      j += 1
    }
    r = 0
    while (r < n) { groupOf(r) = rank(groupOf(r)); r += 1 }
    new DocGroups(docs, groupOf)
  }

  /** A doc id's table hash (MurmurHash3's 64-bit finalizer, low bits used). */
  private def mix(d: Long): Int = {
    var x = d ^ (d >>> 33)
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    (x ^ (x >>> 33)).toInt
  }

  /** Step `s`'s doc relation under the score algebra -- the local twin of
    * [[Eval.evalDocs]]'s partRel: per-(doc, term) contribution under
    * sameCompletionAgg, damped, combined across the part's terms under
    * completionsAgg, plus the step's best-match bonus on docs holding term
    * id `bw` (none when negative); positions gathered per doc when the step
    * gathers them. Rows fold in stored order, so a doc's
    * contributions combine in ascending term order and the raw scores are
    * the same bits whatever the grouping.
    */
  private def partRel(la: LocalAtom, params: QueryParams, s: QueryPlan.Step, bw: Long): Rel = {
    val c = if (params.sameCompletionAgg == QueryParams.Max) la.score1s else la.scores
    val complMax = params.completionsAgg == QueryParams.Max
    val bwTerm = if (bw < 0) -1 else java.util.Arrays.binarySearch(la.termIds, bw)
    val (bwLo, bwHi) = if (bwTerm < 0) (0, 0) else (la.starts(bwTerm), la.starts(bwTerm + 1))
    val g = la.byDoc
    val m = g.docs.length
    val outS = new Array[Double](m)
    val started = new Array[Boolean](m)
    val hit = new Array[Boolean](m)
    var r = 0
    while (r < la.nRows) {
      val k = g.groupOf(r)
      val v = c(r) * s.damping
      if (!started(k)) { started(k) = true; outS(k) = v }
      else if (complMax) { if (v > outS(k)) outS(k) = v }
      else outS(k) += v
      if (r >= bwLo && r < bwHi) hit(k) = true
      r += 1
    }
    var k = 0
    while (k < m) { if (hit(k)) outS(k) += s.bestMatch; k += 1 }
    Rel(g.docs, outS, if (s.withPos) positionsByDoc(la, g) else null)
  }

  /** Each doc's positions: its rows' position lists concatenated in row
    * order.
    */
  private def positionsByDoc(la: LocalAtom, g: DocGroups): Array[Array[Int]] = {
    val m = g.docs.length
    val fill = new Array[Int](m)
    var r = 0
    while (r < la.nRows) { fill(g.groupOf(r)) += la.positions(r).length; r += 1 }
    val out = new Array[Array[Int]](m)
    var k = 0
    while (k < m) { out(k) = new Array[Int](fill(k)); fill(k) = 0; k += 1 }
    r = 0
    while (r < la.nRows) {
      val (p, k2) = (la.positions(r), g.groupOf(r))
      System.arraycopy(p, 0, out(k2), fill(k2), p.length)
      fill(k2) += p.length
      r += 1
    }
    out
  }

  /** First index at or after `from` of ascending `a` whose value is >= `v`
    * (a.length if none): a doubling probe, then a binary search -- a merge
    * that skips ahead in log time when the other side is sparse.
    */
  private def gallop(a: Array[Long], from: Int, v: Long): Int = {
    if (from >= a.length || a(from) >= v) return from
    var lo = from // a(lo) < v
    var step = 1
    var hi = from + 1
    while (hi < a.length && a(hi) < v) { lo = hi; step <<= 1; hi = lo + step }
    if (hi > a.length) hi = a.length
    var l = lo + 1
    while (l < hi) {
      val m = (l + hi) >>> 1
      if (a(m) < v) l = m + 1 else hi = m
    }
    l
  }

  /** The rows of term `t`'s run whose doc is in ascending `docs`, visited
    * in row order: one galloping merge of the two doc-sorted lists.
    */
  private def foreachMember(la: LocalAtom, t: Int, docs: Array[Long])(f: Int => Unit): Unit = {
    var j = 0
    var r = la.starts(t)
    val end = la.starts(t + 1)
    while (r < end && j < docs.length) {
      j = gallop(docs, j, la.docIds(r))
      if (j < docs.length && docs(j) == la.docIds(r)) f(r)
      r += 1
    }
  }

  /** Interpret `plan` over the request's resolved atoms to raw (unrounded)
    * doc scores -- the driver twin of [[Eval.evalDocs]], which LocalServeSpec
    * pins it equal to over every grammar shape.
    */
  private def evalDocsLocal(reader: IndexReader, src: IndexAtomSource, atoms: Atoms,
                            plan: QueryPlan): Rel = {
    val params = plan.params
    def combineParts(s1: Double, s2: Double, bonus: Double): Double =
      params.partsAgg match {
        case QueryParams.Max => math.max(s1, s2)
        case QueryParams.SumWithBonus => s1 + s2 + bonus
        case _ => s1 + s2
      }
    def part(s: QueryPlan.Step): Rel = s.atom match {
      case _: JoinBlock => evalJoinBlockLocal(reader, src, atoms, s.sides)
      case a =>
        // the distributed path's best-match word as a resident term id; -1: none
        val bw = if (s.bestMatch == 0.0) -1L
          else src.bestMatchWord(a).fold(-1L)(reader.vocabulary.idOf(_).toLong)
        partRel(atoms.get(a), params, s, bw)
    }
    plan.steps.foldLeft(null: Rel) { (state, s) =>
      s.op match {
        case QueryPlan.First => part(s)
        case QueryPlan.Not => antiJoin(state, atoms.get(s.atom).byDoc.docs)
        case QueryPlan.And => merge(state, part(s), None, combineParts(_, _, 0.0))
        case QueryPlan.Window(lo, hi, bonus) =>
          merge(state, part(s), Some((lo, hi)), combineParts(_, _, bonus))
      }
    }
  }

  /** The ascending docs `w`'s last-atom rows are restricted to: its
    * restriction's result docs, or all of the atom's own.
    */
  private def withinDocs(reader: IndexReader, src: IndexAtomSource, atoms: Atoms,
                         w: QueryPlan.Within): Array[Long] =
    w.restrict.fold(atoms.get(w.last).byDoc.docs)(evalDocsLocal(reader, src, atoms, _).docIds)

  /** Local twin of [[Eval]]'s join block: each side's last-atom rows within
    * the side's docs, terms present in ALL sides survive, and docs of any
    * side holding a common term sum their rows' scores.
    */
  private def evalJoinBlockLocal(reader: IndexReader, src: IndexAtomSource, atoms: Atoms,
                                 sides: Seq[QueryPlan.Within]): Rel = {
    val resolved = sides.map(w => (atoms.get(w.last), withinDocs(reader, src, atoms, w), w.damping))
    // term ids common to ALL sides (the reference's hash join / our
    // bitmask agg, CompleterBase.Join.cpp) -- a side contributes a term iff
    // one of its result docs holds it; ids ascend, so the sets merge
    val common = resolved.map { case (la, docs, _) =>
      (0 until la.nTerms).filter { t =>
        var held = false
        foreachMember(la, t, docs)(_ => held = true)
        held
      }.map(la.termIds).toArray
    }.reduce((a, b) => a.filter(java.util.Arrays.binarySearch(b, _) >= 0))
    // docs of any side holding a common term, their rows' scores summed in
    // side order, then row order
    val n = resolved.map(_._1.nRows).sum
    val docIds = new Array[Long](n)
    val scores = new Array[Double](n)
    var o = 0
    resolved.foreach { case (la, docs, damping) =>
      (0 until la.nTerms).foreach { t =>
        if (java.util.Arrays.binarySearch(common, la.termIds(t)) >= 0)
          foreachMember(la, t, docs) { r =>
            docIds(o) = la.docIds(r); scores(o) = la.scores(r) * damping; o += 1
          }
      }
    }
    // each sum starts at 0.0, as Spark's Sum does
    val g = groupByDoc(java.util.Arrays.copyOf(docIds, o))
    val outS = new Array[Double](g.docs.length)
    var i = 0
    while (i < o) { outS(g.groupOf(i)) += scores(i); i += 1 }
    Rel(g.docs, outS, null)
  }

  /** The first `n` entries of a relation's presized arrays. */
  private def trimmed(d: Array[Long], s: Array[Double], m: Array[Array[Int]], n: Int): Rel =
    Rel(java.util.Arrays.copyOf(d, n), java.util.Arrays.copyOf(s, n),
      if (m == null) null else java.util.Arrays.copyOf(m, n))

  /** `a`'s docs that are not in ascending `neg` (repeats allowed), positions
    * riding through.
    */
  private def antiJoin(a: Rel, neg: Array[Long]): Rel = {
    val n = a.docIds.length
    val d = new Array[Long](n)
    val s = new Array[Double](n)
    val m = if (a.mpos != null) new Array[Array[Int]](n) else null
    var o = 0
    var i = 0
    var j = 0
    while (i < n) {
      j = gallop(neg, j, a.docIds(i))
      if (j == neg.length || neg(j) != a.docIds(i)) {
        d(o) = a.docIds(i)
        s(o) = a.scores(i)
        if (m != null) m(o) = a.mpos(i)
        o += 1
      }
      i += 1
    }
    trimmed(d, s, m, o)
  }

  /** Sorted-array doc equi-join, scores combined; keeps the RIGHT side's
    * positions when it has them. With a window (lo, hi) it keeps only b's
    * positions p2 with some previously matched p1 of a, lo <= p2 - p1 <=
    * hi (p1 in [p2 - hi, p2 - lo], found by binary search over a sorted
    * copy of a's matched positions), and docs with no surviving position
    * drop out -- [[Eval.evalDocs]]'s windowed branch.
    */
  private def merge(a: Rel, b: Rel, window: Option[(Int, Int)],
                    combine: (Double, Double) => Double): Rel = {
    val (lo, hi) = window.getOrElse((0, 0))
    val cap = math.min(a.docIds.length, b.docIds.length)
    val d = new Array[Long](cap)
    val s = new Array[Double](cap)
    val m = if (b.mpos != null) new Array[Array[Int]](cap) else null
    var o = 0
    var i = 0
    var j = 0
    while (i < a.docIds.length && j < b.docIds.length) {
      val cmp = java.lang.Long.compare(a.docIds(i), b.docIds(j))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else {
        val kept =
          if (window.isEmpty) { if (m == null) null else b.mpos(j) }
          else {
            val prev = a.mpos(i).clone()
            java.util.Arrays.sort(prev)
            b.mpos(j).filter { p2 =>
              // first prev position >= p2 - hi; matched iff it is <= p2 - lo
              var lo2 = 0
              var hi2 = prev.length
              while (lo2 < hi2) {
                val mid = (lo2 + hi2) >>> 1
                if (prev(mid) < p2 - hi) lo2 = mid + 1 else hi2 = mid
              }
              lo2 < prev.length && prev(lo2) <= p2 - lo
            }
          }
        if (window.isEmpty || kept.length > 0) {
          d(o) = a.docIds(i)
          s(o) = combine(a.scores(i), b.scores(j))
          if (m != null) m(o) = kept
          o += 1
        }
        i += 1
        j += 1
      }
    }
    trimmed(d, s, m, o)
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

  /** The doc-sorted raw doc scores of `query` under `params`; None when
    * its atoms pass the postings budget.
    */
  private def docsLocal(reader: IndexReader, query: String, params: QueryParams): Option[Rel] = {
    val plan = QueryPlan.docs(QueryParser.parse(query, params.normalizeWords), params,
      reader.hasPositions)
    val src = new IndexAtomSource(reader)
    localAtoms(reader, src, plan.atoms).map(evalDocsLocal(reader, src, _, plan))
  }

  /** spec hook: the doc-sorted raw (unrounded) doc scores of `query`, or
    * None when it falls back.
    */
  private[graft] def rawDocScores(reader: IndexReader, query: String,
                                  params: QueryParams): Option[(Array[Long], Array[Double])] =
    docsLocal(reader, query, params).map(r => (r.docIds, r.scores))

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
    docsLocal(reader, query, params).map { rel =>
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
    val w = QueryPlan.within(QueryParser.parse(query, params.normalizeWords), params,
      reader.hasPositions)
    val src = new IndexAtomSource(reader)
    localAtoms(reader, src, w.atoms).map { atoms =>
      val la = atoms.get(w.last)
      val docs = withinDocs(reader, src, atoms, w)
      val c = if (params.wordSameDocAgg == QueryParams.Max) la.score1s else la.scores
      val acrossMax = params.wordDiffDocsAgg == QueryParams.Max
      // one term run at a time: its rows in the result docs, in doc order.
      // A row keys its term by run index t; runs ascend by term id
      // (LocalAtom.termIds), so ties and `rw=word` order by term id -- ids
      // are dense in the terms' UTF-8 byte order, the order Spark sorts
      // `term` in (Scala's String order compares UTF-16 units and differs
      // past the BMP)
      val rows = new scala.collection.mutable.ArrayBuffer[(Int, Double, Long, Long)]
      var t = 0
      while (t < la.nTerms) {
        var s = 0.0
        var dc = 0L
        var oc = 0L
        foreachMember(la, t, docs) { r =>
          val v = c(r) * w.damping
          s = if (dc == 0) v else if (acrossMax) math.max(s, v) else s + v
          dc += 1
          oc += la.tfs(r)
        }
        if (dc > 0) rows += ((t, round4(s), dc, oc))
        t += 1
      }
      val key: ((Int, Double, Long, Long)) => Double = params.rankWords match {
        case "dc" => _._3.toDouble
        case "oc" => _._4.toDouble
        case "word" => _._1.toDouble
        case _ => _._2
      }
      val asc = params.sortWordsAsc.getOrElse(params.rankWords == "word")
      rows.sortBy(r => (if (asc) key(r) else -key(r), r._1)).take(k)
        .map { case (t, s, dc, oc) => Row(la.terms(t), s, dc, oc) }.toSeq
    }
  }

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
    * set prunes row groups and pages, no Spark job). The caller checks
    * [[IndexReader.hasDocsStore]] first.
    */
  private[graft] def docTexts(reader: IndexReader,
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

  /** Driver-resident excerpts for docs already fetched by [[docTexts]]:
    * doc_id -> excerpt for every doc given.
    */
  def excerptsOf(docs: Map[Long, (String, String)], exact: Seq[String],
                 prefixes: Seq[String], er: Int, en: Int): Map[Long, String] =
    docs.map { case (id, (_, text)) => id -> generateAllLocal(text, exact, prefixes, er, en) }

  /** [[excerptsOf]] for an already-local hits relation, as a
    * (doc_id, excerpt) LocalRelation in hit order; None without a docs
    * store or for a distributed relation.
    */
  def excerptsAll(reader: IndexReader, hits: DataFrame, exact: Seq[String],
                  prefixes: Seq[String], er: Int, en: Int): Option[DataFrame] = {
    if (!reader.hasDocsStore || !isLocalRelation(hits)) return None
    val spark = reader.spark
    import spark.implicits._
    val ids = hits.collect().map(_.getLong(0)).toSeq
    val ex = excerptsOf(docTexts(reader, ids), exact, prefixes, er, en)
    Some(ids.flatMap(id => ex.get(id).map(id -> _)).toDF("doc_id", "excerpt"))
  }

  /** Hit urls for an already-local hits relation; None without a docs
    * store or for a distributed relation.
    */
  def urls(reader: IndexReader, hits: DataFrame): Option[Map[Long, String]] = {
    if (!reader.hasDocsStore || !isLocalRelation(hits)) return None
    Some(docTexts(reader, hits.collect().map(_.getLong(0)).toSeq)
      .map { case (id, (url, _)) => id -> url })
  }
}
