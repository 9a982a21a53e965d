package graft.query

import QueryParser._

/** A parsed query compiled once into its left-deep part chain -- the
  * reference interprets every query as one such chain, in one place
  * (processComplexQuery, CompleterBase.cpp:1007-1850). The plan makes
  * every decision of the chain that does not depend on where the postings
  * live: which windows apply, which parts gather positions, the best-match
  * bonus, fuzzy damping, the proximity bonus and every refusal. [[Eval]]
  * (Spark plans) and [[LocalServe]] (driver arrays) are its two
  * interpreters; the best-match word and the term-id lookup stay with
  * each of them.
  *
  * A refusal raises IllegalArgumentException while compiling, before any
  * postings are read, in the order the chain meets it: a leading NOT, a
  * window on a positions-off index, completions over a trailing join
  * block (a join-block side is such a completion), more than 62 join-block
  * sides.
  */
final case class QueryPlan(steps: IndexedSeq[QueryPlan.Step], params: QueryParams) {
  /** The distinct atoms the chain reads, NOT atoms included and join
    * blocks flattened into their sides' atoms.
    */
  lazy val atoms: Seq[Atom] =
    steps.flatMap(s => if (s.sides.isEmpty) Seq(s.atom) else s.sides.flatMap(_.atoms)).distinct
}

object QueryPlan {

  /** How a step's docs combine with the chain so far. */
  sealed trait Op
  /** The chain's first part. */
  case object First extends Op
  /** Same-doc AND: scores combine under partsAgg. */
  case object And extends Op
  /** The docs without the atom (OUTPUT_NON_MATCHES); positions ride through. */
  case object Not extends Op
  /** Positional AND: keeps the part's positions p2 with a previously
    * matched p1, lo <= p2 - p1 <= hi; docs with none drop out. `bonus` is
    * the proximity bonus added under SumWithBonus (0 otherwise).
    */
  final case class Window(lo: Int, hi: Int, bonus: Double) extends Op

  /** One part of the chain. `withPos`: the part gathers its matched
    * positions, because a window chains from them. `bestMatch`: the bonus
    * for docs holding the atom's best-match word (last part only; 0 =
    * none). `damping`: the factor on the atom's scores (a fuzzy word under
    * `fd=`; 1 otherwise). `sides`: a join block's sides, empty for any
    * other atom.
    */
  final case class Step(atom: Atom, op: Op, withPos: Boolean, bestMatch: Double,
                        damping: Double, sides: Seq[Within])

  /** The rows of atom `last`, scores times `damping`, restricted to the
    * docs of `restrict` (None: every row) -- the shape of a completion list
    * and of a join-block side. A row of `last` already lies in `last`'s
    * docs, so a windowless, non-NOT last part is restricted by the earlier
    * parts only, and a one-part query by nothing.
    */
  final case class Within(restrict: Option[QueryPlan], last: Atom, damping: Double) {
    def atoms: Seq[Atom] = (restrict.fold(Seq.empty[Atom])(_.atoms) :+ last).distinct
  }

  private def isNot(atom: Atom): Boolean = atom match { case w: Word => w.not; case _ => false }

  /** Fuzzy damping (reference: `fd=` fuzzyDamping,
    * CompleterBase.TopK.cpp:754): fuzzy-matched scores times the factor.
    */
  private def damping(atom: Atom, params: QueryParams): Double = atom match {
    case w: Word if w.fuzzy && params.fuzzyDamping < 1.0 => params.fuzzyDamping
    case _ => 1.0
  }

  /** A windowed separator's proximity bonus (reference: SumWithBonus
    * aggregation, Globals.h:266-301 -- PHRASE_MATCH_BONUS=16,
    * NEAR_MATCH_BONUS=8, EXACT_MATCH_BONUS=4).
    */
  private def proximityBonus(sep: Sep): Double = sep match {
    case Phrase => 16.0
    case Near => 8.0
    case SamePos => 4.0
    case SameDoc => 0.0
    // flexi: adjacent (|n| = 1) scores like a phrase; within the default
    // neighbourhood like near (SumProxAggregation, ScoreAggregators.h:99-125
    // keys the bonus off the position distance, not the separator object)
    case Flexi(n) =>
      if (math.abs(n) == 1) 16.0 else if (math.abs(n) < 10) 8.0 else 0.0
  }

  /** The plan of the docs matching `q`, scored under `params`. */
  def docs(q: ParsedQuery, params: QueryParams, hasPositions: Boolean): QueryPlan = {
    val parts = q.parts.toIndexedSeq
    // the per-query neighbourhood override applies to '..' only
    // (reference: neighbourhoodStart/End feed the NEAR separator)
    def windowOf(sep: Sep): Option[(Int, Int)] = sep match {
      case Near => params.window.orElse(sep.window)
      case _ => sep.window
    }
    // does a later windowed separator chain from part i's positions? (NOT
    // parts pass positions through, so scan past them) -- parts whose
    // positions nothing consumes skip gathering them
    def nextWindowed(i: Int): Boolean =
      parts.drop(i + 1).dropWhile(p => isNot(p.atom)).headOption.exists(p =>
        !p.atom.isInstanceOf[JoinBlock] && p.sep.flatMap(windowOf).isDefined)

    require(!isNot(parts.head.atom), "query cannot start with a NOT part")
    var hasPos = false // the chain so far carries matched positions
    val steps = parts.indices.map { i =>
      val p = parts(i)
      val op =
        if (i == 0) First
        else {
          // a window needs positions on BOTH sides; a join block has none
          // (its result is a doc-score relation), so a window next to one
          // degrades to same-doc AND (the reference likewise treats
          // separators around enhanced queries as plain intersection)
          val positionless = !hasPos || p.atom.isInstanceOf[JoinBlock]
          val window = if (positionless) None else p.sep.flatMap(windowOf)
          if (window.isDefined) requirePositions(hasPositions)
          if (isNot(p.atom)) Not
          else window.fold[Op](And) { case (lo, hi) =>
            Window(lo, hi,
              if (params.partsAgg == QueryParams.SumWithBonus) proximityBonus(p.sep.get) else 0.0)
          }
        }
      val step = p.atom match {
        case a if op == Not => Step(a, Not, withPos = false, 0.0, 1.0, Nil)
        // the best-match bonus does not apply to a join block
        case a @ JoinBlock(ps) => Step(a, op, withPos = false, 0.0, 1.0, joinBlock(ps, hasPositions))
        case a =>
          Step(a, op, op.isInstanceOf[Window] || nextWindowed(i),
            if (i == parts.length - 1) params.bestMatchBonus else 0.0, damping(a, params), Nil)
      }
      if (op != Not) hasPos = step.withPos
      step
    }
    QueryPlan(steps, params)
  }

  /** The plan of `q`'s last-part rows within the docs matching `q` (the
    * rows completions aggregate).
    */
  def within(q: ParsedQuery, params: QueryParams, hasPositions: Boolean): Within = {
    val last = q.parts.last
    // completions over a trailing join block are not part of the grammar
    if (last.atom.isInstanceOf[JoinBlock])
      throw new IllegalArgumentException("join block handled separately")
    val plainLast = !isNot(last.atom) && last.sep.forall(_.window.isEmpty)
    val restrict =
      if (!plainLast) Some(q)
      else if (q.parts.length == 1) None
      else Some(ParsedQuery(q.parts.init))
    Within(restrict.map(docs(_, params, hasPositions)), last.atom, damping(last.atom, params))
  }

  /** The refusal of a window on a positions-off index (IndexBuilder
    * storePositions=false), whose stored zeros would match wrongly.
    */
  def requirePositions(hasPositions: Boolean): Unit =
    require(hasPositions, "positions-off index: windowed/phrase separators need storePositions=true")

  /** A join block's sides `[q1#...#qn]`: each the completions of its last
    * part within its own docs, under [[QueryParams.Default]] (a side is a
    * query of its own, whatever the request's knobs). At most 62 sides:
    * [[Eval]] tags each side with one bit of a Long mask.
    */
  def joinBlock(ps: Seq[ParsedQuery], hasPositions: Boolean): Seq[Within] = {
    require(ps.length <= 62, "join block limited to 62 parts (side bitmask)")
    ps.map(within(_, QueryParams.Default, hasPositions))
  }
}
