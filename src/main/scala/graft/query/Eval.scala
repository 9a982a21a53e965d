package graft.query

import graft.core.Analysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import QueryParser._

/** Where a query part's postings come from: the ONE abstraction point
  * between the logical engine (re-tokenized corpus relation; CI/small
  * corpora) and the physical engine (compressed posting blocks via
  * IndexReader; the production path -- at 10^12 docs a query must never
  * re-tokenize the corpus). Both return the same shape, so the whole
  * grammar evaluation ([[Eval]]) is written once and the qpix_* gates can
  * reuse the qp_* oracles verbatim.
  */
trait AtomSource {
  /** Matched scored postings for one atom:
    * (doc_id, term, tf, positions, score, score1) -- score = per-(doc,
    * term) BM25; score1 = BM25 at tf=1 (a single occurrence's score, used
    * by the Max same-completion/same-document aggregations).
    */
  def atomScored(atom: Atom): DataFrame

  /** [[atomScored]], resolved ONCE per atom per source instance: a query
    * references most atoms 2-3 times (doc-score aggregate, exploded
    * positions, window chaining); the memo guarantees all references share
    * ONE DataFrame object, so a history-persisted relation is decoded once
    * per query.
    *
    * Lifecycle: this memo never persists. Persistence of atom relations is
    * owned EXCLUSIVELY by [[IndexQueryCache]] (the serving history every
    * facade routes through by default -- [[QueryHistory.default]]), whose
    * eviction is deterministic LRU under an entry cap and byte budget.
    * SQL-cached plans are not reaped by the ContextCleaner, and both
    * asynchronous GC-timed unpersists (measured: corrupted in-flight
    * queries) and a one-way process persist budget (round 3: memoization
    * silently died after the budget drained) were tried and rejected; a
    * single deterministic owner is the only lifecycle that stays correct
    * AND bounded over an unbounded query stream.
    */
  final def atomScoredCached(atom: Atom): DataFrame =
    scoredMemo.computeIfAbsent(atom, a => atomScored(a))

  /** false when the backing index stores no positions (IndexBuilder
    * storePositions=false): windowed separators must refuse instead of
    * matching against the stored zeros.
    */
  def hasPositions: Boolean = true

  /** True when the atom is KNOWN (cheaply, no extra jobs) to resolve to
    * exactly ONE vocabulary term: its scored relation is then already one
    * row per doc, so part aggregation is a projection instead of a
    * groupBy -- one shuffle less per part. False when unknown; the
    * aggregation is always correct, this only unlocks the fast path.
    */
  def singleTerm(atom: Atom): Boolean = false

  private val scoredMemo =
    new java.util.concurrent.ConcurrentHashMap[Atom, DataFrame]()

  /** The atom's best-match word (reference: _lastBestMatchWordId,
    * CompleterBase.cpp:723-732): for a prefix atom the EXACT query word if
    * it exists in the vocabulary; for a fuzzy atom the closest word (min
    * edit distance, ties lexicographic). None otherwise -- scoring is then
    * unaffected.
    */
  def bestMatchWord(atom: Atom): Option[String] = atom match {
    case w: Word if w.prefix =>
      Some(w.text).filter(vocabContains)
    case w: Word if w.fuzzy =>
      closestVocabWord(w.text, Executor.fuzzyThreshold(w.text))
    case _ => None
  }

  protected def vocabContains(w: String): Boolean
  protected def closestVocabWord(w: String, thr: Int): Option[String]
}

/** Logical-path source: predicates over the cached doc-term relation.
  * With normVariants=true the relation also carries the reference's
  * normalized-variant words (`norm:lower`; the query side's
  * normalizeWords rewrite targets them).
  */
class CorpusAtomSource(corpus: DataFrame, normVariants: Boolean = false)
    extends AtomSource {

  def atomScored(atom: Atom): DataFrame = {
    val dt = Analysis.docTermsCached(corpus, normVariants).toDF()
    val st = Analysis.statsCached(corpus)
    val pred = CorpusAtomSource.atomPredicate(atom)
    // df comes from the VOCAB-sized (term, df) relation, persisted once per
    // corpus: an atom's df is a filter over it, not an aggregation (and a
    // shuffle) over the atom's postings
    val cands = Analysis.termDfCached(corpus, normVariants).filter(pred)
    // fuzzy: the broadcast join alone applies the candidates, so edit
    // distance is evaluated once per vocabulary entry, never once per
    // posting row (reference builds a FastSS/permuted-lexicon candidate
    // index for the same reason, fuzzysearch/FuzzySearcher.h:24-107)
    val postings = atom match {
      case w: Word if w.fuzzy => dt
      case _ => dt.filter(pred)
    }
    postings.join(broadcast(cands), "term")
      .select(col("doc_id"), col("term"), col("tf"), col("positions"),
        Analysis.bm25Col(st.n_docs, st.avgdl, col("tf"), col("df"), col("dl")).as("score"),
        Analysis.bm25Col(st.n_docs, st.avgdl, lit(1), col("df"), col("dl")).as("score1"))
  }

  /** An exact, non-expanding word matches `term === text` — at most ONE
    * vocabulary term, known from the atom alone (no job), so its scored
    * relation is already one row per doc and Eval's projection fast path
    * applies (one fewer groupBy exchange per exact-word query part).
    * Prefix/fuzzy/synonym/range/OR atoms expand to many terms and answer
    * false. Mirrors what the index source derives from its candidate
    * slice; the same [[Eval.partRel]] code path serves both.
    */
  override def singleTerm(atom: Atom): Boolean = atom match {
    case w: Word => !w.prefix && !w.fuzzy && !w.synonym
    case _ => false
  }

  protected def vocabContains(w: String): Boolean =
    !Analysis.termDfCached(corpus, normVariants).filter(col("term") === w).isEmpty

  protected def closestVocabWord(w: String, thr: Int): Option[String] =
    Analysis.termDfCached(corpus, normVariants)
      .filter(levenshtein(col("term"), lit(w)) <= thr)
      .select(col("term"), levenshtein(col("term"), lit(w)).as("d"))
      .orderBy(col("d").asc, col("term").asc)
      .limit(1).collect().headOption.map(_.getString(0))
}

/** [[CorpusAtomSource]] with the serving history in front: the logical
  * path's analog of [[CachedIndexAtomSource]]. Entries are keyed by corpus
  * INSTANCE ([[QueryHistory.corpusId]]) -- a serving session holds one
  * corpus DataFrame and shares atom relations across its whole query
  * stream; distinct corpus objects never share rows (two in-memory corpora
  * with identical schemas must not collide).
  */
class CachedCorpusAtomSource(corpus: DataFrame, normVariants: Boolean,
                             cache: IndexQueryCache)
    extends CorpusAtomSource(corpus, normVariants) {
  private val key = s"corpus:${QueryHistory.corpusId(corpus)}:$normVariants"
  override def atomScored(atom: Atom): DataFrame =
    cache.atomScored(key, 0L, atom, super.atomScored)
}

object CorpusAtomSource {

  def atomPredicate(atom: Atom): Column = atom match {
    case w: Word => wordPredicate(w)
    case WordRange(lo, hi) => col("term") >= lo && col("term") <= hi
    // OR alternatives may be any word/range atom (complex OR): the pooled
    // predicate matches the union of the alternatives' postings, which is
    // exactly the reference's merged sub-query results (processOrQuery +
    // mergeResultLists dedup, CompleterBase.cpp:377-560,
    // QueryResult.cpp:316-415)
    case OrAtoms(alts) => alts.map(atomPredicate).reduce(_ || _)
    case _: JoinBlock =>
      throw new IllegalArgumentException("join block handled separately")
  }

  def wordPredicate(w: Word): Column = {
    if (w.prefix) col("term").startsWith(w.text)
    else if (w.fuzzy)
      levenshtein(col("term"), lit(w.text)) <= Executor.fuzzyThreshold(w.text)
    else if (w.synonym) col("term").isin(Executor.synonymsOf(w.text).toSeq: _*)
    else col("term") === w.text // exact and plain words match the term itself
  }
}

/** The reference-grammar evaluation state machine, written ONCE over
  * [[AtomSource]] (mirrors processComplexQuery's left-deep part chain,
  * CompleterBase.cpp:1007-1850): the accumulated result is a
  * (doc_id, score) relation plus, for windowed separators, the positions
  * of the previous part's MATCHED postings.
  *
  * Scoring: per-part doc score = summed BM25 over the part's matched terms
  * in the doc; parts combine with Sum (docScoreAggDifferentQueryParts=Sum).
  * Windowed separators (phrase/near/same-pos) constrain docs via an
  * array-level position match (filter/exists over per-doc position arrays,
  * one equi-join per part); scores still aggregate over whole-doc tf
  * (fixed in the goldens -- see SURVEY.md §7.3 hard part 5).
  */
object Eval {

  private def isNot(atom: Atom): Boolean = atom match {
    case w: Word => w.not
    case _ => false
  }

  /** The atom's scored relation with fuzzy damping applied (reference:
    * `fd=` fuzzyDamping, CompleterBase.TopK.cpp:754 -- fuzzy-matched
    * scores multiplied by the damping factor). The damping multiplies the
    * SHARED cached relation's columns plan-side, so one undamped history
    * entry serves every fd value (the reference History instead treats a
    * differing fuzzyDamping as cache-incompatible, CompleterBase.cpp:
    * 1125-1139 -- a whole-result re-compute we avoid).
    */
  private def dampedScored(src: AtomSource, a: Atom, params: QueryParams): DataFrame = {
    val base = src.atomScoredCached(a)
    val isFuzzy = a match { case w: Word => w.fuzzy; case _ => false }
    if (!isFuzzy || params.fuzzyDamping >= 1.0) base
    else base.withColumn("score", col("score") * params.fuzzyDamping)
      .withColumn("score1", col("score1") * params.fuzzyDamping)
  }

  /** Evaluate to (doc_id, score), score rounded to 4dp, unordered, under
    * the full score-aggregation algebra ([[QueryParams]]):
    *  - per-term doc score: Sum over same-word occurrences = BM25(tf),
    *    Max = BM25(1) (`score1` column);
    *  - across a part's matching terms: completionsAgg (Sum/Max);
    *  - across parts: partsAgg (Sum / Max / SumWithBonus -- the latter adds
    *    the reference's proximity bonuses on windowed separators);
    *  - bestMatchBonus > 0 adds the reference's BEST_MATCH_BONUS
    *    (Globals.h:233, default 0 = off) to docs whose LAST part matches
    *    the best-match word (CompleterBase.cpp:723-732);
    *  - params.window overrides the '..' neighbourhood per query
    *    (QueryParameters.cpp:12-13).
    */
  def evalDocs(src: AtomSource, q: ParsedQuery, params: QueryParams): DataFrame = {
    // rel: (doc_id, score[, mpos]) -- mpos (present iff hasPos) is the most
    // recent non-NOT part's MATCHED positions in the doc, as an array column
    case class State(rel: DataFrame, hasPos: Boolean)
    val lastIdx = q.parts.length - 1
    def bmFor(i: Int): Double = if (i == lastIdx) params.bestMatchBonus else 0.0
    // per-(doc, term) contribution under docScoreAggSameCompletion
    val termScore =
      if (params.sameCompletionAgg == QueryParams.Max) col("score1") else col("score")
    // across a part's terms within a doc, under docScoreAggDifferentCompletions
    def complAgg(c: Column): Column =
      if (params.completionsAgg == QueryParams.Max) max(c) else sum(c)
    // across parts, under docScoreAggDifferentQueryParts
    def combineParts(s1: Column, s2: Column, bonus: Double): Column =
      params.partsAgg match {
        case QueryParams.Max => greatest(s1, s2)
        case QueryParams.SumWithBonus => s1 + s2 + lit(bonus)
        case _ => s1 + s2
      }
    // the per-query neighbourhood override applies to '..' only
    // (reference: neighbourhoodStart/End feed the NEAR separator)
    def windowOf(sep: Sep): Option[(Int, Int)] = sep match {
      case Near => params.window.orElse(sep.window)
      case _ => sep.window
    }
    // does a later windowed separator chain from THIS part's positions?
    // (NOT parts pass positions through, so scan past them) -- parts whose
    // positions nothing consumes skip the array aggregation entirely
    def nextWindowed(idx: Int): Boolean =
      q.parts.drop(idx + 1).dropWhile(p => isNot(p.atom)).headOption.exists(p =>
        !p.atom.isInstanceOf[JoinBlock] && p.sep.flatMap(windowOf).isDefined)

    /** Part relation in ONE aggregation: (doc_id, score[, mpos]) -- the doc
      * score under the algebra plus, when a later window chains from this
      * part, the doc's positions gathered into an array column. The array
      * form keeps the window match inside whole-stage codegen (filter /
      * exists higher-order functions in [[evalDocs]]'s windowed branch)
      * instead of explode + position theta-join + two distincts -- the
      * reference likewise walks both position lists inside one merge
      * (intersectTwoPostingLists, CompleterBase.Intersect.cpp:477-548).
      */
    def partRel(a: Atom, bm: Double, withPos: Boolean): State = a match {
      case JoinBlock(ps) => State(evalJoinBlock(src, ps), hasPos = false)
      case _ if src.singleTerm(a) =>
        // one vocabulary term => already one row per doc: the part
        // aggregation degenerates to a projection (no shuffle)
        val base = dampedScored(src, a, params)
        val bw = if (bm == 0.0) None else src.bestMatchWord(a)
        val scoreEx = bw match {
          case Some(w) => (termScore +
            when(col("term") === w, lit(bm)).otherwise(lit(0.0))).as("score")
          case None => termScore.as("score")
        }
        if (withPos)
          State(base.select(col("doc_id"), scoreEx,
            col("positions").as("mpos")), hasPos = true)
        else State(base.select(col("doc_id"), scoreEx), hasPos = false)
      case _ =>
        val base = dampedScored(src, a, params)
        val bw = if (bm == 0.0) None else src.bestMatchWord(a)
        val scoreCol = bw match {
          case Some(w) => (complAgg(termScore) +
            max(when(col("term") === w, lit(bm)).otherwise(lit(0.0)))).as("score")
          case None => complAgg(termScore).as("score")
        }
        if (withPos)
          State(base.groupBy(col("doc_id")).agg(scoreCol,
            flatten(collect_list(col("positions"))).as("mpos")), hasPos = true)
        else State(base.groupBy(col("doc_id")).agg(scoreCol), hasPos = false)
    }

    val first = q.parts.head
    require(!isNot(first.atom), "query cannot start with a NOT part")
    var state = partRel(first.atom, bmFor(0), nextWindowed(0))

    q.parts.zipWithIndex.tail.foreach { case (part, idx) =>
      // a windowed separator needs positions on BOTH sides; join blocks
      // have none (their result is a doc-score relation), so a window
      // adjacent to a join block degrades to same-doc AND (the reference
      // likewise treats separators around enhanced queries as plain
      // intersection) instead of crashing
      val positionless = !state.hasPos || part.atom.isInstanceOf[JoinBlock]
      val window = if (positionless) None else part.sep.flatMap(windowOf)
      require(window.isEmpty || src.hasPositions,
        "positions-off index: windowed/phrase separators need storePositions=true")
      if (isNot(part.atom)) {
        // NOT: anti-join on matching docs (OUTPUT_NON_MATCHES); positions
        // (if any) ride through for a window chaining past the NOT.
        // No distinct: an anti-join's build side dedups in its hash
        // relation, a pre-distinct is only an extra exchange
        val negDocs = src.atomScoredCached(part.atom).select(col("doc_id"))
        state = state.copy(rel = state.rel.join(negDocs, Seq("doc_id"), "left_anti"))
      } else if (window.isEmpty) {
        // plain AND: docId equi-join, scores sum (the special-posting carry)
        val cur = partRel(part.atom, bmFor(idx), nextWindowed(idx))
        val keep = Seq(col("doc_id"),
          combineParts(col("s1"), col("s2"), 0.0).as("score")) ++
          (if (cur.hasPos) Seq(col("mpos")) else Nil)
        val joined = state.rel.select(col("doc_id"), col("score").as("s1"))
          .join(cur.rel.withColumnRenamed("score", "s2"), "doc_id")
          .select(keep: _*)
        state = State(joined, cur.hasPos)
      } else {
        // windowed AND: keep the current part's positions within [lo, hi]
        // of a previously matched position, per doc, as an array filter;
        // docs with no surviving position drop out. The next window chains
        // ONLY from positions of this part that matched (reference:
        // intersectTwoPostingLists emits the second list's matched
        // postings, CompleterBase.Intersect.cpp:477-548) -- carrying all
        // of the atom's positions would let a.b.c match docs where 'a b'
        // and 'b c' occur at unrelated places
        val (lo, hi) = window.get
        val cur = partRel(part.atom, bmFor(idx), withPos = true)
        val bonus =
          if (params.partsAgg == QueryParams.SumWithBonus)
            Executor.bonusFor(part.sep.get)
          else 0.0
        val joined = state.rel
          .select(col("doc_id"), col("score").as("s1"), col("mpos").as("prev_pos"))
          .join(cur.rel.withColumnRenamed("score", "s2"), "doc_id")
          .withColumn("mpos", filter(col("mpos"), p2 =>
            exists(col("prev_pos"), p1 => (p2 - p1).between(lo, hi))))
          .where(size(col("mpos")) > 0)
          .select(col("doc_id"),
            combineParts(col("s1"), col("s2"), bonus).as("score"), col("mpos"))
        state = State(joined, hasPos = true)
      }
    }
    state.rel.select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** Top-k hits: total order (score desc, doc_id asc). */
  def topK(src: AtomSource, query: String, k: Int): DataFrame =
    topK(src, query, k, QueryParams.Default)

  def topK(src: AtomSource, query: String, k: Int, params: QueryParams): DataFrame =
    hits(src, query, k, params)

  /** Hits under the full request surface: `rd=` rank mode + sort order
    * (RANK_DOCS_BY_SCORE / RANK_DOCS_BY_DOC_ID, QueryParameters.h:92-101)
    * and `f=` first hit (pagination): rows [firstHit, firstHit + k) of the
    * TOTAL order -- the offset is applied to the same global sort the
    * un-paginated query uses, so page boundaries are consistent
    * (reference: nofTopHitsToCompute = max(f + h, min), then send from f).
    * Catalyst plans sort + offset + limit as one TakeOrdered of
    * firstHit + k rows -- the driver never holds more than one page extra.
    */
  def hits(src: AtomSource, query: String, k: Int, params: QueryParams): DataFrame = {
    val docs = evalDocs(src, QueryParser.parse(query, params.normalizeWords), params)
    val ordered = params.rankDocs match {
      case "doc" =>
        if (params.sortDocsAsc.getOrElse(true)) docs.orderBy(col("doc_id").asc)
        else docs.orderBy(col("doc_id").desc)
      case _ => // score; doc_id asc tiebreak keeps the order total
        if (params.sortDocsAsc.getOrElse(false))
          docs.orderBy(col("score").asc, col("doc_id").asc)
        else docs.orderBy(col("score").desc, col("doc_id").asc)
    }
    (if (params.firstHit > 0) ordered.offset(params.firstHit) else ordered).limit(k)
  }

  /** Completions of the last part within the docs matching the whole query
    * (computeTopCompletions over the final result).
    */
  def completions(src: AtomSource, query: String, k: Int): DataFrame =
    completions(src, query, k, QueryParams.Default)

  /** Completions under the word-side aggregation knobs: a completion's
    * per-document contribution is wordScoreAggSameDocument over its
    * occurrences (Sum = BM25(tf), Max = BM25(1)), combined across
    * documents with wordScoreAggDifferentDocuments (Sum/Max).
    */
  def completions(src: AtomSource, query: String, k: Int,
                  params: QueryParams): DataFrame = {
    val parsed = QueryParser.parse(query, params.normalizeWords)
    val perDoc =
      if (params.wordSameDocAgg == QueryParams.Max) col("score1") else col("score")
    val acrossDocs =
      if (params.wordDiffDocsAgg == QueryParams.Max) max(perDoc) else sum(perDoc)
    val base = withinDocs(src, parsed, dampedScored(src, parsed.parts.last.atom, params), params)
      .groupBy(col("term"))
      .agg(round(acrossDocs, 4).as("score"),
        count(lit(1)).as("dc"), sum(col("tf")).as("oc"))
    // `rw=` completion rank mode + sort order (RANK_WORDS_BY_*,
    // QueryParameters.h:103-113); term asc tiebreak keeps the order total
    val ordered = params.rankWords match {
      case "dc" =>
        if (params.sortWordsAsc.getOrElse(false)) base.orderBy(col("dc").asc, col("term").asc)
        else base.orderBy(col("dc").desc, col("term").asc)
      case "oc" =>
        if (params.sortWordsAsc.getOrElse(false)) base.orderBy(col("oc").asc, col("term").asc)
        else base.orderBy(col("oc").desc, col("term").asc)
      case "word" => // dense word ids are lexicographic: word-id order IS term order
        if (params.sortWordsAsc.getOrElse(true)) base.orderBy(col("term").asc)
        else base.orderBy(col("term").desc)
      case _ =>
        if (params.sortWordsAsc.getOrElse(false)) base.orderBy(col("score").asc, col("term").asc)
        else base.orderBy(col("score").desc, col("term").asc)
    }
    ordered.limit(k)
  }

  /** `rows` of q's last atom, restricted to the docs matching all of q.
    * A row of the last atom already lies in that atom's docs, so when the
    * last part joins without a window only the earlier parts restrict it,
    * and a one-part query restricts nothing: the restriction then skips
    * the last part's doc aggregation, or the whole evaluation. NOT and
    * windowed last parts filter the rows themselves and keep the full
    * evaluation (which also refuses a query that starts with NOT).
    */
  private def withinDocs(src: AtomSource, q: ParsedQuery, rows: DataFrame,
                         params: QueryParams): DataFrame = {
    val last = q.parts.last
    val plainLast = !isNot(last.atom) && last.sep.forall(_.window.isEmpty)
    val restrictBy =
      if (!plainLast) Some(q)
      else if (q.parts.length == 1) None
      else Some(ParsedQuery(q.parts.init))
    restrictBy.fold(rows)(r =>
      rows.join(evalDocs(src, r, params).select(col("doc_id")), Seq("doc_id"), "left_semi"))
  }

  /** Join block [q1#q2]: completions of the two sides' last parts that
    * occur in BOTH results (CompleterBase.Join.cpp hash join); docs of
    * either side containing a common term, scores re-aggregated.
    */
  private def evalJoinBlock(src: AtomSource, parts: Seq[ParsedQuery]): DataFrame = {
    val (union, commonTerms) = joinBlockSides(src, parts)
    union.join(broadcast(commonTerms), Seq("term"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
  }

  /** The terms a join block keeps, `(term)` in term order: the
    * completions common to all of `[q1#...#qn]`'s sides (the ft_joinblock
    * shape). The same code decides the terms inside [[evalDocs]].
    */
  def joinBlockTerms(src: AtomSource, block: String): DataFrame =
    QueryParser.parse(block).parts match {
      case Seq(Part(JoinBlock(ps), _)) => joinBlockSides(src, ps)._2.orderBy(col("term"))
      case _ => throw new IllegalArgumentException(s"not a single join block: $block")
    }

  /** A join block's sides and common terms: the union of every side's
    * (doc_id, term, score) rows -- the completions of the side's last part
    * within the side's docs -- and the terms present on ALL sides.
    */
  private def joinBlockSides(src: AtomSource, parts: Seq[ParsedQuery]): (DataFrame, DataFrame) = {
    def side(pq: ParsedQuery): DataFrame =
      withinDocs(src, pq, src.atomScoredCached(pq.parts.last.atom), QueryParams.Default)
        .select(col("doc_id"), col("term"), col("score"))
    require(parts.length <= 62, "join block limited to 62 parts (side bitmask)")
    // terms common to ALL parts: ONE side-tagged union aggregated by term
    // with a presence bitmask -- the reference's pairwise semi-join fold
    // (CompleterBase.cpp:592-609) collapsed to a single exchange. The old
    // shape chained (n-1) term semi-joins plus a distinct; the mask agg is
    // both the membership test and the dedup, and its output stays bounded
    // by the vocabulary, so the final semi-join still broadcasts.
    val tagged = parts.zipWithIndex.map { case (pq, i) =>
      side(pq).withColumn("side_bit", lit(1L << i))
    }
    val union = tagged.reduce(_ unionByName _)
    val fullMask = parts.indices.map(1L << _).sum
    val commonTerms = union.groupBy(col("term"))
      .agg(bit_or(col("side_bit")).as("mask"))
      .filter(col("mask") === fullMask)
      .select(col("term"))
    (union, commonTerms)
  }

  /** Window match counts, `(doc_id, n_matches)` in doc_id order: per doc,
    * the number of position pairs (p1 of word t1, p2 of word t2) with
    * p2 - p1 in [lo, hi] -- the separator windows (phrase [1, 1], near
    * [-10, 10], flexi [n, n]; Separator.cpp:139-159) counted rather than
    * scored. A self-phrase (t1 == t2) pairs the word's positions with
    * themselves; an unknown word gives no rows, same schema.
    */
  def windowMatchCounts(src: AtomSource, t1: String, t2: String,
                        lo: Int, hi: Int): DataFrame = {
    require(src.hasPositions,
      "positions-off index: windowed/phrase separators need storePositions=true")
    def positions(t: String, d: String, p: String): DataFrame =
      src.atomScoredCached(Word(t))
        .select(col("doc_id").as(d), explode(col("positions")).as(p))
    positions(t1, "doc_id", "p1")
      .join(positions(t2, "d2", "p2"),
        col("doc_id") === col("d2") && (col("p2") - col("p1")).between(lo, hi))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }
}
