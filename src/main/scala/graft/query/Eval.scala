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

/** The reference-grammar evaluation, written ONCE over [[AtomSource]]: the
  * Spark interpreter of a [[QueryPlan]] (the reference's left-deep part
  * chain, processComplexQuery, CompleterBase.cpp:1007-1850). The
  * accumulated result is a (doc_id, score) relation plus, for windowed
  * separators, the positions of the previous part's MATCHED postings.
  *
  * Scoring: per-part doc score = summed BM25 over the part's matched terms
  * in the doc; parts combine with Sum (docScoreAggDifferentQueryParts=Sum).
  * Windowed separators (phrase/near/same-pos) constrain docs via an
  * array-level position match (filter/exists over per-doc position arrays,
  * one equi-join per part); scores still aggregate over whole-doc tf
  * (fixed in the goldens -- see SURVEY.md §7.3 hard part 5).
  */
object Eval {

  /** `scored` with the plan's damping applied to its score columns. The
    * damping multiplies the SHARED cached relation's columns plan-side, so
    * one undamped history entry serves every fd value (the reference
    * History instead treats a differing fuzzyDamping as
    * cache-incompatible, CompleterBase.cpp:1125-1139 -- a whole-result
    * re-compute we avoid).
    */
  private def damped(scored: DataFrame, damping: Double): DataFrame =
    if (damping == 1.0) scored
    else scored.withColumn("score", col("score") * damping)
      .withColumn("score1", col("score1") * damping)

  /** Evaluate `plan` to (doc_id, score), score rounded to 4dp, unordered,
    * under the full score-aggregation algebra of `plan.params`
    * ([[QueryParams]]):
    *  - per-term doc score: Sum over same-word occurrences = BM25(tf),
    *    Max = BM25(1) (`score1` column);
    *  - across a part's matching terms: completionsAgg (Sum/Max);
    *  - across parts: partsAgg (Sum / Max / SumWithBonus -- the latter adds
    *    the plan's proximity bonuses on windowed separators);
    *  - the plan's best-match bonus (BEST_MATCH_BONUS, Globals.h:233) on
    *    docs whose last part matches the best-match word
    *    (CompleterBase.cpp:723-732).
    */
  def evalDocs(src: AtomSource, plan: QueryPlan): DataFrame = {
    val params = plan.params
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

    /** Part relation in ONE aggregation: (doc_id, score[, mpos]) -- the doc
      * score under the algebra plus, when the step gathers positions, the
      * doc's positions in an array column. The array form keeps the window
      * match inside whole-stage codegen (filter / exists higher-order
      * functions below) instead of explode + position theta-join + two
      * distincts -- the reference likewise walks both position lists
      * inside one merge (intersectTwoPostingLists,
      * CompleterBase.Intersect.cpp:477-548).
      */
    def partRel(s: QueryPlan.Step): DataFrame = s.atom match {
      case _: JoinBlock => evalJoinBlock(src, s.sides)
      case a =>
        val base = damped(src.atomScoredCached(a), s.damping)
        val bw = if (s.bestMatch == 0.0) None else src.bestMatchWord(a)
        def bonus(agg: Column => Column): Column =
          agg(when(col("term") === bw.get, lit(s.bestMatch)).otherwise(lit(0.0)))
        if (src.singleTerm(a)) {
          // one vocabulary term => already one row per doc: the part
          // aggregation degenerates to a projection (no shuffle)
          val score = (if (bw.isEmpty) termScore else termScore + bonus(identity)).as("score")
          base.select(Seq(col("doc_id"), score) ++
            (if (s.withPos) Seq(col("positions").as("mpos")) else Nil): _*)
        } else {
          val score = (if (bw.isEmpty) complAgg(termScore)
            else complAgg(termScore) + bonus(c => max(c))).as("score")
          base.groupBy(col("doc_id")).agg(score,
            (if (s.withPos) Seq(flatten(collect_list(col("positions"))).as("mpos")) else Nil): _*)
        }
    }

    val rel = plan.steps.foldLeft(null: DataFrame) { (state, s) =>
      s.op match {
        case QueryPlan.First => partRel(s)
        case QueryPlan.Not =>
          // anti-join on matching docs; positions (if any) ride through.
          // No distinct: an anti-join's build side dedups in its hash
          // relation, a pre-distinct is only an extra exchange
          state.join(src.atomScoredCached(s.atom).select(col("doc_id")), Seq("doc_id"), "left_anti")
        case QueryPlan.And =>
          // plain AND: docId equi-join, scores combine (the special-posting carry)
          state.select(col("doc_id"), col("score").as("s1"))
            .join(partRel(s).withColumnRenamed("score", "s2"), "doc_id")
            .select(Seq(col("doc_id"), combineParts(col("s1"), col("s2"), 0.0).as("score")) ++
              (if (s.withPos) Seq(col("mpos")) else Nil): _*)
        case QueryPlan.Window(lo, hi, bonus) =>
          // windowed AND: keep the part's positions within [lo, hi] of a
          // previously matched position, per doc, as an array filter; docs
          // with no surviving position drop out. The next window chains
          // ONLY from positions of this part that matched (reference:
          // intersectTwoPostingLists emits the second list's matched
          // postings, CompleterBase.Intersect.cpp:477-548) -- carrying all
          // of the atom's positions would let a.b.c match docs where 'a b'
          // and 'b c' occur at unrelated places
          state.select(col("doc_id"), col("score").as("s1"), col("mpos").as("prev_pos"))
            .join(partRel(s).withColumnRenamed("score", "s2"), "doc_id")
            .withColumn("mpos", filter(col("mpos"), p2 =>
              exists(col("prev_pos"), p1 => (p2 - p1).between(lo, hi))))
            .where(size(col("mpos")) > 0)
            .select(col("doc_id"), combineParts(col("s1"), col("s2"), bonus).as("score"),
              col("mpos"))
      }
    }
    rel.select(col("doc_id"), round(col("score"), 4).as("score"))
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
    val docs = evalDocs(src,
      QueryPlan.docs(QueryParser.parse(query, params.normalizeWords), params, src.hasPositions))
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
    val within = QueryPlan.within(QueryParser.parse(query, params.normalizeWords), params,
      src.hasPositions)
    val perDoc =
      if (params.wordSameDocAgg == QueryParams.Max) col("score1") else col("score")
    val acrossDocs =
      if (params.wordDiffDocsAgg == QueryParams.Max) max(perDoc) else sum(perDoc)
    val base = withinDocs(src, within)
      .groupBy(col("term"))
      .agg(round(acrossDocs, 4).as("score"),
        count(lit(1)).as("dc"), sum(col("tf")).as("oc"))
    // `rw=` completion rank mode + sort order (RANK_WORDS_BY_*,
    // QueryParameters.h:103-113); dense word ids are lexicographic, so
    // word-id order IS term order; term asc tiebreak keeps the order total
    val key = params.rankWords match {
      case "dc" | "oc" => col(params.rankWords)
      case "word" => col("term")
      case _ => col("score")
    }
    val asc = params.sortWordsAsc.getOrElse(params.rankWords == "word")
    base.orderBy(if (asc) key.asc else key.desc, col("term").asc).limit(k)
  }

  /** The plan's last-atom rows, damped, restricted to its docs
    * ([[QueryPlan.Within]]). An unrestricted plan skips the evaluation.
    */
  private def withinDocs(src: AtomSource, w: QueryPlan.Within): DataFrame = {
    val rows = damped(src.atomScoredCached(w.last), w.damping)
    w.restrict.fold(rows)(p =>
      rows.join(evalDocs(src, p).select(col("doc_id")), Seq("doc_id"), "left_semi"))
  }

  /** Join block [q1#q2]: completions of the two sides' last parts that
    * occur in BOTH results (CompleterBase.Join.cpp hash join); docs of
    * either side containing a common term, scores re-aggregated.
    */
  private def evalJoinBlock(src: AtomSource, sides: Seq[QueryPlan.Within]): DataFrame = {
    val (union, commonTerms) = joinBlockSides(src, sides)
    union.join(broadcast(commonTerms), Seq("term"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
  }

  /** The terms a join block keeps, `(term)` in term order: the
    * completions common to all of `[q1#...#qn]`'s sides (the ft_joinblock
    * shape). The same code decides the terms inside [[evalDocs]].
    */
  def joinBlockTerms(src: AtomSource, block: String): DataFrame =
    QueryParser.parse(block).parts match {
      case Seq(Part(JoinBlock(ps), _)) =>
        joinBlockSides(src, QueryPlan.joinBlock(ps, src.hasPositions))._2.orderBy(col("term"))
      case _ => throw new IllegalArgumentException(s"not a single join block: $block")
    }

  /** A join block's sides and common terms: the union of every side's
    * (doc_id, term, score) rows -- the completions of the side's last part
    * within the side's docs -- and the terms present on ALL sides.
    */
  private def joinBlockSides(src: AtomSource,
                             sides: Seq[QueryPlan.Within]): (DataFrame, DataFrame) = {
    // terms common to ALL sides: ONE side-tagged union aggregated by term
    // with a presence bitmask -- the reference's pairwise semi-join fold
    // (CompleterBase.cpp:592-609) collapsed to a single exchange. The mask
    // agg is both the membership test and the dedup, and its output stays
    // bounded by the vocabulary, so the final semi-join still broadcasts.
    val tagged = sides.zipWithIndex.map { case (w, i) =>
      withinDocs(src, w).select(col("doc_id"), col("term"), col("score"))
        .withColumn("side_bit", lit(1L << i))
    }
    val union = tagged.reduce(_ unionByName _)
    val fullMask = sides.indices.map(1L << _).sum
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
    QueryPlan.requirePositions(src.hasPositions)
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
