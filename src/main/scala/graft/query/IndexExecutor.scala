package graft.query

import graft.core.Analysis
import graft.index.{IndexReader, Vocabulary}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryParser._

/** Physical-path atom source: an atom resolves to its candidate term ids
  * from the driver-resident vocabulary (the term-level predicate -- prefix
  * / fuzzy / synonym / range / OR -- answered by binary searches, or one
  * edit-distance pass for a fuzzy word), then to a bucket- and
  * min/max-pruned block scan decoded by the native Generator and scored
  * with BM25 from the persisted df/stats.
  *
  * This is the reference's architecture: every query shape goes through
  * the block index (HYBCompleter.cpp:115-270, block locate :661-746) --
  * at 10^12 docs a query must never touch, let alone re-tokenize, the
  * corpus.
  */
class IndexAtomSource(reader: IndexReader) extends AtomSource {

  override def hasPositions: Boolean = reader.hasPositions

  private def emptyScored: DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("term", StringType),
      StructField("tf", LongType),
      StructField("positions", ArrayType(IntegerType)),
      StructField("score", DoubleType), StructField("score1", DoubleType)))
    reader.spark.createDataFrame(reader.spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Candidate relation for an atom: (term_id, term, df), the dictionary
    * filtered by the atom's term predicate. Scanned only as the broadcast
    * side of hull-sized candidate sets; every other candidate set is a
    * driver-held slice of the resident vocabulary.
    */
  private def candidates(atom: Atom): DataFrame =
    reader.dictionary.filter(CorpusAtomSource.atomPredicate(atom))
      .select(col("term_id"), col("term"), col("df"))

  def atomScored(atom: Atom): DataFrame = {
    import reader.spark.implicits._
    // the candidate term-id set as CONTIGUOUS RUNS. The reference fetches
    // blocks per word range / per term (block locate,
    // HYBCompleter.cpp:661-746; INVCompleter.h:94-130) -- never the
    // [min, max] hull of a scattered set, which for a synonym group like
    // `merge, join` would decode every block in between. Dense
    // lexicographic ids make a prefix ONE run, while synonym/fuzzy/OR
    // candidates become per-cluster runs; sets beyond MaxExactIds fall back
    // to the hull (a vocab that large is range-shaped in practice). The
    // broadcast join below still applies the exact candidate set after
    // decode; its build side is the driver-held (term, df) slice (a
    // LocalRelation) whenever the set is not hull-sized.
    val (runs, slice) = candidateInfo(atom)
    if (runs.isEmpty) return emptyScored
    val candSide = slice.map(_.toSeq.toDF("term_id", "term", "df"))
      .getOrElse(candidates(atom))
    reader.decodeWithPositions(reader.blocksForIdRuns(runs))
      .join(broadcast(candSide), "term_id")
      .select(col("doc_id"), col("term"), col("tf"), col("positions"),
        Analysis.bm25Col(reader.nDocs, reader.avgdl,
          col("tf"), col("df"), col("dl")).as("score"),
        Analysis.bm25Col(reader.nDocs, reader.avgdl,
          lit(1), col("df"), col("dl")).as("score1"))
  }

  /** The distributed plans' resolution: runs plus, for candidate sets of
    * at most [[IndexAtomSource.MaxExactIds]] ids, the (term_id, term, df)
    * slice in id order (the broadcast side of [[atomScored]]); the hull and
    * `None` past that. Every atom resolves in-process from the resident
    * vocabulary, per call ([[IndexAtomSource.residentRanges]]). Driver
    * serving resolves through [[exactRuns]].
    */
  private def candidateInfo(atom: Atom):
      (Seq[(Long, Long)], Option[Array[(Long, String, Long)]]) = {
    val runs = exactRuns(atom)
    if (runs.isEmpty) (Seq.empty, None)
    else if (runs.iterator.map { case (lo, hi) => hi - lo + 1 }.sum > IndexAtomSource.MaxExactIds)
      (Seq((runs.head._1, runs.last._2)), None) // hull
    else {
      val v = reader.vocabulary
      val slice = runs.iterator.flatMap { case (lo, hi) => lo.toInt to hi.toInt }
        .map(i => (i.toLong, v.term(i), v.df(i))).toArray
      (runs, Some(slice))
    }
  }

  /** The atom's exact candidate id runs, whatever their count: the merged
    * resident ranges. Driver serving ([[LocalServe]]) takes these and reads
    * term and df by id from [[IndexReader.vocabulary]].
    */
  private[graft] def exactRuns(atom: Atom): Seq[(Long, Long)] =
    IndexReader.mergeRuns(IndexAtomSource.residentRanges(reader.vocabulary, atom, withinEdits))

  /** [[Vocabulary.withinEdits]] ONCE per (word, threshold) per source: a
    * fuzzy part's candidate runs ([[exactRuns]], from [[singleTerm]] and
    * [[atomScored]]) and best-match word ([[closestVocabWord]]) share a pass.
    */
  private val edits = new java.util.concurrent.ConcurrentHashMap[(String, Int), (Array[Int], Int)]()
  private def withinEdits(w: String, thr: Int): (Array[Int], Int) =
    edits.computeIfAbsent((w, thr), _ => reader.vocabulary.withinEdits(w, thr))

  /** One vocabulary term iff the candidate slice has exactly one entry --
    * so the Eval fast path (projection instead of per-part groupBy) costs
    * no extra job. Hull-sized candidate sets answer false.
    */
  override def singleTerm(atom: Atom): Boolean =
    candidateInfo(atom)._2.exists(_.length == 1)

  /** Candidate id runs + driver-held slice for an atom as the distributed
    * plans resolve it ([[candidateInfo]]; spec hook).
    */
  private[graft] def candidateRunsSlice(atom: Atom):
      (Seq[(Long, Long)], Option[Array[(Long, String, Long)]]) =
    candidateInfo(atom)

  /** Pruned block relation for an atom (spec hook). */
  private[graft] def prunedBlocks(atom: Atom): Option[DataFrame] = {
    val runs = candidateInfo(atom)._1
    if (runs.isEmpty) None else Some(reader.blocksForIdRuns(runs))
  }

  protected def vocabContains(w: String): Boolean = reader.vocabulary.idOf(w) >= 0

  protected def closestVocabWord(w: String, thr: Int): Option[String] = {
    val id = withinEdits(w, thr)._2
    if (id < 0) None else Some(reader.vocabulary.term(id))
  }
}

object IndexAtomSource {
  /** Plan-size bound of the DISTRIBUTED plans only: candidate sets up to
    * this size prune blocks by their EXACT id runs and broadcast their
    * (term_id, term, df) slice; larger sets push the [min, max] hull and
    * broadcast a dictionary filter. Bounded so the pushed predicate and the
    * broadcast stay small. Driver serving is not
    * gated by it: [[LocalServe]] takes an atom's exact runs at any count
    * and bounds it by posting volume ([[LocalServe.overBudget]]).
    */
  private[graft] val MaxExactIds = 4096

  /** The atom's candidate term ids as id ranges (any order, may overlap),
    * from the resident vocabulary `v` -- exactly the ids
    * `dictionary.filter(CorpusAtomSource.atomPredicate(atom))` selects (the
    * arguments are on [[graft.index.Vocabulary]]): binary searches for
    * every atom but a fuzzy word, whose ids come from one edit-distance
    * pass over the vocabulary ([[graft.index.Vocabulary.withinEdits]], or
    * `edits` in its place).
    */
  private[graft] def residentRanges(v: Vocabulary, atom: Atom,
      edits: (String, Int) => (Array[Int], Int)): Seq[(Long, Long)] = {
    def one(id: Int): Seq[(Long, Long)] = if (id < 0) Nil else Seq((id.toLong, id.toLong))
    def block(r: Option[(Int, Int)]): Seq[(Long, Long)] =
      r.map { case (lo, hi) => (lo.toLong, hi.toLong) }.toSeq
    atom match {
      case w: Word if w.fuzzy =>
        edits(w.text, Executor.fuzzyThreshold(w.text))._1.toSeq.flatMap(one)
      case w: Word if w.prefix => block(v.prefixRange(w.text))
      case w: Word if w.synonym => Executor.synonymsOf(w.text).toSeq.flatMap(t => one(v.idOf(t)))
      case w: Word => one(v.idOf(w.text))
      case WordRange(lo, hi) => block(v.range(lo, hi))
      case OrAtoms(alts) => alts.flatMap(residentRanges(v, _, edits))
      case _: JoinBlock =>
        throw new IllegalArgumentException("join block handled separately")
    }
  }

  /** [[residentRanges]] scanning `v` itself (spec hook). */
  private[graft] def residentRanges(v: Vocabulary, atom: Atom): Seq[(Long, Long)] =
    residentRanges(v, atom, v.withinEdits)
}

/** [[IndexAtomSource]] with the serving-session history in front: atoms
  * resolve through [[IndexQueryCache]], so a prefix chain (`s*`, `sc*`,
  * `sch*`, ... -- the autocompletion typing pattern) touches the block
  * index ONCE and answers every extension by filtering the cached
  * in-memory relation (reference: History + copyAndFilter,
  * CompleterBase.cpp:2435-2504).
  */
class CachedIndexAtomSource(reader: IndexReader, cache: IndexQueryCache)
    extends IndexAtomSource(reader) {
  override def atomScored(atom: Atom): DataFrame =
    cache.atomScored(reader.dir, reader.indexEpoch, atom, super.atomScored)
}

/** Physical-path facade: the full reference grammar served from the
  * compressed posting-block index via the shared [[Eval]] state machine.
  */
object IndexExecutor {

  // Every entry point answers through a serving-session history, by
  // default the process one ([[QueryHistory.default]]): persisted atom
  // relations always have ONE deterministic LRU/byte-budget owner, so a
  // long-lived session answering arbitrarily many distinct queries keeps
  // bounded executor storage AND decode-once memoization, and repeated /
  // extended atoms come from the history instead of new block scans
  // (reference: every query answers through the one process History).

  /** Top-k under the full score-aggregation algebra / per-query knobs. */
  def topK(reader: IndexReader, query: String, k: Int,
           params: QueryParams = QueryParams.Default,
           cache: IndexQueryCache = QueryHistory.default): DataFrame =
    Eval.topK(new CachedIndexAtomSource(reader, cache), query, k, params)

  /** Hits under the full request surface (`rd=`/`f=`; [[Eval.hits]]). */
  def hits(reader: IndexReader, query: String, k: Int,
           params: QueryParams = QueryParams.Default,
           cache: IndexQueryCache = QueryHistory.default): DataFrame =
    Eval.hits(new CachedIndexAtomSource(reader, cache), query, k, params)

  def completions(reader: IndexReader, query: String, k: Int,
                  params: QueryParams = QueryParams.Default,
                  cache: IndexQueryCache = QueryHistory.default): DataFrame =
    Eval.completions(new CachedIndexAtomSource(reader, cache), query, k, params)

  // ---- serving facades --------------------------------------------------
  // The driver-resident grammar path while a request's postings fit its
  // budget, the distributed plans past it (LocalServe's one fallback) --
  // what a serving client calls (Search/CompletionServer route through
  // these). Both interpret one QueryPlan, so a refused query raises the
  // same error on either. The explicit topK/hits/completions above keep
  // pinning the distributed plans in every gate; LocalServeSpec pins the
  // two paths' results identical.

  /** Top-k hits through the local/distributed serving seam. */
  def serveHits(reader: IndexReader, query: String, k: Int,
                params: QueryParams = QueryParams.Default,
                cache: Option[IndexQueryCache] = None): DataFrame =
    LocalServe.hits(reader, query, k, params)
      .getOrElse(hits(reader, query, k, params, cache.getOrElse(QueryHistory.default)))

  /** [[serveHits]] as driver rows: the local page as held, or the
    * distributed plan collected once.
    */
  def serveHitRows(reader: IndexReader, query: String, k: Int,
                   params: QueryParams = QueryParams.Default,
                   cache: Option[IndexQueryCache] = None): Seq[Row] =
    LocalServe.hitRows(reader, query, k, params)
      .getOrElse(hits(reader, query, k, params, cache.getOrElse(QueryHistory.default))
        .collect().toSeq)

  /** Completions through the local/distributed serving seam. */
  def serveCompletions(reader: IndexReader, query: String, k: Int,
                       params: QueryParams = QueryParams.Default,
                       cache: Option[IndexQueryCache] = None): DataFrame =
    LocalServe.completions(reader, query, k, params)
      .getOrElse(completions(reader, query, k, params, cache.getOrElse(QueryHistory.default)))

  /** [[serveCompletions]] as driver rows. */
  def serveCompletionRows(reader: IndexReader, query: String, k: Int,
                          params: QueryParams = QueryParams.Default,
                          cache: Option[IndexQueryCache] = None): Seq[Row] =
    LocalServe.completionRows(reader, query, k, params)
      .getOrElse(completions(reader, query, k, params, cache.getOrElse(QueryHistory.default))
        .collect().toSeq)

  /** Excerpts for the top-k hits of a query, text served from the index's
    * docs store (buildDocsDB analog) -- the corpus itself is never read.
    */
  def excerpts(reader: IndexReader, query: String, k: Int,
               exact: Seq[String], prefixes: Seq[String],
               radius: Int = 2): DataFrame = {
    val hits = topK(reader, query, k)
    Excerpts.generateAll(reader.docs, hits, exact, prefixes, er = radius, en = 1)
  }
}
