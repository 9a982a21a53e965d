package graft.query

import org.apache.spark.sql.DataFrame
import QueryParser._

/** Logical-path facade: evaluates a parsed reference-grammar query against
  * a corpus via [[Eval]] over a [[CorpusAtomSource]]. The physical-index
  * path is [[IndexExecutor]]; both share the one [[Eval]] state machine.
  */
object Executor {

  /** Synonym groups (reference: `<db>.synonym-groups`,
    * SynonymDictionary.h:29). Loaded once from the packaged groups file --
    * format: one group per line, comma-separated words, `#` comments,
    * whitespace ignored, a trailing `*` marks words that do not expand to
    * their group (the 31st-bit flag in the reference).
    */
  lazy val SynonymGroups: Seq[Set[String]] = SynonymDictionary.defaultGroups.map(_.words)

  def synonymsOf(w: String): Set[String] = SynonymDictionary.defaultExpand(w)

  /** Fuzzy threshold: edit distance <= max(1, len/4) (reference: normalized
    * distance ~0.28, FuzzySearcher.h:24-107).
    */
  def fuzzyThreshold(w: String): Int = math.max(1, w.length / 4)

  /** Atom source for a corpus: routed through the process serving history
    * ([[QueryHistory.default]]) so atom relations persist under ONE
    * deterministic LRU/byte-budget owner -- every facade entry point is
    * history-backed (reference: every query answers through the one
    * process History, CompleterBase.cpp:1106-1266).
    */
  private def src(corpus: DataFrame, normVariants: Boolean = false): AtomSource =
    new CachedCorpusAtomSource(corpus, normVariants, QueryHistory.default)

  /** Top-k hits: total order (score desc, doc_id asc). */
  def topK(corpus: DataFrame, query: String, k: Int): DataFrame =
    topK(corpus, query, k, QueryParams.Default)

  /** Top-k under the full score-aggregation algebra / per-query knobs.
    * params.normalizeWords turns on BOTH the query rewrite and the
    * normalized-variant terms in the corpus relation (the logical twin of
    * an index built with normVariants=true).
    */
  def topK(corpus: DataFrame, query: String, k: Int, params: QueryParams): DataFrame =
    Eval.topK(src(corpus, params.normalizeWords), query, k, params)

  /** Hits under the full request surface (`rd=`/`f=`; [[Eval.hits]]). */
  def hits(corpus: DataFrame, query: String, k: Int, params: QueryParams): DataFrame =
    Eval.hits(src(corpus, params.normalizeWords), query, k, params)

  /** Completions of the last part within the docs matching the whole query. */
  def completions(corpus: DataFrame, query: String, k: Int): DataFrame =
    Eval.completions(src(corpus), query, k)

  def completions(corpus: DataFrame, query: String, k: Int,
                  params: QueryParams): DataFrame =
    Eval.completions(src(corpus, params.normalizeWords), query, k, params)
}
