package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One posting: term occurrence at a position in a document.
  * Reference analog: the 4-parallel-vector posting (QueryResult.h:22-27),
  * with the on-disk static score replaced by query-time BM25.
  */
case class Posting(doc_id: Long, term: String, pos: Int)

/** Per-(doc, term) row with local term frequency, the term's positions in
  * the doc, and the doc length. Produced by a single narrow pass over the
  * corpus -- tf and dl are per-document facts, so they are aggregated
  * inside the tokenizing flatMap with NO shuffle. At 10^12 docs this is the
  * difference between a free map stage and a corpus-sized groupBy.
  */
case class DocTerm(doc_id: Long, term: String, tf: Long, positions: Array[Int], dl: Long)

/** Corpus-level statistics (reference analog: MetaInfo.h:8-104 --
  * nofDocs, nofWordInDocPairs; plus avgdl which BM25 needs).
  */
case class CorpusStats(n_docs: Long, n_postings: Long, avgdl: Double)

/** Logical analysis layer: corpus -> postings / doc-term rows / stats.
  * Everything is a lazily-planned Dataset; Catalyst prunes the `text`
  * column scan down to (doc_id, text) automatically.
  */
object Analysis {

  val K1 = 1.2
  val B = 0.75

  // Process-level caches keyed by the corpus plan's semantic hash: repeated
  // queries over the same corpus (one Verify/Bench run, a query server)
  // share one tokenized, persisted doc-term relation and one stats row
  // instead of re-tokenizing per query. Semantically a no-op.
  private val dtCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Boolean), Dataset[DocTerm]]()
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), CorpusStats]()
  private val termDfCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Boolean), DataFrame]()

  // key by (session identity, plan semantic hash): a new SparkSession (e.g.
  // ScalingBench restarting at another parallelism) must not see Datasets
  // bound to a stopped context
  private def corpusKey(corpus: DataFrame): (Int, Int) =
    (System.identityHashCode(corpus.sparkSession),
      corpus.queryExecution.analyzed.semanticHash())

  /** Cached variant of [[docTerms]]: persisted once per distinct corpus
    * (and per normVariants mode).
    */
  def docTermsCached(corpus: DataFrame, normVariants: Boolean = false): Dataset[DocTerm] = {
    val k = corpusKey(corpus)
    dtCache.computeIfAbsent((k._1, k._2, normVariants),
      _ => docTerms(corpus, normVariants).persist())
  }

  /** Drop process-level caches (bench/test hook). Entries bound to
    * already-stopped sessions are just forgotten (unpersist would NPE).
    */
  def clearProcessCaches(): Unit = {
    dtCache.values().forEach { ds =>
      if (!ds.sparkSession.sparkContext.isStopped)
        scala.util.Try(ds.unpersist())
    }
    termDfCache.values().forEach { df =>
      if (!df.sparkSession.sparkContext.isStopped)
        scala.util.Try(df.unpersist())
    }
    dtCache.clear(); statsCache.clear(); termDfCache.clear()
  }

  /** Cached variant of [[stats]]. */
  def statsCached(corpus: DataFrame): CorpusStats =
    statsCache.computeIfAbsent(corpusKey(corpus), _ => stats(corpus))

  /** Vocab-sized (term, df) relation, persisted once per corpus -- the
    * logical path's dictionary analog for candidate expansion (fuzzy etc.):
    * term-level predicates are evaluated once per VOCABULARY entry here,
    * never once per posting.
    */
  def termDfCached(corpus: DataFrame, normVariants: Boolean = false): DataFrame = {
    val k = corpusKey(corpus)
    termDfCache.computeIfAbsent((k._1, k._2, normVariants), _ =>
      docTermsCached(corpus, normVariants).groupBy(col("term"))
        .agg(count(lit(1)).as("df")).persist())
  }

  /** Tokenize each document once, aggregating tf/positions/dl locally.
    * Narrow (no shuffle). Input must have (doc_id: long, text: string).
    * With normVariants=true the reference's normalized-variant words
    * (`norm:lower` at the same position, CsvParser.cpp:120-131) are
    * emitted too; dl still counts only the real tokens.
    */
  def docTerms(corpus: DataFrame, normVariants: Boolean = false): Dataset[DocTerm] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val withVariants = normVariants
    corpus.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (docId, text) =>
        val toks =
          if (withVariants) Tokenizer.tokenizeWithVariants(text)
          else Tokenizer.tokenizeWithPositions(text)
        val dl = (if (toks.isEmpty) 0 else toks.last._2 + 1).toLong
        val byTerm = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        toks.foreach { case (t, i) =>
          byTerm.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty[Int]) += i
        }
        byTerm.iterator.map { case (t, ps) => DocTerm(docId, t, ps.length.toLong, ps.toArray, dl) }
      }
  }

  /** Fully exploded posting relation (doc_id, term, pos) -- the reference's
    * words-file shape (WordsFile.h:30-45). Used by position-sensitive
    * operators (phrase, proximity) and by the oracle-gated posting dump.
    */
  def postings(corpus: DataFrame): Dataset[Posting] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (docId, text) =>
        Tokenizer.tokenize(text).iterator.zipWithIndex.map { case (t, i) => Posting(docId, t, i) }
      }
  }

  /** Term dictionary with dense lexicographic termIds (reference: sorted
    * vocabulary, wordId = index; Vocabulary.h:17-33). The global sort is a
    * range-partitioned shuffle of the *distinct term* relation (vocab-sized,
    * not corpus-sized); ids come from per-partition offsets ([[DenseRank]]),
    * never from a single-partition window.
    */
  def dictionary(docTerms: Dataset[DocTerm]): DataFrame = {
    val agg = docTerms.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    DenseRank.withDenseIdByPrefix(agg, "term", "term_id")
      .select(col("term_id"), col("term"), col("df"), col("cf"))
  }

  /** Corpus stats. n_docs is a count over the corpus relation (count-star,
    * no text read); n_postings is sum(tf) over the SHARED persisted
    * doc-term relation — the corpus is tokenized at most once per process
    * (by [[docTermsCached]]), where the previous shape paid a SECOND full
    * tokenizing scan of every document just to recount what the doc-term
    * relation already holds. Docs with zero tokens have no doc-term rows,
    * which is why n_docs cannot come from the same relation.
    */
  def stats(corpus: DataFrame): CorpusStats = {
    val n = corpus.count()
    val row = docTermsCached(corpus).agg(sum(col("tf")).as("p")).head()
    val p = if (row.isNullAt(0)) 0L else row.getLong(0)
    CorpusStats(n, p, if (n == 0) 0.0 else p.toDouble / n)
  }

  /** Okapi BM25 per (doc, term) as a Catalyst column expression.
    * idf = ln((N - df + 0.5)/(df + 0.5) + 1)   (Lucene-style,
    * non-negative); tf-part = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)).
    * Pure `functions._` -- stays inside whole-stage codegen.
    */
  def bm25Col(nDocs: Long, avgdl: Double,
              tf: org.apache.spark.sql.Column, df: org.apache.spark.sql.Column,
              dl: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val idf = log((lit(nDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    val tfPart = (tf * lit(K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / lit(avgdl)))
    idf * tfPart
  }

  /** SQL text of the BM25 score for the DuckDB oracle -- mirrors bm25Col
    * exactly (same operand order, same constants) so double results agree.
    */
  def bm25Sql(tf: String, df: String, dl: String, nExpr: String, avgdlExpr: String): String =
    s"ln(($nExpr - $df + 0.5) / ($df + 0.5) + 1.0) * " +
      s"($tf * ${K1 + 1.0}) / ($tf + $K1 * ((1.0 - $B) + $B * $dl / $avgdlExpr))"
}
