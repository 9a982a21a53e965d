package graft

import graft.core.{Analysis, WebCorpus}
import graft.query.{AtomSource, CorpusAtomSource, Eval, QueryParams}
import graft.query.QueryParser.{Atom, Word}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text operator queries (SURVEY.md §2.3) over the documents table,
  * each paired with DuckDB oracle SQL in [[Oracles]]. Column names, types
  * (BIGINT/DOUBLE), rounding (4 dp) and row sets match the oracle exactly;
  * ordering is made total (score desc, id asc) so LIMIT k is deterministic
  * in both engines.
  */
object FtQueries {

  def corpus(spark: SparkSession, sfDir: String): DataFrame =
    WebCorpus.fromDocuments(spark, sfDir)

  /** term -> total occurrences across the corpus. */
  def termCounts(spark: SparkSession, sfDir: String): DataFrame =
    Analysis.postings(corpus(spark, sfDir))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** Dense lexicographic term dictionary with df/cf (Vocabulary analog). */
  def dictionary(spark: SparkSession, sfDir: String): DataFrame =
    Analysis.dictionary(Analysis.docTermsCached(corpus(spark, sfDir)))

  /** The full posting relation (words-file shape). */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    Analysis.postings(corpus(spark, sfDir))
      .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))

  /** Corpus stats (MetaInfo analog). */
  def stats(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Analysis.statsCached(corpus(spark, sfDir))
    val spark2 = spark
    import spark2.implicits._
    val avgdl6 = BigDecimal(st.avgdl)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((st.n_docs, st.n_postings, avgdl6)).toDF("n_docs", "n_postings", "avgdl")
  }

  /** The corpus as an atom source, for the gates below to evaluate over.
    * Not the history-backed source [[graft.query.Executor]] uses: a gate
    * runs once, and the history's eager size job would only add to it.
    */
  private def atoms(spark: SparkSession, sfDir: String): AtomSource =
    new CorpusAtomSource(corpus(spark, sfDir))

  def bm25Single(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "spark", 10, QueryParams.Default)

  def bm25And(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "spark join", 10, QueryParams.Default)

  def bm25Or(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "spark|hash", 10, QueryParams.Default)

  def bm25Not(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "spark -join", 10, QueryParams.Default)

  def prefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "st*", 10, QueryParams.Default)

  def completions(spark: SparkSession, sfDir: String): DataFrame =
    Eval.completions(atoms(spark, sfDir), "s*", 10, QueryParams.Default)

  def phrase(spark: SparkSession, sfDir: String): DataFrame =
    Eval.windowMatchCounts(atoms(spark, sfDir), "batch", "batch", 1, 1)

  def proximity(spark: SparkSession, sfDir: String): DataFrame =
    Eval.windowMatchCounts(atoms(spark, sfDir), "spark", "join", -10, 10)

  def wordRange(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "batch--filter", 10, QueryParams.Default)

  def joinBlock(spark: SparkSession, sfDir: String): DataFrame =
    Eval.joinBlockTerms(atoms(spark, sfDir), "[window s*#hash s*]")

  /** OUTPUT_ALL mode (reference: Separator.h:33-47, Intersect.cpp:244-292):
    * keep ALL docs matching the current part (here `st*`), carrying the
    * summed score of the prior part (`spark`) where the doc matched it --
    * a left join with coalesced scores. The grammar has no form for it
    * (a part separator always intersects), so it composes atom relations.
    */
  def outputAll(spark: SparkSession, sfDir: String): DataFrame = {
    val src = atoms(spark, sfDir)
    def docScores(atom: Atom, name: String): DataFrame =
      src.atomScoredCached(atom).groupBy(col("doc_id")).agg(sum(col("score")).as(name))
    docScores(Word("st", prefix = true), "s2")
      .join(docScores(Word("spark"), "s1"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        round(col("s2") + coalesce(col("s1"), lit(0.0)), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  def bm25ByDoc(spark: SparkSession, sfDir: String): DataFrame =
    Eval.hits(atoms(spark, sfDir), "spark", 10, QueryParams(rankDocs = "doc"))

  def bm25OrMax(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(atoms(spark, sfDir), "spark|hash", 10,
      QueryParams(completionsAgg = QueryParams.Max))

  def completionsByDc(spark: SparkSession, sfDir: String): DataFrame =
    Eval.completions(atoms(spark, sfDir), "s*", 10, QueryParams(rankWords = "dc"))

  def facetCounts(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Facets.facetCounts(corpus(spark, sfDir), "lang")

  /** `:ordering:` word-range query (CsvParser.cpp:383-501): docs whose
    * zero-padded n_chars ordering key falls in a lexicographic range.
    */
  def orderingRange(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.core.Facets.orderingRangeDocs(docs, "len",
        lpad(col("n_chars").cast("string"), 6, "0"), "000100", "000200")
      .orderBy(col("okey"), col("doc_id"))
  }

  def facetCountsFiltered(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Facets.facetCountsFiltered(corpus(spark, sfDir)
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source")), "doc_id"),
      "source", "spark")

  /** Field-weighted ranking: source acts as the title field (bonus 64,
    * TITLE_MATCH_BONUS), text as the body; a title hit outranks an
    * otherwise-equal body hit.
    */
  def fieldWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
    val fielded = docs.select(col("doc_id"),
      concat_ws(" ", col("source"), col("text")).as("text"))
    // the title's `:field:source:<token>` words, tokenized from the title
    // alone -- the rows the fielded index carries in its blocks
    val titleDocs = graft.core.Facets.fieldRows(docs, "source", col("source"))
      .filter(col("term") === ":field:source:spark").select(col("doc_id"))
    withFieldBonus(new CorpusAtomSource(fielded).atomScored(Word("spark")),
      titleDocs, 64.0)
  }

  /** Field-weighted top-10 (reference: TITLE_MATCH_BONUS,
    * ScoreAggregators.h:6 / Globals.h:266-301): a term's per-doc summed
    * BM25 over the fielded text, plus `bonus` once for each doc in
    * `bonusDocs` (the docs whose bonus field carries the term), so a title
    * hit outranks an otherwise-equal body hit by exactly the bonus. Shared
    * by fw_title (corpus) and fwix_title (blocks).
    */
  private[graft] def withFieldBonus(scored: DataFrame, bonusDocs: DataFrame,
                                    bonus: Double): DataFrame =
    scored.groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
      .join(bonusDocs.distinct().withColumn("fbonus", lit(bonus)),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        round(col("score") + coalesce(col("fbonus"), lit(0.0)), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
}

/** DuckDB oracle SQL mirroring each FtQueries entry. Shared CTE `toks`
  * replicates graft.core.Tokenizer for ASCII input; BM25 text comes from
  * Analysis.bm25Sql so both engines evaluate the identical expression.
  */
object Oracles {

  /** RE2/Java-regex class for the reference separator set, as a SQL string
    * literal body (single quotes doubled).
    */
  val SepClass: String = """[!"#$%&''()*+,\-./@\[\\\]^{|}~:;<=>? ]"""

  /** Tokenization + per-doc/per-term stats CTEs over `documents`, with the
    * corpus text given as a SQL expression (plain `text`, or a field
    * concatenation for fielded corpora).
    */
  def baseCtesOver(textExpr: String): String =
    s"""WITH raw AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(lower($textExpr), '$SepClass')) AS term,
       |         generate_subscripts(regexp_split_to_array(lower($textExpr), '$SepClass'), 1) AS ord
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, term,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS BIGINT) AS pos
       |  FROM raw WHERE term <> ''
       |), dt AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
       |), dls AS (
       |  SELECT d.doc_id, CAST(COALESCE(t.c, 0) AS BIGINT) AS dl
       |  FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS c FROM toks GROUP BY 1) t USING (doc_id)
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dls
       |), dfs AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1
       |), scored AS (
       |  SELECT dt.doc_id, dt.term, dt.tf,
       |         ${Analysis.bm25Sql("dt.tf", "dfs.df", "dls.dl", "st.n", "st.avgdl")} AS score
       |  FROM dt JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN st
       |)""".stripMargin

  val BaseCtes: String = baseCtesOver("text")

  /** Field-weighted ranking over the fielded corpus (source = title with
    * bonus 64, text = body): BM25 over the concatenation, +64 when the
    * title itself carries the term. Shared by the logical and block-index
    * gates.
    */
  val fieldWeightedSql: String =
    s"""${baseCtesOver("source || ' ' || text")}, title AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id,
       |           unnest(regexp_split_to_array(lower(source), '$SepClass')) AS t
       |    FROM documents) WHERE t = 'spark'
       |)
       |SELECT s.doc_id, round(sum(s.score) +
       |         CASE WHEN s.doc_id IN (SELECT doc_id FROM title)
       |              THEN 64.0 ELSE 0.0 END, 4) AS score
       |FROM scored s WHERE s.term = 'spark'
       |GROUP BY s.doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  /** The `st*` prefix top-10 with parquet doc ids mapped to 1-based
    * positions in doc_id order — the id space both file-ingest paths
    * (XML parse positions, CSV line numbers) assign. Shared by the
    * `xmlix_prefix_docs` and `csvix_prefix_docs` gates.
    */
  val positionalPrefixSql: String =
    s"""$BaseCtes,
       |xmap AS (SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS xml_id
       |  FROM documents)
       |SELECT m.xml_id AS doc_id, round(sum(score), 4) AS score
       |FROM scored s JOIN xmap m USING (doc_id) WHERE term LIKE 'st%'
       |GROUP BY 1 ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  def topDocs(where: String, group: String = ""): String =
    s"""$BaseCtes
       |SELECT doc_id, round(sum(score), 4) AS score
       |FROM scored WHERE $where GROUP BY doc_id $group
       |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  val all: Map[String, String] = Map(
    "ft_termcounts" ->
      s"$BaseCtes SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term",
    "ft_dictionary" ->
      s"""$BaseCtes
         |SELECT CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id,
         |       term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |FROM dt GROUP BY term""".stripMargin,
    "ft_postings" ->
      s"$BaseCtes SELECT doc_id, term, pos FROM toks",
    "ft_stats" ->
      s"""$BaseCtes
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         |       (SELECT CAST(count(*) AS BIGINT) FROM toks) AS n_postings,
         |       round((SELECT avgdl FROM st), 6) AS avgdl""".stripMargin,
    "ft_bm25_single" -> topDocs("term = 'spark'"),
    "ft_bm25_and" ->
      s"""$BaseCtes
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term IN ('spark', 'join')
         |GROUP BY doc_id HAVING count(*) = 2
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_bm25_or" -> topDocs("term IN ('spark', 'hash')"),
    "ft_bm25_not" ->
      s"""$BaseCtes
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term = 'spark'
         |  AND doc_id NOT IN (SELECT doc_id FROM dt WHERE term = 'join')
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_prefix_docs" -> topDocs("term LIKE 'st%'"),
    "ft_completions" ->
      s"""$BaseCtes
         |SELECT term, round(sum(score), 4) AS score,
         |       CAST(count(*) AS BIGINT) AS dc, CAST(sum(tf) AS BIGINT) AS oc
         |FROM scored WHERE term LIKE 's%'
         |GROUP BY term ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,
    "ft_phrase" ->
      s"""$BaseCtes
         |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
         |FROM toks a JOIN toks b ON a.doc_id = b.doc_id
         |WHERE a.term = 'batch' AND b.term = 'batch' AND b.pos - a.pos = 1
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "ft_proximity" ->
      s"""$BaseCtes
         |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
         |FROM toks a JOIN toks b ON a.doc_id = b.doc_id
         |WHERE a.term = 'spark' AND b.term = 'join' AND b.pos - a.pos BETWEEN -10 AND 10
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "ft_wordrange" -> topDocs("term >= 'batch' AND term <= 'filter'"),
    "ft_output_all" ->
      s"""$BaseCtes, prior AS (
         |  SELECT doc_id, sum(score) AS s1 FROM scored WHERE term = 'spark' GROUP BY 1
         |), cur AS (
         |  SELECT doc_id, sum(score) AS s2 FROM scored WHERE term LIKE 'st%' GROUP BY 1
         |)
         |SELECT c.doc_id, round(c.s2 + COALESCE(p.s1, 0.0), 4) AS score
         |FROM cur c LEFT JOIN prior p USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_bm25_bydoc" ->
      s"""$BaseCtes
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term = 'spark' GROUP BY doc_id
         |ORDER BY doc_id ASC LIMIT 10""".stripMargin,
    "ft_or_max" ->
      s"""$BaseCtes
         |SELECT doc_id, round(max(score), 4) AS score
         |FROM scored WHERE term IN ('spark', 'hash') GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "ft_completions_dc" ->
      s"""$BaseCtes
         |SELECT term, round(sum(score), 4) AS score,
         |       CAST(count(*) AS BIGINT) AS dc, CAST(sum(tf) AS BIGINT) AS oc
         |FROM scored WHERE term LIKE 's%'
         |GROUP BY term ORDER BY dc DESC, term ASC LIMIT 10""".stripMargin,
    "fc_counts" ->
      """SELECT lang AS value, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY n_docs DESC, value ASC""".stripMargin,
    "fc_ordering" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       lpad(CAST(n_chars AS VARCHAR), 6, '0') AS okey
        |FROM documents
        |WHERE lpad(CAST(n_chars AS VARCHAR), 6, '0') BETWEEN '000100' AND '000200'
        |ORDER BY okey, doc_id""".stripMargin,
    "fc_filtered" ->
      s"""$BaseCtes
         |SELECT d.source AS value, CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM dt WHERE term = 'spark')
         |GROUP BY 1 ORDER BY n_docs DESC, value ASC""".stripMargin,
    "ft_joinblock" ->
      s"""$BaseCtes
         |SELECT DISTINCT t.term FROM dt t
         |WHERE t.term LIKE 's%'
         |  AND t.doc_id IN (SELECT doc_id FROM dt WHERE term = 'window')
         |  AND t.term IN (
         |    SELECT DISTINCT t2.term FROM dt t2
         |    WHERE t2.term LIKE 's%'
         |      AND t2.doc_id IN (SELECT doc_id FROM dt WHERE term = 'hash'))
         |ORDER BY term""".stripMargin
  )
}
