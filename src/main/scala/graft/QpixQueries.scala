package graft

import graft.query.{IndexExecutor, QueryParams}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The qp_* query family served from the PHYSICAL posting-block index:
  * every reference-grammar shape runs QueryParser -> Eval over an
  * IndexAtomSource (dictionary candidates -> pruned block scan -> native
  * decode -> BM25). Oracles are the SAME SQL as the logical qp_* gates --
  * a hash match proves the two paths are result-identical, i.e. the index
  * IS the engine (the corpus is never touched at query time).
  */
object QpixQueries {

  private def rd(s: SparkSession, d: String) = IndexQueries.reader(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qpix_and_prefix" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark st*", 10)),
    "qpix_phrase" -> ((s, d) => IndexExecutor.topK(rd(s, d), "batch.batch", 10)),
    "qpix_near" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark..join", 10)),
    "qpix_not" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark -join", 10)),
    "qpix_or" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark|hash", 10)),
    "qpix_fuzzy" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spak~", 10)),
    "qpix_synonym" -> ((s, d) => IndexExecutor.topK(rd(s, d), "merge^", 10)),
    "qpix_range" -> ((s, d) => IndexExecutor.topK(rd(s, d), "batch--filter", 10)),
    "qpix_completions" -> ((s, d) => IndexExecutor.completions(rd(s, d), "spark st*", 10)),
    // round 4: request surface off the blocks (same oracles as the qp_ twins)
    "qpix_hits_page" -> ((s, d) => IndexExecutor.hits(rd(s, d), "spark|hash", 3,
      QueryParams(firstHit = 3))),
    "qpix_rd_docdesc" -> ((s, d) => IndexExecutor.hits(rd(s, d), "spark", 10,
      QueryParams.withRankDocs("1d"))),
    "qpix_rw_dc" -> ((s, d) => IndexExecutor.completions(rd(s, d), "spark st*", 10,
      QueryParams.withRankWords("1"))),
    "qpix_fuzzy_damped" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spak~", 10,
      QueryParams(fuzzyDamping = 0.5))),
    "qpix_phrase_bonus" -> ((s, d) => IndexExecutor.topK(rd(s, d), "batch.batch", 10,
      QueryParams(partsAgg = QueryParams.SumWithBonus))),
    "qpix_chain3" -> ((s, d) => IndexExecutor.topK(rd(s, d), "stream.table.hash", 10)),
    "qpix_bestmatch" -> ((s, d) =>
      IndexExecutor.topK(rd(s, d), "spark stream*", 10, QueryParams(bestMatchBonus = 4.0))),
    // grammar JOIN block from the blocks: completions of s* common to
    // window-docs and hash-docs; docs of either side carrying a common
    // term, scores re-aggregated (CompleterBase.Join.cpp)
    "qpix_joinblock" -> ((s, d) =>
      IndexExecutor.topK(rd(s, d), "[window s*#hash s*]", 10)),
    // n-ary join block from the blocks (same oracle as qp_joinblock3)
    "qpix_joinblock3" -> ((s, d) =>
      IndexExecutor.topK(rd(s, d), "[window s*#hash s*#batch s*]", 10)),
    "qpix_excerpts" -> ((s, d) => IndexExecutor.excerpts(rd(s, d), "spark st*", 10,
      exact = Seq("spark"), prefixes = Seq("st"), radius = 2)),
    "qpix_excerpts_multi" -> ((s, d) => {
      val r = rd(s, d)
      val hits = IndexExecutor.topK(r, "batch", 10)
      graft.query.Excerpts.generateAll(r.docs, hits,
        exact = Seq("batch"), prefixes = Seq.empty, er = 2, en = 2)
    }),
    // score-aggregation algebra / flexi / window / complex OR, served from
    // the blocks (same oracles as the logical qp_* twins)
    "qpix_agg_maxparts" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark hash", 10,
      QueryParams(partsAgg = QueryParams.Max))),
    "qpix_agg_maxcompl" -> ((s, d) => IndexExecutor.topK(rd(s, d), "st*", 10,
      QueryParams(completionsAgg = QueryParams.Max))),
    "qpix_agg_samecompl" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark", 10,
      QueryParams(sameCompletionAgg = QueryParams.Max))),
    "qpix_agg_wordmax" -> ((s, d) => IndexExecutor.completions(rd(s, d), "spark st*", 10,
      QueryParams.withAggChars("SSSM"))),
    "qpix_agg_wordsamedoc" -> ((s, d) => IndexExecutor.completions(rd(s, d), "spark st*", 10,
      QueryParams.withAggChars("SSMS"))),
    "qpix_flexi" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark.,,.join", 10)),
    "qpix_window" -> ((s, d) => IndexExecutor.topK(rd(s, d), "spark..join", 10,
      QueryParams(window = Some((-3, 3))))),
    "qpix_or_complex" -> ((s, d) =>
      IndexExecutor.topK(rd(s, d), "spark batch--filter|data*", 10)),
    // normalization-aware matching from the blocks: the variants are
    // ordinary dictionary terms, so `stream|stream:*` is a pruned scan
    "qpix_norm" -> ((s, d) => IndexExecutor.topK(IndexQueries.normReader(s, d),
      "stream", 10, QueryParams(normalizeWords = true))),
    "qpix_norm_exact" -> ((s, d) => IndexExecutor.topK(IndexQueries.normReader(s, d),
      "stréam$", 10, QueryParams(normalizeWords = true)))
  )

  /** Identical semantics => identical oracles: reuse the qp_* SQL. */
  val oracleSql: Map[String, String] =
    QpQueries.oracleSql.map { case (k, v) => k.replaceFirst("^qp_", "qpix_") -> v } ++ Map(
      // JOIN block: sides evaluated independently; completions of s* common
      // to both; docs of either side carrying a common term re-aggregate
      // (a doc in both sides contributes from both lists, like the
      // reference's merged posting lists)
      "qpix_joinblock" ->
        s"""${Oracles.BaseCtes}, d1 AS (
           |  SELECT doc_id FROM scored WHERE term = 'window' OR term LIKE 's%'
           |  GROUP BY doc_id HAVING bool_or(term = 'window') AND bool_or(term LIKE 's%')
           |), d2 AS (
           |  SELECT doc_id FROM scored WHERE term = 'hash' OR term LIKE 's%'
           |  GROUP BY doc_id HAVING bool_or(term = 'hash') AND bool_or(term LIKE 's%')
           |), r1 AS (
           |  SELECT s.doc_id, s.term, s.score FROM scored s JOIN d1 USING (doc_id)
           |  WHERE s.term LIKE 's%'
           |), r2 AS (
           |  SELECT s.doc_id, s.term, s.score FROM scored s JOIN d2 USING (doc_id)
           |  WHERE s.term LIKE 's%'
           |), common AS (
           |  SELECT DISTINCT term FROM r1 WHERE term IN (SELECT term FROM r2)
           |), unioned AS (
           |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |)
           |SELECT doc_id, round(sum(score), 4) AS score FROM unioned
           |WHERE term IN (SELECT term FROM common)
           |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin)
}
