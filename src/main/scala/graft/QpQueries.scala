package graft

import graft.core.WebCorpus
import graft.query.{Excerpts, Executor, QueryParams}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end query-language queries: each runs a reference-grammar query
  * string through QueryParser + Executor; oracles re-derive the semantics
  * in SQL. Gates the whole parse -> plan -> score -> top-k path.
  */
object QpQueries {

  private def corpus(s: SparkSession, d: String): DataFrame = WebCorpus.fromDocuments(s, d)

  /** Diacritic fixture for the normalization gates: every literal 'stream'
    * becomes 'stréam', deterministically derived from the documents table
    * (the shipped corpora are ASCII, so this is the only non-ASCII source).
    * With normVariants indexing, each 'stréam' token is indexed alongside
    * its `stream:stréam` variant (CsvParser.cpp:120-131) and a bare query
    * `stream` finds it through the `w -> w|w:*` rewrite (Query.cpp:391-468).
    */
  def normCorpus(s: SparkSession, d: String): DataFrame =
    WebCorpus.fromDocuments(s, d).withColumn("text",
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.col("text"), "stream", "stréam"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qp_and_prefix" -> ((s, d) => Executor.topK(corpus(s, d), "spark st*", 10)),
    "qp_phrase" -> ((s, d) => Executor.topK(corpus(s, d), "batch.batch", 10)),
    "qp_near" -> ((s, d) => Executor.topK(corpus(s, d), "spark..join", 10)),
    "qp_not" -> ((s, d) => Executor.topK(corpus(s, d), "spark -join", 10)),
    "qp_or" -> ((s, d) => Executor.topK(corpus(s, d), "spark|hash", 10)),
    "qp_fuzzy" -> ((s, d) => Executor.topK(corpus(s, d), "spak~", 10)),
    "qp_synonym" -> ((s, d) => Executor.topK(corpus(s, d), "merge^", 10)),
    "qp_range" -> ((s, d) => Executor.topK(corpus(s, d), "batch--filter", 10)),
    "qp_completions" -> ((s, d) => Executor.completions(corpus(s, d), "spark st*", 10)),
    // ---- round 4: the request surface (QueryParameters.cpp:290-305) ----
    // f= pagination: hits [3, 6) of the SAME total order the un-paginated
    // query uses (one TakeOrderedAndProject of f+k rows, PLANS §11)
    "qp_hits_page" -> ((s, d) => Executor.hits(corpus(s, d), "spark|hash", 3,
      QueryParams(firstHit = 3))),
    // rd=1d: hits ranked by doc id descending
    "qp_rd_docdesc" -> ((s, d) => Executor.hits(corpus(s, d), "spark", 10,
      QueryParams.withRankDocs("1d"))),
    // rw=1: completions ranked by doc count
    "qp_rw_dc" -> ((s, d) => Executor.completions(corpus(s, d), "spark st*", 10,
      QueryParams.withRankWords("1"))),
    // fd=0.5: fuzzy-matched BM25 contributions damped by half
    "qp_fuzzy_damped" -> ((s, d) => Executor.topK(corpus(s, d), "spak~", 10,
      QueryParams(fuzzyDamping = 0.5))),
    "qp_phrase_bonus" -> ((s, d) => Executor.topK(corpus(s, d), "batch.batch", 10,
      QueryParams(partsAgg = QueryParams.SumWithBonus))),
    // 3-part windowed chain: positions must be CONTIGUOUS across all three
    // parts (gates the matched-position carry, not just pairwise windows)
    "qp_chain3" -> ((s, d) => Executor.topK(corpus(s, d), "stream.table.hash", 10)),
    // BEST_MATCH_BONUS: docs containing the EXACT word of the last prefix
    // part get +4 (CompleterBase.cpp:723-732; bonus default 0 = off)
    "qp_bestmatch" -> ((s, d) =>
      Executor.topK(corpus(s, d), "spark stream*", 10, QueryParams(bestMatchBonus = 4.0))),
    "qp_excerpts" -> ((s, d) => {
      val c = corpus(s, d)
      val hits = Executor.topK(c, "spark st*", 10)
      Excerpts.generateAll(c, hits, exact = Seq("spark"), prefixes = Seq("st"), er = 2, en = 1)
    }),
    // full-fidelity excerpts: er/en params, one window PER match (up to
    // en), every match inside a window highlighted
    "qp_excerpts_multi" -> ((s, d) => {
      val c = corpus(s, d)
      val hits = Executor.topK(c, "batch", 10)
      Excerpts.generateAll(c, hits, exact = Seq("batch"), prefixes = Seq.empty,
        er = 2, en = 2)
    }),
    // ---- the 5-knob score-aggregation algebra (ScoreAggregators.h:6-125,
    // QueryParameters.h:150-163), one gate per non-default knob ----
    // docScoreAggDifferentQueryParts = Max: parts combine with greatest
    "qp_agg_maxparts" -> ((s, d) => Executor.topK(corpus(s, d), "spark hash", 10,
      QueryParams(partsAgg = QueryParams.Max))),
    // docScoreAggDifferentCompletions = Max: best completion per doc
    "qp_agg_maxcompl" -> ((s, d) => Executor.topK(corpus(s, d), "st*", 10,
      QueryParams(completionsAgg = QueryParams.Max))),
    // docScoreAggSameCompletion = Max: one occurrence's score (BM25 at tf=1)
    "qp_agg_samecompl" -> ((s, d) => Executor.topK(corpus(s, d), "spark", 10,
      QueryParams(sameCompletionAgg = QueryParams.Max))),
    // wordScoreAggDifferentDocuments = Max (via the reference `s=` chars)
    "qp_agg_wordmax" -> ((s, d) => Executor.completions(corpus(s, d), "spark st*", 10,
      QueryParams.withAggChars("SSSM"))),
    // wordScoreAggSameDocument = Max: per-doc completion contribution at tf=1
    "qp_agg_wordsamedoc" -> ((s, d) => Executor.completions(corpus(s, d), "spark st*", 10,
      QueryParams.withAggChars("SSMS"))),
    // flexi separator `.,,.`: join EXACTLY 2 positions after spark
    // (Separator.cpp:37-105)
    "qp_flexi" -> ((s, d) => Executor.topK(corpus(s, d), "spark.,,.join", 10)),
    // per-query neighbourhood override for '..' (QueryParameters.cpp:12-13)
    "qp_window" -> ((s, d) => Executor.topK(corpus(s, d), "spark..join", 10,
      QueryParams(window = Some((-3, 3))))),
    // complex OR: a word-range alternative next to a prefix alternative;
    // data* lies INSIDE [batch, filter], so the posting-level dedup of the
    // reference's OR merge (QueryResult.cpp:316-415) is load-bearing
    "qp_or_complex" -> ((s, d) =>
      Executor.topK(corpus(s, d), "spark batch--filter|data*", 10)),
    // n-ary join block (reference folds [q1#q2#q3] pairwise,
    // CompleterBase.cpp:592-609): s* completions common to ALL three sides
    "qp_joinblock3" -> ((s, d) =>
      Executor.topK(corpus(s, d), "[window s*#hash s*#batch s*]", 10)),
    // normalization-aware matching: bare `stream` finds the `stréam` docs
    // through the indexed `stream:stréam` variants
    "qp_norm" -> ((s, d) => Executor.topK(normCorpus(s, d), "stream", 10,
      QueryParams(normalizeWords = true))),
    // diacritic exact word: `stréam$` looks up ONLY the norm:lower variant
    "qp_norm_exact" -> ((s, d) => Executor.topK(normCorpus(s, d), "stréam$", 10,
      QueryParams(normalizeWords = true)))
  )

  /** BM25 at tf=1 (the `score1` column) for the Max occurrence-level
    * aggregations -- same formula text as the Spark side.
    */
  private val Bm25One: String =
    graft.core.Analysis.bm25Sql("1", "dfs.df", "dls.dl", "st.n", "st.avgdl")

  /** Tokenization + BM25 CTEs over the normCorpus fixture, INCLUDING the
    * normalized-variant words: vtoks adds `replace(t,'é','e') || ':' || t`
    * at the same position for every diacritic token (the only diacritic in
    * the fixture is the injected 'é', and utf8.map normalizes é -> e, so
    * the SQL replace mirrors Tokenizer.normalize exactly here). dl keeps
    * counting REAL tokens only.
    */
  private val NormCtes: String = {
    val txt = "replace(text, 'stream', 'stréam')"
    s"""WITH raw AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(lower($txt), '${Oracles.SepClass}')) AS term,
       |         generate_subscripts(regexp_split_to_array(lower($txt), '${Oracles.SepClass}'), 1) AS ord
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, term,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS BIGINT) AS pos
       |  FROM raw WHERE term <> ''
       |), vtoks AS (
       |  SELECT doc_id, term, pos FROM toks
       |  UNION ALL
       |  SELECT doc_id, replace(term, 'é', 'e') || ':' || term AS term, pos
       |  FROM toks WHERE replace(term, 'é', 'e') <> term
       |), dt AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM vtoks GROUP BY 1, 2
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
       |         ${graft.core.Analysis.bm25Sql("dt.tf", "dfs.df", "dls.dl", "st.n", "st.avgdl")} AS score
       |  FROM dt JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN st
       |)""".stripMargin
  }

  private def andPrefixHits(extra: String): String =
    s"""SELECT doc_id, round(sum(score), 4) AS score
       |FROM scored WHERE term = 'spark' OR term LIKE 'st%'
       |GROUP BY doc_id
       |HAVING bool_or(term = 'spark') AND bool_or(term LIKE 'st%')
       |$extra""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "qp_and_prefix" ->
      s"""${Oracles.BaseCtes}
         |${andPrefixHits("ORDER BY score DESC, doc_id ASC LIMIT 10")}""".stripMargin,
    "qp_phrase" ->
      s"""${Oracles.BaseCtes}, adj AS (
         |  SELECT DISTINCT a.doc_id FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND a.term = 'batch' AND b.term = 'batch'
         |  AND b.pos - a.pos = 1
         |)
         |SELECT s.doc_id, round(2 * sum(s.score), 4) AS score
         |FROM scored s JOIN adj USING (doc_id) WHERE s.term = 'batch'
         |GROUP BY s.doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_phrase_bonus" ->
      s"""${Oracles.BaseCtes}, adj AS (
         |  SELECT DISTINCT a.doc_id FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND a.term = 'batch' AND b.term = 'batch'
         |  AND b.pos - a.pos = 1
         |)
         |SELECT s.doc_id, round(2 * sum(s.score) + 16.0, 4) AS score
         |FROM scored s JOIN adj USING (doc_id) WHERE s.term = 'batch'
         |GROUP BY s.doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_bestmatch" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(sum(score) +
         |         CASE WHEN bool_or(term = 'stream') THEN 4.0 ELSE 0.0 END, 4) AS score
         |FROM scored WHERE term = 'spark' OR term LIKE 'stream%'
         |GROUP BY doc_id
         |HAVING bool_or(term = 'spark') AND bool_or(term LIKE 'stream%')
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_chain3" ->
      s"""${Oracles.BaseCtes}, chain AS (
         |  SELECT DISTINCT a.doc_id FROM toks a
         |  JOIN toks b ON a.doc_id = b.doc_id AND b.pos - a.pos = 1
         |  JOIN toks c ON b.doc_id = c.doc_id AND c.pos - b.pos = 1
         |  WHERE a.term = 'stream' AND b.term = 'table' AND c.term = 'hash'
         |)
         |SELECT s.doc_id, round(sum(s.score), 4) AS score
         |FROM scored s JOIN chain USING (doc_id)
         |WHERE s.term IN ('stream', 'table', 'hash')
         |GROUP BY s.doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_near" ->
      s"""${Oracles.BaseCtes}, nearby AS (
         |  SELECT DISTINCT a.doc_id FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND a.term = 'spark' AND b.term = 'join'
         |  AND b.pos - a.pos BETWEEN -10 AND 10
         |)
         |SELECT s.doc_id, round(sum(s.score), 4) AS score
         |FROM scored s JOIN nearby USING (doc_id) WHERE s.term IN ('spark', 'join')
         |GROUP BY s.doc_id HAVING count(*) = 2
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_not" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term = 'spark'
         |  AND doc_id NOT IN (SELECT doc_id FROM dt WHERE term = 'join')
         |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_or" -> Oracles.topDocs("term IN ('spark', 'hash')"),
    "qp_fuzzy" -> Oracles.topDocs("levenshtein(term, 'spak') <= 1"),
    // round 4 request-surface gates
    "qp_hits_page" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term IN ('spark', 'hash') GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 3 OFFSET 3""".stripMargin,
    "qp_rd_docdesc" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term = 'spark' GROUP BY doc_id
         |ORDER BY doc_id DESC LIMIT 10""".stripMargin,
    "qp_fuzzy_damped" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(sum(score) * 0.5, 4) AS score
         |FROM scored WHERE levenshtein(term, 'spak') <= 1 GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_synonym" -> Oracles.topDocs(
      "term IN (" + Executor.synonymsOf("merge").toSeq.sorted.map(t => s"'$t'").mkString(", ") + ")"),
    "qp_range" -> Oracles.topDocs("term >= 'batch' AND term <= 'filter'"),
    "qp_completions" ->
      s"""${Oracles.BaseCtes}, hits AS (
         |${andPrefixHits("")}
         |)
         |SELECT s.term, round(sum(s.score), 4) AS score,
         |       CAST(count(*) AS BIGINT) AS dc, CAST(sum(s.tf) AS BIGINT) AS oc
         |FROM scored s JOIN hits USING (doc_id) WHERE s.term LIKE 'st%'
         |GROUP BY s.term ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,
    // rw=1: same completions relation, ranked by doc count
    "qp_rw_dc" ->
      s"""${Oracles.BaseCtes}, hits AS (
         |${andPrefixHits("")}
         |)
         |SELECT s.term, round(sum(s.score), 4) AS score,
         |       CAST(count(*) AS BIGINT) AS dc, CAST(sum(s.tf) AS BIGINT) AS oc
         |FROM scored s JOIN hits USING (doc_id) WHERE s.term LIKE 'st%'
         |GROUP BY s.term ORDER BY dc DESC, term ASC LIMIT 10""".stripMargin,
    "qp_excerpts_multi" ->
      s"""${Oracles.BaseCtes}, doc_toks AS (
         |  SELECT doc_id, list(term ORDER BY pos) AS toks FROM toks GROUP BY 1
         |), hits AS (
         |  SELECT doc_id, round(sum(score), 4) AS score FROM scored
         |  WHERE term = 'batch' GROUP BY doc_id
         |  ORDER BY score DESC, doc_id ASC LIMIT 10
         |), anchors AS (
         |  SELECT doc_id, pos,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
         |  FROM toks WHERE term = 'batch'
         |    AND doc_id IN (SELECT doc_id FROM hits)
         |), wins AS (
         |  SELECT a.doc_id, a.pos,
         |    array_to_string(list_transform(
         |      dt.toks[greatest(a.pos - 1, 1) : a.pos + 3],
         |      t -> CASE WHEN t = 'batch' THEN '<hl>' || t || '</hl>' ELSE t END), ' ') AS w
         |  FROM anchors a JOIN doc_toks dt USING (doc_id) WHERE a.rk <= 2
         |)
         |SELECT doc_id, string_agg(w, ' ... ' ORDER BY pos) AS excerpt
         |FROM wins GROUP BY doc_id""".stripMargin,
    "qp_agg_maxparts" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(greatest(
         |         sum(CASE WHEN term = 'spark' THEN score END),
         |         sum(CASE WHEN term = 'hash' THEN score END)), 4) AS score
         |FROM scored WHERE term IN ('spark', 'hash')
         |GROUP BY doc_id
         |HAVING bool_or(term = 'spark') AND bool_or(term = 'hash')
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_agg_maxcompl" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(max(score), 4) AS score
         |FROM scored WHERE term LIKE 'st%' GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_agg_samecompl" ->
      s"""${Oracles.BaseCtes}
         |SELECT dt.doc_id, round(sum($Bm25One), 4) AS score
         |FROM dt JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN st
         |WHERE dt.term = 'spark'
         |GROUP BY dt.doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_agg_wordmax" ->
      s"""${Oracles.BaseCtes}, hits AS (
         |${andPrefixHits("")}
         |)
         |SELECT s.term, round(max(s.score), 4) AS score,
         |       CAST(count(*) AS BIGINT) AS dc, CAST(sum(s.tf) AS BIGINT) AS oc
         |FROM scored s JOIN hits USING (doc_id) WHERE s.term LIKE 'st%'
         |GROUP BY s.term ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,
    "qp_agg_wordsamedoc" ->
      s"""${Oracles.BaseCtes}, hits AS (
         |${andPrefixHits("")}
         |)
         |SELECT dt.term, round(sum($Bm25One), 4) AS score,
         |       CAST(count(*) AS BIGINT) AS dc, CAST(sum(dt.tf) AS BIGINT) AS oc
         |FROM dt JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN st
         |WHERE dt.term LIKE 'st%' AND dt.doc_id IN (SELECT doc_id FROM hits)
         |GROUP BY dt.term ORDER BY score DESC, term ASC LIMIT 10""".stripMargin,
    "qp_flexi" ->
      s"""${Oracles.BaseCtes}, atpos AS (
         |  SELECT DISTINCT a.doc_id FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND a.term = 'spark' AND b.term = 'join'
         |  AND b.pos - a.pos = 2
         |)
         |SELECT s.doc_id, round(sum(s.score), 4) AS score
         |FROM scored s JOIN atpos USING (doc_id) WHERE s.term IN ('spark', 'join')
         |GROUP BY s.doc_id HAVING count(*) = 2
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_window" ->
      s"""${Oracles.BaseCtes}, nearby AS (
         |  SELECT DISTINCT a.doc_id FROM toks a JOIN toks b
         |  ON a.doc_id = b.doc_id AND a.term = 'spark' AND b.term = 'join'
         |  AND b.pos - a.pos BETWEEN -3 AND 3
         |)
         |SELECT s.doc_id, round(sum(s.score), 4) AS score
         |FROM scored s JOIN nearby USING (doc_id) WHERE s.term IN ('spark', 'join')
         |GROUP BY s.doc_id HAVING count(*) = 2
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_or_complex" ->
      s"""${Oracles.BaseCtes}
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored
         |WHERE term = 'spark' OR (term >= 'batch' AND term <= 'filter')
         |   OR term LIKE 'data%'
         |GROUP BY doc_id
         |HAVING bool_or(term = 'spark')
         |   AND bool_or((term >= 'batch' AND term <= 'filter') OR term LIKE 'data%')
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_joinblock3" ->
      s"""${Oracles.BaseCtes}, d1 AS (
         |  SELECT doc_id FROM scored WHERE term = 'window' OR term LIKE 's%'
         |  GROUP BY doc_id HAVING bool_or(term = 'window') AND bool_or(term LIKE 's%')
         |), d2 AS (
         |  SELECT doc_id FROM scored WHERE term = 'hash' OR term LIKE 's%'
         |  GROUP BY doc_id HAVING bool_or(term = 'hash') AND bool_or(term LIKE 's%')
         |), d3 AS (
         |  SELECT doc_id FROM scored WHERE term = 'batch' OR term LIKE 's%'
         |  GROUP BY doc_id HAVING bool_or(term = 'batch') AND bool_or(term LIKE 's%')
         |), r1 AS (
         |  SELECT s.doc_id, s.term, s.score FROM scored s JOIN d1 USING (doc_id)
         |  WHERE s.term LIKE 's%'
         |), r2 AS (
         |  SELECT s.doc_id, s.term, s.score FROM scored s JOIN d2 USING (doc_id)
         |  WHERE s.term LIKE 's%'
         |), r3 AS (
         |  SELECT s.doc_id, s.term, s.score FROM scored s JOIN d3 USING (doc_id)
         |  WHERE s.term LIKE 's%'
         |), common AS (
         |  SELECT DISTINCT term FROM r1
         |  WHERE term IN (SELECT term FROM r2) AND term IN (SELECT term FROM r3)
         |), unioned AS (
         |  SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
         |)
         |SELECT doc_id, round(sum(score), 4) AS score FROM unioned
         |WHERE term IN (SELECT term FROM common)
         |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_norm" ->
      s"""$NormCtes
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term = 'stream' OR term LIKE 'stream:%'
         |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_norm_exact" ->
      s"""$NormCtes
         |SELECT doc_id, round(sum(score), 4) AS score
         |FROM scored WHERE term = 'stream:stréam'
         |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "qp_excerpts" ->
      s"""${Oracles.BaseCtes}, doc_toks AS (
         |  SELECT doc_id, list(term ORDER BY pos) AS toks FROM toks GROUP BY 1
         |), hits AS (
         |${andPrefixHits("ORDER BY score DESC, doc_id ASC LIMIT 10")}
         |), firstm AS (
         |  SELECT doc_id, min(pos) AS m FROM toks
         |  WHERE term = 'spark' OR term LIKE 'st%' GROUP BY 1
         |)
         |SELECT h.doc_id,
         |  array_to_string(list_transform(
         |    dt.toks[greatest(f.m - 1, 1) : f.m + 3],
         |    t -> CASE WHEN t = 'spark' OR starts_with(t, 'st')
         |              THEN '<hl>' || t || '</hl>' ELSE t END), ' ') AS excerpt
         |FROM hits h JOIN doc_toks dt USING (doc_id) JOIN firstm f USING (doc_id)""".stripMargin
  )
}
