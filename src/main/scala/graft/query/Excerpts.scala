package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Excerpt/snippet generation (reference: ExcerptsGenerator.cpp:341-1198 --
  * fetch hit docs, re-find query words incl. prefixes, windows of +-er
  * words around matches, up to en excerpts per doc, <hl> highlighting,
  * multi-part `^` words matched per part). Pure Catalyst array functions
  * over the doc text -- the top-k doc set is tiny, the work is one
  * broadcast semi-join plus per-row array ops.
  */
object Excerpts {

  /** The tokenizer separator set MINUS '^': multi-part artificial words
    * (e.g. `beethoven^ludwig`, ExcerptsGenerator's part highlighting) must
    * stay whole in the display tokens. This deliberately diverges from the
    * INDEX tokenization (which splits on '^') -- reference behavior: the
    * excerpts generator shows multi-part words joined while the index
    * stores the parts. Display-only; never feeds the posting relation.
    *
    * GATE NOTE: the qp/qpix_excerpts DuckDB oracles tokenize with the INDEX
    * rules (split on '^'), so on a corpus containing literal '^' the gates
    * would diverge from this display tokenizer BY DESIGN. The shipped
    * testdata corpora contain no '^' (verified in ExcerptsSpec), so the
    * gates are exact there; '^'-bearing text is covered by specs instead.
    */
  private[query] val SepRegexStr = "[!\"#$%&'()*+,\\-./@\\[\\\\\\]{|}~:;<=>? ]+"
  private val SepRegex = SepRegexStr

  /** Token matches if ANY of its ^-separated parts matches a query word
    * (exact or prefix) -- reference: multi-part words are highlighted when
    * one part matches.
    */
  private def matchPred(t: Column, exact: Seq[String], prefixes: Seq[String]): Column = {
    def partPred(p: Column): Column = {
      val es = exact.map(w => p === w)
      val ps = prefixes.map(x => p.startsWith(x))
      (es ++ ps).reduceOption(_ || _).getOrElse(lit(false))
    }
    exists(split(t, "\\^"), partPred)
  }

  private def toksCol: Column =
    filter(split(lower(col("text")), SepRegex), t => t =!= "")

  /** Excerpts of the docs in `hits` (must have doc_id), reference
    * parameters `er` = window radius and `en` = max excerpts per doc
    * (Globals.h / ExcerptsGenerator): one window `[max(m - er, 0), m + er]`
    * per match position m, up to `en` of them (in document order), EVERY
    * matching token inside each window wrapped in <hl>, windows joined
    * with " ... ". Output: (doc_id, excerpt); a doc with no match (not a
    * real hit) gets "". `en = 1` is the single window around the first
    * match.
    */
  def generateAll(corpus: DataFrame, hits: DataFrame,
                  exact: Seq[String], prefixes: Seq[String],
                  er: Int = 2, en: Int = 3): DataFrame = {
    val toks = toksCol
    def hl(t: Column): Column =
      when(matchPred(t, exact, prefixes), concat(lit("<hl>"), t, lit("</hl>"))).otherwise(t)
    // 0-based positions of ALL matches, in order; anchors = first `en`
    val matchIdx = filter(
      transform(toks, (t, i) => when(matchPred(t, exact, prefixes), i).otherwise(lit(-1))),
      i => i >= 0)
    val anchors = slice(matchIdx, 1, en)
    val windows = transform(anchors, m => {
      val start0 = greatest(m - er, lit(0))
      array_join(transform(slice(toks, start0 + 1, m + er - start0 + 1), hl(_)), " ")
    })
    corpus
      .join(hits.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_join(windows, " ... ").as("excerpt"))
  }
}
