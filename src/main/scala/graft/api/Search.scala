package graft.api

import graft.query.{Excerpts, Executor, QueryParser}
import org.apache.spark.sql.{DataFrame, Row}

/** One hit; url comes from the docs store / a corpus `url` column when
  * present (reference: hits carry title+url from docs.DB,
  * CompletionServer.cpp:1556-1563), else "".
  */
case class Hit(id: Long, score: Double, excerpt: String, url: String = "")
case class Completion(text: String, score: Double, dc: Long, oc: Long)
case class SearchResult(query: String, hits: Seq[Hit], completions: Seq[Completion]) {

  /** Reference-shaped JSON (CompletionServer.cpp:1597-1711):
    * completions with sc/dc/oc, hits with score/id/excerpt.
    */
  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val cs = completions.map(c =>
      s"""{"text":"${esc(c.text)}","sc":${c.score},"dc":${c.dc},"oc":${c.oc}}""").mkString(",")
    val hs = hits.map(h =>
      s"""{"id":${h.id},"score":${h.score},"url":"${esc(h.url)}",""" +
        s""""excerpt":"${esc(h.excerpt)}"}""").mkString(",")
    s"""{"result":{"query":"${esc(query)}",""" +
      s""""completions":{"sent":${completions.size},"c":[$cs]},""" +
      s""""hits":{"sent":${hits.size},"hit":[$hs]}}}"""
  }

  /** Reference-shaped XML -- the reference's DEFAULT wire format
    * (CompletionServer.cpp:1468-1594): `<result>` with `<query>`,
    * `<status>`, `<completions sent=..>` of `<c sc dc oc>` elements and
    * `<hits sent=.. first=..>` of `<hit score id>` elements carrying
    * `<url>` (from the docs store) and `<excerpt>`s. Elements we cannot
    * fill (`<info>` needs a hit title source; per-query log ids and
    * timings live in the server) are omitted rather than faked.
    */
  def toXml(firstHit: Int = 0): String = {
    def esc(s: String) = s.flatMap {
      case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
      case '"' => "&quot;"; case c => c.toString
    }
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\r\n<result>\r\n"
    sb ++= s"<query>${esc(query)}</query>\r\n"
    sb ++= "<status code=\"200\">OK</status>\r\n"
    sb ++= s"""<completions sent="${completions.size}">\r\n"""
    completions.foreach { c =>
      sb ++= s"""<c sc="${c.score}" dc="${c.dc}" oc="${c.oc}">${esc(c.text)}</c>\r\n"""
    }
    sb ++= "</completions>\r\n"
    sb ++= s"""<hits sent="${hits.size}" first="$firstHit">\r\n"""
    hits.foreach { h =>
      sb ++= s"""<hit score="${h.score}" id="${h.id}">\r\n"""
      if (h.url.nonEmpty) sb ++= s"<url>${esc(h.url)}</url>\r\n"
      if (h.excerpt.nonEmpty) sb ++= s"<excerpt>${esc(h.excerpt)}</excerpt>\r\n"
      sb ++= "</hit>\r\n"
    }
    sb ++= "</hits>\r\n</result>\r\n"
    sb.toString
  }
}

/** User-facing search facade: one call = parse -> evaluate -> top-k hits +
  * completions + excerpts (the reference's HTTP handler semantics,
  * minus HTTP). `search` runs the logical path over a corpus; `searchIndex`
  * the physical path over a built index + docs store.
  */
object Search {

  /** Logical-path search. The full request surface rides in `params`:
    * `firstHit` paginates the hit window, `rankDocs`/`rankWords` pick the
    * orderings, `excerptsPerHit` the excerpt count (reference `f=`, `rd=`,
    * `rw=`, `en=`; QueryParameters.cpp:290-305).
    */
  def search(corpus: DataFrame, query: String, k: Int = 10,
             completionsK: Int = 10, excerptRadius: Int = 2,
             params: graft.query.QueryParams = graft.query.QueryParams.Default): SearchResult = {
    val hits = Executor.hits(corpus, query, k, params).collect().toSeq
    lazy val hitsDf = localRelation(corpus.sparkSession, hits)
    assemble(query, hits,
      Executor.completions(corpus, query, completionsK, params).collect().toSeq,
      (exact, prefixes) => pairs(Excerpts.generateAll(corpus, hitsDf, exact, prefixes,
        excerptRadius, params.excerptsPerHit)),
      if (corpus.columns.contains("url")) urlsOf(corpus, hitsDf) else Map.empty)
  }

  /** Physical-path variant: hits/completions from the block index, excerpt
    * text from its docs store; the corpus is never read. With `cache`, a
    * serving session's atoms resolve through that explicit history;
    * without one they route through the process default
    * ([[graft.query.QueryHistory.default]]) -- prefix extensions filter
    * cached relations instead of re-scanning blocks either way.
    */
  def searchIndex(reader: graft.index.IndexReader, query: String, k: Int = 10,
                  completionsK: Int = 10, excerptRadius: Int = 2,
                  cache: Option[graft.query.IndexQueryCache] = None,
                  params: graft.query.QueryParams = graft.query.QueryParams.Default): SearchResult =
    // borrow scope: every history relation handed to this request stays
    // eviction-guarded until assemble() has fully materialized the
    // result -- a concurrent request's oversized insert (or our own)
    // cannot unpersist a relation mid-collect (IndexQueryCache.borrow)
    cache.getOrElse(graft.query.QueryHistory.default).borrow {
      searchIndexInner(reader, query, k, completionsK, excerptRadius, cache, params)
    }

  private def searchIndexInner(reader: graft.index.IndexReader, query: String, k: Int,
                  completionsK: Int, excerptRadius: Int,
                  cache: Option[graft.query.IndexQueryCache],
                  params: graft.query.QueryParams): SearchResult = {
    import graft.query.{IndexExecutor, LocalServe}
    // driver rows through the serving seam: the driver-resident grammar
    // path's page as held (zero Spark jobs and zero Dataset actions warm),
    // the distributed plan collected once past its guards
    val hits = IndexExecutor.serveHitRows(reader, query, k, params, cache)
    // stays by-name through assemble: completions (and the distributed
    // plan's candidate round-trips) only run when the last part is a prefix
    def compl = IndexExecutor.serveCompletionRows(
      reader, query, completionsK, params, cache)
    // no docs store built next to this index -> hits without excerpts or
    // urls (the reference server likewise needs docs.DB for excerpts);
    // otherwise both come from one driver docs-LRU lookup keyed by the hit
    // ids (zero jobs warm)
    val docs =
      if (!reader.hasDocsStore) Map.empty[Long, (String, String)]
      else LocalServe.docTexts(reader, hits.map(_.getLong(0)))
    assemble(query, hits, compl,
      (exact, prefixes) =>
        LocalServe.excerptsOf(docs, exact, prefixes, excerptRadius, params.excerptsPerHit),
      docs.map { case (id, (url, _)) => id -> url })
  }

  /** k hit rows re-exposed as a (doc_id, score) LocalRelation. */
  private def localRelation(spark: org.apache.spark.sql.SparkSession,
                            hits: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      hits.map(r => Row(r.getLong(0), r.getDouble(1))): _*),
      graft.query.LocalServe.HitSchema)

  private def pairs(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Hit urls from a (doc_id, url, ...) relation: broadcast semi-join on
    * the k hit ids, one k-sized driver round-trip.
    */
  private def urlsOf(docs: DataFrame, hits: DataFrame): Map[Long, String] = {
    import org.apache.spark.sql.functions.col
    pairs(docs.join(hits.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("url")))
  }

  /** One assembly for both paths, over driver rows: hits (doc_id, score)
    * and completions (term, score, dc, oc) as collected or served, the
    * excerpts for the query's highlight words and the urls keyed by hit
    * id. Every plan behind these runs at most once per request: the hits
    * arrive collected, so no consumer re-runs a distributed top-k plan.
    */
  private def assemble(query: String, hitRows: Seq[Row], completionRows: => Seq[Row],
                       excerptsFor: (Seq[String], Seq[String]) => Map[Long, String],
                       urls: Map[Long, String]): SearchResult = {
    val parsed = QueryParser.parse(query)
    // highlight terms: exact words + prefixes of the query
    val words = parsed.parts.map(_.atom).collect {
      case w: QueryParser.Word if !w.not => w
      // representative word alternative (OR alts may also be ranges)
      case QueryParser.OrAtoms(alts)
          if alts.exists(_.isInstanceOf[QueryParser.Word]) =>
        alts.collectFirst { case w: QueryParser.Word => w }.get
    }
    val exact = words.filterNot(_.prefix).map(_.text)
    val prefixes = words.filter(_.prefix).map(_.text)
    val excerpts = excerptsFor(exact, prefixes)

    val hits = hitRows.map { r =>
      Hit(r.getLong(0), r.getDouble(1), excerpts.getOrElse(r.getLong(0), ""),
        urls.getOrElse(r.getLong(0), ""))
    }

    val lastIsPrefix = parsed.parts.last.atom match {
      case w: QueryParser.Word => w.prefix
      case _ => false
    }
    val comps =
      if (!lastIsPrefix) Seq.empty
      else completionRows.map { r =>
        Completion(r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))
      }

    SearchResult(query, hits, comps)
  }
}
