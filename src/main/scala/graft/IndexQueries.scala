package graft

import graft.core.WebCorpus
import graft.index.{FuzzyIndex, IndexBuilder, IndexReader, MetricsCheck}
import graft.query.{Eval, IndexAtomSource, QueryParams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries that exercise the PHYSICAL index path end-to-end: build the
  * compressed posting-block index for the sf dir (memoized per process),
  * then answer from the blocks. Their oracles are the same SQL as the
  * logical BM25 queries -- so a hash match proves encode -> write ->
  * prune -> decode -> score equals the declarative plan.
  */
object IndexQueries {

  private val built = scala.collection.mutable.Map.empty[String, String]

  /** Committed-fixture fast path for the file-ingest gates. Their index
    * dirs are deterministic functions of the sf documents table, but unlike
    * the other fixture indexes (whose builds already skip via `_SUCCESS`
    * markers) the ingest gates also pay a DRIVER-SIDE re-render of the
    * source file (orderBy + toLocalIterator + sequential write) on every
    * fresh process before the build's skip logic can even run -- exactly
    * the per-gate fixture cost round-5's verdict flagged (VERDICT.md "Next
    * round" #5). A sentinel recording the source parquet's (mtime, length),
    * written only after the full render+build succeeded, proves the
    * committed dir serves what a rebuild would produce; later processes
    * (each driver bench sample) skip straight to the query. A changed
    * source parquet invalidates the sentinel and re-renders.
    */
  private def fixtureKey(sfDir: String): String = {
    val f = new java.io.File(s"$sfDir/documents.parquet")
    s"${f.lastModified()}:${f.length()}"
  }

  private def fixtureCommitted(dir: String, sfDir: String): Boolean =
    scala.util.Try {
      val p = java.nio.file.Paths.get(dir, "_fixture_complete")
      java.nio.file.Files.exists(p) &&
        java.nio.file.Files.readString(p).trim == fixtureKey(sfDir)
    }.getOrElse(false)

  private def markFixtureCommitted(dir: String, sfDir: String): String = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_fixture_complete"), fixtureKey(sfDir))
    dir
  }

  def indexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(sfDir, {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}"
      val corpus = WebCorpus.fromDocuments(spark, sfDir)
      IndexBuilder.build(spark, corpus, dir, numShards = 2)
      IndexBuilder.buildDocsStore(spark, corpus, dir)
      FuzzyIndex.build(spark, dir)
      dir
    })
  }

  /** One [[IndexReader]] per (session, index dir): a reader's vocab /
    * prefix-range / stats memos only pay off if the SAME instance serves
    * every gate over that index -- a fresh reader per gate re-ran the
    * stats head job and the first dictionary lookups each time (~30 gates
    * x 1-2 driver jobs). Readers detect rebuilt dirs via their epoch
    * check, and gate indexes are immutable within a process anyway.
    */
  private val readerMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), IndexReader]()

  private def cachedReader(spark: SparkSession, dir: String): IndexReader =
    readerMemo.computeIfAbsent((System.identityHashCode(spark), dir),
      _ => new IndexReader(spark, dir))

  def reader(spark: SparkSession, sfDir: String): IndexReader =
    cachedReader(spark, indexDir(spark, sfDir))

  /** Separate index built with BY_PREFIXES block formation (boundary
    * buckets instead of fixed term-id width, HYBIndex.cpp:247-264 analog):
    * its gate shares the fixed-width prefix oracle, so a hash match proves
    * the boundary-bucket layout serves identical results.
    */
  def bpIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#byprefix", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_byprefix"
      IndexBuilder.build(spark, WebCorpus.fromDocuments(spark, sfDir), dir,
        numShards = 1, prefixBoundaries = Seq("g", "s"))
      dir
    })
  }

  /** Prefix top-10 from a BY_PREFIXES index (oracle: same as ix_prefix_docs). */
  def bpPrefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, bpIndexDir(spark, sfDir))),
      "st*", 10, QueryParams.Default)

  /** Shared fixture-index builder for the file-ingest gates: render the
    * sf documents (driver-side, in doc_id order — the id-order contract
    * the shared positional oracle depends on) into one file via
    * `renderTo`, parse it back with `parseWords`, index with
    * [[IndexBuilder.buildFromWords]]. The OPERATOR under test is the
    * distributed parse of the written file, not this writer.
    */
  private def ingestIndexDir(spark: SparkSession, sfDir: String,
      suffix: String, fileName: String)(
      renderTo: (java.io.BufferedWriter, Iterator[String]) => Unit)(
      parseWords: String => DataFrame): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#$suffix", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_$suffix"
      if (fixtureCommitted(dir, sfDir)) dir
      else {
        val srcDir = java.nio.file.Paths.get(s"$dir-src")
        java.nio.file.Files.createDirectories(srcDir)
        val w = java.nio.file.Files.newBufferedWriter(srcDir.resolve(fileName),
          java.nio.charset.StandardCharsets.UTF_8)
        try {
          val it = spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
            .toLocalIterator()
          renderTo(w, new Iterator[String] {
            def hasNext: Boolean = it.hasNext
            def next(): String = it.next().getString(1)
          })
        } finally w.close()
        IndexBuilder.buildFromWords(spark,
          parseWords(srcDir.resolve(fileName).toString), dir)
        markFixtureCommitted(dir, sfDir)
      }
    })
  }

  /** Index built through the XML INGEST path (reference XmlParserNew.cpp):
    * `<docs><doc><text>...` render, entities escaped, distributed StAX
    * parse back via [[graft.core.XmlIngest.parse]]. XML doc ids are
    * 1-based parse positions, so the oracle maps parquet doc_id ->
    * row_number() over (ORDER BY doc_id) — a hash match proves render ->
    * parse -> tokenize -> build serves exactly the logical corpus.
    */
  def xmlIndexDir(spark: SparkSession, sfDir: String): String =
    ingestIndexDir(spark, sfDir, "xml", "webdocs.xml") { (w, texts) =>
      def esc(s: String): String =
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      w.write("<docs>\n")
      texts.foreach(t => w.write(s"<doc><text>${esc(t)}</text></doc>\n"))
      w.write("</docs>\n")
    } { path =>
      graft.core.XmlIngest.parse(spark, path,
        Seq(graft.core.CsvField("text", fulltext = true, show = true)))._1
    }

  /** Prefix top-10 from the XML-ingested index (oracle: the fixed-width
    * prefix oracle with parquet doc ids mapped to parse positions).
    */
  def xmlPrefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, xmlIndexDir(spark, sfDir))),
      "st*", 10, QueryParams.Default)

  /** Index built through the CSV INGEST path (reference CsvParser.cpp):
    * the sf documents rendered as one TSV (header + one line per doc, in
    * doc_id order — the corpus text carries no tabs/newlines by
    * construction, asserted at render time), parsed back by
    * [[graft.core.CsvIngest.parse]] (docId = line number), indexed via
    * [[IndexBuilder.buildFromWords]]. CSV doc ids are 1-based line
    * positions, so the SAME positional oracle as the XML gate applies —
    * a hash match proves render -> line parse -> tokenize -> build
    * serves exactly the logical corpus through the CSV field-role path.
    */
  def csvIndexDir(spark: SparkSession, sfDir: String): String =
    ingestIndexDir(spark, sfDir, "csv", "webdocs.tsv") { (w, texts) =>
      w.write("text\n")
      texts.foreach { t =>
        require(!t.exists(c => c == '\t' || c == '\n' || c == '\r'),
          "TSV fixture needs tab/newline-free text")
        w.write(t); w.write("\n")
      }
    } { path =>
      graft.core.CsvIngest.parse(spark, path,
        Seq(graft.core.CsvField("text", fulltext = true, show = true)))._1
    }

  /** Prefix top-10 from the CSV-ingested index (same positional oracle
    * as [[xmlPrefixDocs]] — line numbers and parse positions coincide).
    */
  def csvPrefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, csvIndexDir(spark, sfDir))),
      "st*", 10, QueryParams.Default)

  /** Index built through the JSONL INGEST path: docs rendered one JSON
    * object per line (strings escaped), parsed back by
    * [[graft.core.JsonlIngest.parse]] (docId = line number + 1 — the
    * same 1-based position ids as XML/CSV, so the shared positional
    * oracle applies unchanged).
    */
  def jsonlIndexDir(spark: SparkSession, sfDir: String): String =
    ingestIndexDir(spark, sfDir, "jsonl", "webdocs.jsonl") { (w, texts) =>
      def esc(s: String): String = {
        val sb = new StringBuilder
        s.foreach {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        sb.toString
      }
      texts.foreach(t => w.write(s"""{"text": "${esc(t)}"}\n"""))
    } { path =>
      graft.core.JsonlIngest.parse(spark, path,
        Seq(graft.core.CsvField("text", fulltext = true, show = true)))._1
    }

  /** Prefix top-10 from the JSONL-ingested index (shared positional
    * oracle a third time).
    */
  def jsonlPrefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, jsonlIndexDir(spark, sfDir))),
      "st*", 10, QueryParams.Default)

  /** Index built from a WARC archive: the sf docs rendered as real
    * `response` records (WebCorpus html wrapper as the HTTP body, in
    * doc_id order), parsed back by [[graft.core.WarcIngest.corpus]]
    * (framing parse + extractText inversion + 1-based positional ids),
    * then the ORDINARY corpus build — unlike the database ingests this
    * exercises `IndexBuilder.build`, proving the WARC relation is a
    * drop-in for the parquet corpus.
    */
  def warcIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#warc", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_warc"
      if (fixtureCommitted(dir, sfDir)) dir
      else {
        val srcDir = java.nio.file.Paths.get(s"$dir-src")
        java.nio.file.Files.createDirectories(srcDir)
        val os = java.nio.file.Files.newOutputStream(srcDir.resolve("webdocs.warc"))
        try {
          val it = spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
            .toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            val html = ("<html><body><p>" + r.getString(1) + "</p></body></html>")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            os.write(graft.core.WarcIngest.renderRecord(
              s"https://example.org/warc/doc/${r.getLong(0)}",
              "2024-01-01T00:00:00Z", html))
          }
        } finally os.close()
        IndexBuilder.build(spark,
          graft.core.WarcIngest.corpus(spark, srcDir.resolve("webdocs.warc").toString),
          dir, numShards = 1)
        markFixtureCommitted(dir, sfDir)
      }
    })
  }

  /** Prefix top-10 from the WARC-built index (shared positional oracle —
    * WARC record positions are the same 1-based doc_id ranks).
    */
  def warcPrefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, warcIndexDir(spark, sfDir))),
      "st*", 10, QueryParams.Default)

  /** BY_PREFIX_SIZE: boundaries derived as the vocabulary's distinct
    * length-2 prefixes (one bucket per prefix group) instead of a
    * hand-written boundary list.
    */
  def bpsIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#byprefixsize", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_byprefixsize"
      val corpus = WebCorpus.fromDocuments(spark, sfDir)
      val boundaries = IndexBuilder.prefixSizeBoundaries(
        graft.core.Analysis.docTermsCached(corpus).toDF(), k = 2)
      IndexBuilder.build(spark, corpus, dir, numShards = 1,
        prefixBoundaries = boundaries)
      dir
    })
  }

  /** Prefix top-10 from a BY_PREFIX_SIZE index (same oracle again). */
  def bpsPrefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, bpsIndexDir(spark, sfDir))),
      "st*", 10, QueryParams.Default)

  /** Positions-off index (IndexBuilder storePositions=false — the
    * reference's positions-off words file, WordsFile.h:44-62): doc-level
    * scoring must be byte-identical while positionlists all but vanish.
    */
  def npIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#nopos", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_nopos"
      IndexBuilder.build(spark, WebCorpus.fromDocuments(spark, sfDir), dir,
        numShards = 1, storePositions = false)
      dir
    })
  }

  /** WAND top-10 from the positions-off index (same oracle as ix_wand_topk). */
  def npWandTopK(spark: SparkSession, sfDir: String): DataFrame =
    cachedReader(spark, npIndexDir(spark, sfDir))
      .topKOrWand(Seq("spark", "hash", "merge"), 10)

  /** The partial-words gates' secondary dictionary — the reference's
    * "general language dictionary" role (partialwords/PartialWords.h,
    * american-english.vocabulary). Literal so the oracle can inline it.
    */
  val PartialDict: Seq[String] = Seq("par", "tab", "val", "art", "ash", "ort", "ream")

  private def corpusVocab(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Analysis.docTermsCached(WebCorpus.fromDocuments(spark, sfDir))
      .toDF().select(col("term").as("word")).distinct()

  /** PartialWordsMain analog: which dictionary words occur inside corpus
    * vocabulary words (substring-length equi-join, never a cross join).
    */
  def partialPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.core.PartialWords.pairs(
        corpusVocab(spark, sfDir), PartialDict.toDF("word"), minLen = 3)
      .orderBy(col("word"), col("partial"))
  }

  /** Index with partial-word postings merged in (the applications-Makefile
    * step: partial words emitted at the containing word's positions).
    */
  def partialIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#partial", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_partial"
      import spark.implicits._
      val corpus = WebCorpus.fromDocuments(spark, sfDir)
      val pairs = graft.core.PartialWords.pairs(
        corpusVocab(spark, sfDir), PartialDict.toDF("word"), minLen = 3)
      val extra = graft.core.PartialWords.expandDocTerms(
        graft.core.Analysis.docTerms(corpus).toDF(), pairs)
      IndexBuilder.build(spark, corpus, dir, numShards = 1,
        extraDocTerms = Some(extra))
      dir
    })
  }

  /** Querying a partial word serves the docs of its containing words. */
  def partialDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(cachedReader(spark, partialIndexDir(spark, sfDir))),
      "tab", 10, QueryParams.Default)

  /** Fuzzy word clusters off the shared index's FastSS table
    * (BuildFuzzySearchClusters analog: frequent words are cluster
    * centers, each word in at most 2 clusters within edit distance 2).
    */
  def fuzzyClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val r = reader(spark, sfDir)
    FuzzyIndex.wordClusters(spark, r.dir, r.dictionary,
        minFrequency = 500L, maxDist = 2, maxClustersPerWord = 2)
      .orderBy(col("term_id"), col("cluster_id"))
  }

  /** Separate index built with a non-default block codec (the reference
    * compiles one compression algorithm per index, codes.h:27-62). Its
    * gates share the varint-index oracles, so a hash match proves the
    * codec's encode -> decode is lossless end to end.
    */
  def codecIndexDir(spark: SparkSession, sfDir: String, codec: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#codec=$codec", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_$codec"
      IndexBuilder.build(spark, WebCorpus.fromDocuments(spark, sfDir), dir,
        numShards = 1, doclistCodec = codec)
      dir
    })
  }

  /** Index built from the EVEN half of the corpus, the odd half appended
    * as two streaming delta shards, then compacted ([[IndexBuilder.compact]]:
    * commit + GC -- the visible shards are the batch shard plus one
    * `compact-0`). Exercises the full streaming-append + crash-safe
    * compaction lifecycle on the gate path.
    */
  def compactIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#compact", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_compact"
      val corpus = WebCorpus.fromDocuments(spark, sfDir)
      IndexBuilder.build(spark, corpus.filter(col("doc_id") % 2 === 0), dir,
        numShards = 1)
      val odd = corpus.filter(col("doc_id") % 2 === 1)
      graft.streaming.StreamingIndexer.appendBatch(spark,
        odd.filter(col("doc_id") % 4 === 1), dir, "stream-0")
      graft.streaming.StreamingIndexer.appendBatch(spark,
        odd.filter(col("doc_id") % 4 === 3), dir, "stream-1")
      require(IndexBuilder.compact(spark, dir).contains("compact-0"),
        "compaction of the two delta shards did not commit")
      dir
    })
  }

  /** Full decode of every VISIBLE block after compaction; the oracle is
    * the corpus doc-term relation restricted to the batch (even-doc)
    * vocabulary -- streamed postings of unseen terms are dropped as
    * documented dictionary drift.
    */
  def compactedPostings(spark: SparkSession, sfDir: String): DataFrame = {
    val r = cachedReader(spark, compactIndexDir(spark, sfDir))
    r.decode(r.blocks)
      .join(broadcast(r.dictionary.select(col("term_id"), col("term"))), "term_id")
      .select(col("doc_id"), col("term"), col("tf"))
  }

  /** Full decode round-trip from an Elias-gamma-coded index (oracle: same
    * as ix_decoded_postings).
    */
  def gammaDecodedPostings(spark: SparkSession, sfDir: String): DataFrame = {
    val r = cachedReader(spark, codecIndexDir(spark, sfDir, "gamma"))
    r.decode(r.blocks)
      .join(broadcast(r.dictionary.select(col("term_id"), col("term"))), "term_id")
      .select(col("doc_id"), col("term"), col("tf"))
  }

  /** WAND top-10 from a PForDelta-coded index (oracle: same as ix_wand_topk). */
  def pforWandTopK(spark: SparkSession, sfDir: String): DataFrame =
    cachedReader(spark, codecIndexDir(spark, sfDir, "pfor"))
      .topKOrWand(Seq("spark", "hash", "merge"), 10)

  /** Full postings decode from a canonical-Huffman-coded index (oracle:
    * same as ix_decoded_postings) -- proves the per-block Huffman tables
    * round-trip every doclist/positionlist byte end to end.
    */
  def huffmanDecodedPostings(spark: SparkSession, sfDir: String): DataFrame = {
    val r = cachedReader(spark, codecIndexDir(spark, sfDir, "huffman"))
    r.decode(r.blocks)
      .join(broadcast(r.dictionary.select(col("term_id"), col("term"))), "term_id")
      .select(col("doc_id"), col("term"), col("tf"))
  }

  /** Separate index with metadata words IN the blocks (reference
    * architecture: facet words live in the HYB index next to text terms).
    * Kept apart from the text-only index so the `ix_*` round-trip gates
    * stay byte-defined.
    */
  def facetIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#facets", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_facets"
      val corpus = WebCorpus.fromDocuments(spark, sfDir)
        .join(spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("long").as("doc_id"), col("source"),
            col("n_chars")), "doc_id")
      IndexBuilder.build(spark, corpus, dir, numShards = 1,
        facetFields = Seq("lang", "source"),
        extraDocTerms = Some(graft.core.Facets.orderingRows(corpus, "len",
            lpad(col("n_chars").cast("string"), 6, "0"))
          .unionByName(graft.core.Facets.infoRows(spark, Seq(
            "encoding" -> "utf-8", "name" -> "webdocs",
            "facet" -> "lang", "facet" -> "source")))))
      dir
    })
  }

  def facetReader(spark: SparkSession, sfDir: String): IndexReader =
    cachedReader(spark, facetIndexDir(spark, sfDir))

  /** Index over the diacritic fixture with normalized-variant words IN the
    * blocks (parser -s flag analog): `stréam` tokens are indexed alongside
    * `stream:stréam`, so the normalizeWords query rewrite resolves against
    * the dictionary like any other prefix.
    */
  def normIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#norm", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_norm"
      IndexBuilder.build(spark, QpQueries.normCorpus(spark, sfDir), dir,
        numShards = 1, normVariants = true)
      dir
    })
  }

  def normReader(spark: SparkSession, sfDir: String): IndexReader =
    cachedReader(spark, normIndexDir(spark, sfDir))

  /** Index over the FIELDED corpus (source = title, text = body): the text
    * terms come from the concatenation, and each title token is also
    * encoded as a `:field:source:<token>` word -- the per-field score
    * carried INTO the blocks, so field-weighted ranking is one extra
    * pruned dictionary lookup (reference: per-posting field scores).
    */
  def fieldIndexDir(spark: SparkSession, sfDir: String): String = synchronized {
    built.getOrElseUpdate(s"$sfDir#fields", {
      val dir = s"/tmp/graft_index/${sfDir.replaceAll("[^a-zA-Z0-9.]", "_")}_fields"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("text"))
      val corpus = docs.select(col("doc_id"),
        concat_ws(" ", col("source"), col("text")).as("text"))
      IndexBuilder.build(spark, corpus, dir, numShards = 1,
        extraDocTerms = Some(graft.core.Facets.fieldRows(docs, "source", col("source"))))
      dir
    })
  }

  /** Field-weighted top-k from the blocks: BM25 over the fielded corpus
    * plus TITLE_MATCH_BONUS (64) for docs whose title carries the term --
    * the `:field:source:spark` posting list, one semi-join.
    */
  def fieldWeightedIx(spark: SparkSession, sfDir: String): DataFrame = {
    val src = new IndexAtomSource(cachedReader(spark, fieldIndexDir(spark, sfDir)))
    import graft.query.QueryParser.Word
    FtQueries.withFieldBonus(src.atomScored(Word("spark")),
      src.atomScored(Word(":field:source:spark")).select(col("doc_id")), 64.0)
  }

  /** `:info:` namespace read back from the blocks: the index's own
    * configuration (facet fields, encoding, db name) served through the
    * ordinary completions machinery.
    */
  def infoWords(spark: SparkSession, sfDir: String): DataFrame =
    Eval.completions(new IndexAtomSource(facetReader(spark, sfDir)), ":info:*", 100,
      QueryParams.Default)
      .select(col("term")).orderBy(col("term"))

  /** Facet value counts served from the BLOCKS: completions of the
    * `:facet:lang:*` prefix; n_docs = the dc aggregate.
    */
  def facetCounts(spark: SparkSession, sfDir: String): DataFrame =
    Eval.completions(new IndexAtomSource(facetReader(spark, sfDir)), ":facet:lang:*", 100,
      QueryParams.Default)
      .select(expr(s"substring(term, ${":facet:lang:".length + 1})").as("value"),
        col("dc").as("n_docs"))
      .orderBy(col("n_docs").desc, col("value").asc)

  /** `:ordering:` value range served from the BLOCKS: a dictionary word
    * range over the namespace, like any term range -- the sortable key
    * encoding makes value ranges prunable id ranges.
    */
  def orderingRange(spark: SparkSession, sfDir: String): DataFrame = {
    val src = new graft.query.IndexAtomSource(facetReader(spark, sfDir))
    val prefix = ":ordering:len:"
    src.atomScored(graft.query.QueryParser.WordRange(prefix + "000100", prefix + "000200"))
      .select(col("doc_id"), expr(s"substring(term, ${prefix.length + 1})").as("okey"))
      .orderBy(col("okey"), col("doc_id"))
  }

  /** Faceted drill-down from the BLOCKS: the reference's key trick --
    * facet counting under a keyword constraint IS a completions query
    * `spark :facet:source:*` over the same posting relation.
    */
  def facetCountsFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val src = new graft.query.IndexAtomSource(facetReader(spark, sfDir))
    graft.query.Eval.completions(src, "spark :facet:source:*", 100)
      .select(expr(s"substring(term, ${":facet:source:".length + 1})").as("value"),
        col("dc").as("n_docs"))
      .orderBy(col("n_docs").desc, col("value").asc)
  }

  /** Full round-trip gate: decode EVERY block back to (doc_id, term, tf);
    * oracle = the logical doc-term relation. Proves codec + block cutting +
    * sharding lose nothing.
    */
  def decodedPostings(spark: SparkSession, sfDir: String): DataFrame = {
    val r = reader(spark, sfDir)
    r.decode(r.blocks)
      .join(broadcast(r.dictionary.select(col("term_id"), col("term"))), "term_id")
      .select(col("doc_id"), col("term"), col("tf"))
  }

  /** Disjunctive top-10 with block-max WAND pruning; oracle = plain SQL. */
  def wandTopK(spark: SparkSession, sfDir: String): DataFrame =
    reader(spark, sfDir).topKOrWand(Seq("spark", "hash", "merge"), 10)

  /** Prefix top-10 docs via pruned block scan; oracle = plain SQL. */
  def prefixDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(reader(spark, sfDir)), "st*", 10, QueryParams.Default)

  /** Conjunctive top-10 from blocks; oracle = the logical AND SQL. */
  def andTopK(spark: SparkSession, sfDir: String): DataFrame =
    Eval.topK(new IndexAtomSource(reader(spark, sfDir)), "spark join", 10, QueryParams.Default)

  /** Phrase matching from block-encoded positions; oracle = position SQL. */
  def phraseDocs(spark: SparkSession, sfDir: String): DataFrame =
    Eval.windowMatchCounts(new IndexAtomSource(reader(spark, sfDir)),
      "batch", "batch", 1, 1)

  /** Completions from blocks; oracle = the completions SQL. */
  def completions(spark: SparkSession, sfDir: String): DataFrame =
    Eval.completions(new IndexAtomSource(reader(spark, sfDir)), "s*", 10, QueryParams.Default)

  /** Build lineage/metrics summary. Not SQL-expressible, so instead of an
    * oracle the gate checks the table against the index itself
    * ([[MetricsCheck]]: postings and block sums, skew >= 1): it throws on
    * any broken invariant, and every output row carries the checked figures.
    */
  def buildMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val check = MetricsCheck.of(reader(spark, sfDir))
    if (check.violations.nonEmpty)
      throw new IllegalStateException(
        s"build metrics inconsistent: ${check.violations.mkString("; ")}")
    spark.read.parquet(s"${indexDir(spark, sfDir)}/metrics")
      .select(col("shard"), col("build_partition"), col("n_blocks"),
        col("n_postings"), col("bytes_encoded"), lit(check.summary).as("check"))
      .orderBy(col("shard"), col("build_partition"))
  }
}
