package graft

import graft.core.{CsvField, CsvIngest, XmlIngest}
import org.scalatest.funsuite.AnyFunSuite

/** CsvParserTest analog (reference CsvParserTest.cpp:122-492): write a
  * small delimited file, assert exact words/docs rows for each field role.
  */
class CsvIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def writeCsv(lines: Seq[String]): String = {
    val f = java.nio.file.Files.createTempFile("graft_csv", ".tsv")
    java.nio.file.Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("full-text, facet, filter, ordering and show roles") {
    val path = writeCsv(Seq(
      "Autor\tJahr\tTitel",
      "Mann, Thomas\t1924\tDer Zauberberg",
      "Kafka; Franz\t1915\tDie Verwandlung"))
    val fields = Seq(
      CsvField("Titel", fulltext = true, show = true, score = 2),
      CsvField("Autor", facet = true, filter = true),
      CsvField("Jahr", ordering = true, show = true))
    val (words, docs) = CsvIngest.parse(spark, path, fields)
    val w = words.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet

    // doc 1 (line 1): full-text words with positions + artificial words
    assert(w.contains((1L, "der", 2, 0)))
    assert(w.contains((1L, "zauberberg", 2, 1)))
    assert(w.contains((1L, ":facet:Autor:Mann, Thomas", 1, -1)))
    assert(w.contains((1L, ":filter:Autor:mann", 1, -1)))
    assert(w.contains((1L, ":filter:Autor:thomas", 1, -1)))
    assert(w.contains((1L, ":ordering:Jahr:1924", 1, -1)))
    assert(w.contains((2L, "verwandlung", 2, 1)))
    assert(w.contains((2L, ":facet:Autor:Kafka; Franz", 1, -1)))

    // :info: namespace: build-config echo on the reserved doc 0
    assert(w.contains((0L, ":info:encoding:utf-8", 1, -1)))
    assert(w.contains((0L, ":info:facet:Autor", 1, -1)))

    val d = docs.orderBy("doc_id").collect()
    assert(d.map(_.getAs[String]("Titel")).toSeq === Seq("Der Zauberberg", "Die Verwandlung"))
    assert(d.map(_.getAs[String]("Jahr")).toSeq === Seq("1924", "1915"))
  }

  test("within-field separator splits multi-values (movies.tsv shape)") {
    val path = writeCsv(Seq(
      "film\tgenre",
      "Alien\thorror#scifi"))
    val (words, _) = CsvIngest.parse(spark, path, Seq(
      CsvField("film", fulltext = true),
      CsvField("genre", facet = true, withinFieldSep = Some("#"))))
    val w = words.collect().map(r => r.getString(1)).toSet
    assert(w.contains(":facet:genre:horror"))
    assert(w.contains(":facet:genre:scifi"))
    assert(w.contains("alien"))
    assert(w.contains(":info:multiple:genre"))
  }

  test("ISO-8859-1 ingest: legacy bytes decode, tokenize and normalize correctly") {
    // a TSV whose accented characters are SINGLE ISO-8859-1 bytes (0xE9 =
    // é, 0xFC = ü): invalid as UTF-8, so a UTF-8 read would mangle them
    val f = java.nio.file.Files.createTempFile("graft_iso", ".tsv")
    java.nio.file.Files.write(f,
      "Titel\nRené Müller\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val (words, docs) = CsvIngest.parse(spark, f.toString,
      Seq(CsvField("Titel", fulltext = true, show = true)), encoding = "ISO-8859-1")
    val w = words.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(w.contains((1L, "rené")))   // é survives the decode
    assert(w.contains((1L, "müller"))) // ü survives the decode
    assert(w.contains((0L, ":info:encoding:iso-8859-1")))
    assert(docs.collect().head.getAs[String]("Titel") === "René Müller")
    // ... and the SAME normalization the UTF-8 path uses applies (the
    // reference's iso8859-1.map norm semantics): é -> e, ü stays ü
    assert(graft.core.Tokenizer.normalize("rené") === "rene")
    assert(graft.core.Tokenizer.normalize("müller") === "müller")
  }

  test("normalize matches the reference iso8859-1.map on ALL 256 ISO codepoints") {
    // StringConverter.h loads utf8.map AND iso8859-1.map; this engine
    // serves both charsets with ONE fold table. That is only sound if the
    // iso map's norm column never disagrees -- pin it against the file.
    val mapFile = new java.io.File("/root/reference/src/utility/iso8859-1.map")
    assume(mapFile.exists(), "reference map not present in this environment")
    // the map file itself is ISO-8859-1 (its char columns are raw bytes)
    val src = scala.io.Source.fromFile(mapFile, "ISO-8859-1")
    try {
      var checked = 0
      src.getLines().foreach { ln =>
        if (ln.nonEmpty && !ln.startsWith("#")) {
          val f = ln.split("\t", -1)
          if (f.length == 9) {
            val cp = f(0).trim.toInt
            val normCp = f(3).trim.toInt
            val got = graft.core.Tokenizer.normalize(
              new String(Character.toChars(cp)))
            assert(got === new String(Character.toChars(normCp)),
              s"iso cp=$cp: got ${got.map(_.toInt).mkString(",")} want $normCp")
            checked += 1
          }
        }
      }
      assert(checked === 256)
    } finally src.close()
  }

  test("XML ingest honors the document's declared legacy encoding (StAX prolog)") {
    val f = java.nio.file.Files.createTempFile("graft_iso_xml", ".xml")
    java.nio.file.Files.write(f,
      ("<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n" +
        "<docs><doc><text>René Müller</text></doc></docs>\n")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val (words, _) = XmlIngest.parse(spark, f.toString,
      Seq(CsvField("text", fulltext = true)))
    val terms = words.collect().map(_.getString(1)).toSet
    assert(terms.contains("rené") && terms.contains("müller"))
  }

  test("JSONL ingest: field roles, array multi-values, skipped junk lines, stable ids") {
    val f = java.nio.file.Files.createTempFile("graft_jsonl", ".jsonl")
    java.nio.file.Files.writeString(f, Seq(
      """{"Titel": "Der Zauberberg", "Autor": "Mann, Thomas", "Jahr": 1924}""",
      """not json at all""", // skipped; its line number is consumed
      """{"Titel": "Die Verwandlung", "Autor": ["Kafka; Franz", "K. Franz"], "Jahr": 1915}""",
      "").mkString("\n"))
    val fields = Seq(
      CsvField("Titel", fulltext = true, show = true, score = 2),
      CsvField("Autor", facet = true, filter = true),
      CsvField("Jahr", ordering = true, show = true))
    val (words, docs) = graft.core.JsonlIngest.parse(spark, f.toString, fields)
    val w = words.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    // doc 1 (line 0): same role output as the CSV fixture
    assert(w.contains((1L, "der", 2, 0)))
    assert(w.contains((1L, "zauberberg", 2, 1)))
    assert(w.contains((1L, ":facet:Autor:Mann, Thomas", 1, -1)))
    assert(w.contains((1L, ":filter:Autor:mann", 1, -1)))
    // non-string scalar stringifies; ordering key as in CSV
    assert(w.contains((1L, ":ordering:Jahr:1924", 1, -1)))
    // doc 3 (line 2; junk line 1 consumed its id): JSON ARRAY = the
    // multi-value form, each element a full facet value
    assert(w.contains((3L, "verwandlung", 2, 1)))
    assert(w.contains((3L, ":facet:Autor:Kafka; Franz", 1, -1)))
    assert(w.contains((3L, ":facet:Autor:K. Franz", 1, -1)))
    // :info: namespace on doc 0
    assert(w.contains((0L, ":info:encoding:utf-8", 1, -1)))
    assert(w.contains((0L, ":info:facet:Autor", 1, -1)))
    val d = docs.orderBy("doc_id").collect()
    assert(d.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 3L))
    assert(d.map(_.getAs[String]("Titel")).toSeq === Seq("Der Zauberberg", "Die Verwandlung"))
    assert(d.map(_.getAs[String]("Jahr")).toSeq === Seq("1924", "1915"))
  }

  test("field-weighted ranking: a title hit outranks an equal body hit") {
    import org.apache.spark.sql.functions.col
    val docs = spark.createDataFrame(Seq(
      (1L, "needle findings", "common words here"),
      (2L, "other title", "needle words here"))).toDF("doc_id", "title", "body")
    val fielded = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.concat_ws(" ", col("title"), col("body")).as("text"))
    val titleDocs = graft.core.Facets.fieldRows(docs, "title", col("title"))
      .filter(col("term") === ":field:title:needle").select(col("doc_id"))
    val r = FtQueries.withFieldBonus(
        new graft.query.CorpusAtomSource(fielded)
          .atomScored(graft.query.QueryParser.Word("needle")),
        titleDocs, 64.0)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.map(_._1).toSeq === Seq(1L, 2L)) // title doc first
    // both docs: tf=1, dl=5, same df -> equal BM25; delta is exactly 64
    assert(math.abs((r(0)._2 - r(1)._2) - 64.0) < 1e-9)
    // :field: rows drive the bonus
    val fr = graft.core.Facets.fieldRows(docs, "title", col("title"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(fr.contains((1L, ":field:title:needle")))
    assert(!fr.contains((2L, ":field:title:needle")))
  }

  test("XML ingest: same field-role output shape as CSV (XmlParserNew analog)") {
    val f = java.nio.file.Files.createTempFile("graft_xml", ".xml")
    java.nio.file.Files.writeString(f,
      """<?xml version="1.0" encoding="UTF-8"?>
        |<docs>
        |<doc>
        |  <Titel>Der <b>Zauberberg</b></Titel>
        |  <Autor>Mann, Thomas</Autor>
        |  <Jahr>1924</Jahr>
        |</doc>
        |<doc>
        |  <Titel>Die Verwandlung</Titel>
        |  <Autor>Kafka; Franz</Autor>
        |  <genre>horror</genre>
        |  <genre>scifi</genre>
        |  <Jahr>1915</Jahr>
        |</doc>
        |</docs>""".stripMargin)
    val fields = Seq(
      CsvField("Titel", fulltext = true, show = true, score = 2),
      CsvField("Autor", facet = true, filter = true),
      CsvField("genre", facet = true),
      CsvField("Jahr", ordering = true, show = true))
    val (words, docs) = XmlIngest.parse(spark, f.toString, fields)
    val w = words.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    // nested markup text flattens into the field (StAX character coalescing)
    assert(w.contains((1L, "der", 2, 0)))
    assert(w.contains((1L, "zauberberg", 2, 1)))
    assert(w.contains((1L, ":facet:Autor:Mann, Thomas", 1, -1)))
    assert(w.contains((1L, ":filter:Autor:mann", 1, -1)))
    assert(w.contains((1L, ":ordering:Jahr:1924", 1, -1)))
    // repeated elements are multiple values of the field
    assert(w.contains((2L, ":facet:genre:horror", 1, -1)))
    assert(w.contains((2L, ":facet:genre:scifi", 1, -1)))
    assert(w.contains((2L, "verwandlung", 2, 1)))
    assert(w.contains((0L, ":info:encoding:utf-8", 1, -1)))
    assert(w.contains((0L, ":info:facet:Autor", 1, -1)))
    val d = docs.orderBy("doc_id").collect()
    assert(d.map(_.getAs[String]("Titel")).toSeq === Seq("Der Zauberberg", "Die Verwandlung"))
    assert(d.map(_.getAs[String]("Jahr")).toSeq === Seq("1924", "1915"))
    // XXE / DTD hardening: external entities must not resolve
    val g = java.nio.file.Files.createTempFile("graft_xxe", ".xml")
    java.nio.file.Files.writeString(g,
      """<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/hostname">]>
        |<docs><doc><Titel>&x;</Titel></doc></docs>""".stripMargin)
    val xxe = scala.util.Try(XmlIngest.parseDocs(
      java.nio.file.Files.readAllBytes(g), "doc").toList)
    assert(xxe.isFailure || xxe.get.forall(_.getOrElse("Titel", "").isEmpty))
  }

  test("buildFromWords: a CSV database becomes a queryable index, no corpus table") {
    val path = writeCsv(Seq(
      "Autor\tJahr\tTitel",
      "Mann, Thomas\t1924\tDer Zauberberg",
      "Kafka; Franz\t1915\tDie Verwandlung"))
    val fields = Seq(
      CsvField("Titel", fulltext = true, show = true),
      CsvField("Autor", facet = true),
      CsvField("Jahr", ordering = true))
    val (words, _) = CsvIngest.parse(spark, path, fields)
    val dir = java.nio.file.Files.createTempDirectory("graft_wix").toString
    graft.index.IndexBuilder.buildFromWords(spark, words, dir)
    val r = new graft.index.IndexReader(spark, dir)
    // the BM25 length model sees only real tokens (two 2-token titles);
    // doc 0 carries only :info: words and does not count
    assert(r.nDocs === 2L && r.avgdl === 2.0)
    // full grammar served from the blocks
    val hits = graft.query.IndexExecutor.topK(r, "zauberberg", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(hits === Seq(1L))
    // facet counting = the doc count per completion of the :facet:
    // namespace, as a prefix atom and through the grammar (special words
    // keep their case)
    val fc = new graft.query.IndexAtomSource(r)
      .atomScored(graft.query.QueryParser.Word(":facet:Autor:", prefix = true))
      .groupBy("term").count()
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(fc === Map(":facet:Autor:Mann, Thomas" -> 1L,
      ":facet:Autor:Kafka; Franz" -> 1L))
    val viaGrammar = graft.query.IndexExecutor.completions(r, ":facet:Autor:*", 10)
      .collect().map(_.getString(0)).toSet
    assert(viaGrammar === Set(":facet:Autor:Mann, Thomas", ":facet:Autor:Kafka; Franz"))
    // ordering keys are word ranges over the sortable encoding
    val yr = r.dictionary.filter(
        org.apache.spark.sql.functions.col("term")
          .between(":ordering:Jahr:1915", ":ordering:Jahr:1920"))
      .count()
    assert(yr === 1L)
  }
}
