package graft

import graft.core.{Analysis, Tokenizer, WebCorpus}
import graft.index.{IndexBuilder, IndexReader}
import graft.query.{AtomSource, CorpusAtomSource, Eval, Executor, IndexAtomSource}
import graft.query.QueryParser.{OrAtoms, Word}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Operator goldens over the reference gtest fixture
  * (CompleterBaseTest.cpp:60-130 / FIXTURES.md §2): 4 docs,
  * aachen/aal/aalglatt/aargau + babbeln/baby/babyboom/babylonisch -- the
  * operators asked through the grammar, and the two output shapes the
  * grammar has no form for (window match counts, join-block terms) held
  * identical over the corpus and over an index built from it.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The 14-posting fixture as documents (docIds 1..4). */
  lazy val corpus: DataFrame = Seq(
    (1L, "aachen aal aalglatt aargau"),
    (2L, "aachen aalglatt aal"),
    (3L, "babbeln baby babyboom babylonisch"),
    (4L, "babbeln baby babyboom")
  ).toDF("doc_id", "text")

  private def indexOf(storePositions: Boolean): IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_engine_ix").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 1, storePositions = storePositions)
    new IndexReader(spark, dir)
  }
  lazy val index: IndexReader = indexOf(storePositions = true)

  /** The corpus source and the index source, in that order. */
  lazy val sources: Seq[AtomSource] =
    Seq(new CorpusAtomSource(corpus), new IndexAtomSource(index))

  private def docIds(q: String): Seq[Long] =
    Executor.topK(corpus, q, 10).collect().map(_.getAs[Long]("doc_id")).toSeq

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("dictionary: dense lexicographic term ids with df/cf") {
    val dict = Analysis.dictionary(Analysis.docTerms(corpus))
      .orderBy("term_id").collect()
    val terms = dict.map(_.getAs[String]("term")).toSeq
    assert(terms === Seq("aachen", "aal", "aalglatt", "aargau",
      "babbeln", "baby", "babyboom", "babylonisch"))
    assert(dict.map(_.getAs[Long]("term_id")).toSeq === (0L to 7L))
    val byTerm = dict.map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(byTerm("aachen") === 2 && byTerm("babylonisch") === 1)
  }

  test("prefix aa* matches the fixture word range") {
    val comps = Executor.completions(corpus, "aa*", 10).collect()
    assert(comps.map(_.getAs[String]("term")).toSet ===
      Set("aachen", "aal", "aalglatt", "aargau"))
    val aal = comps.find(_.getAs[String]("term") == "aal").get
    assert(aal.getAs[Long]("dc") === 2 && aal.getAs[Long]("oc") === 2)
  }

  test("AND intersects on docId (intersect golden shape)") {
    // aachen AND babbeln -> empty; aachen AND aargau -> doc 1 only
    assert(docIds("aachen babbeln").isEmpty)
    assert(docIds("aachen aargau") === Seq(1L))
  }

  test("NOT is an anti-join on docId") {
    assert(docIds("aachen -aargau") === Seq(2L))
  }

  test("OR unions doc sets") {
    assert(docIds("aargau|babylonisch").toSet === Set(1L, 3L))
  }

  test("phrase requires adjacency; proximity relaxes it") {
    // "aal aalglatt" adjacent only in doc 1 (doc 2 has aalglatt before aal)
    assert(docIds("aal.aalglatt") === Seq(1L))
    assert(docIds("aal..aalglatt").toSet === Set(1L, 2L))
  }

  test("join block keeps completions common to both sides") {
    // completions of "ba" in docs with babylonisch vs docs with babbeln
    val r = Eval.joinBlockTerms(new CorpusAtomSource(corpus),
      "[babylonisch ba*#babbeln ba*]").collect()
    assert(r.map(_.getString(0)).toSet ===
      Set("babbeln", "baby", "babyboom", "babylonisch"))
  }

  test("BM25 ranks rarer terms higher, ties broken by doc_id") {
    // babylonisch (df=1) must outscore babbeln (df=2) within doc 3
    val s = new CorpusAtomSource(corpus)
      .atomScored(OrAtoms(Seq(Word("babylonisch"), Word("babbeln"))))
      .filter($"doc_id" === 3L).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Double]("score")).toMap
    assert(s("babylonisch") > s("babbeln"))
  }

  test("top-k aggregation golden: sum over query parts") {
    // topk fixture analog (FIXTURES.md §3): per-doc score = sum of parts
    val docs = Executor.topK(corpus, "babbeln baby", 10).collect()
    assert(docs.map(_.getAs[Long]("doc_id")).toSet === Set(3L, 4L))
    // doc 4 is shorter -> higher per-term tf-part -> higher summed score
    val byDoc = docs.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(byDoc(4L) > byDoc(3L))
  }

  test("window match counts: corpus and index give identical rows") {
    // (t1, t2, window) -> expected (doc_id, n_matches)
    val cases = Seq(
      ("aal", "aalglatt", (1, 1)) -> Seq(Seq(1L, 1L)), // phrase
      ("aal", "aalglatt", (-10, 10)) -> Seq(Seq(1L, 1L), Seq(2L, 1L)), // near
      ("aachen", "aalglatt", (2, 2)) -> Seq(Seq(1L, 1L)), // flexi .,,.
      ("aalglatt", "aachen", (-1, -1)) -> Seq(Seq(2L, 1L)), // flexi .;.
      // self-phrase: a word pairs with its own positions
      ("baby", "baby", (-10, 10)) -> Seq(Seq(3L, 1L), Seq(4L, 1L)),
      ("aal", "aal", (1, 1)) -> Nil)
    for (((t1, t2, (lo, hi)), want) <- cases; src <- sources)
      assert(rows(Eval.windowMatchCounts(src, t1, t2, lo, hi)) === want,
        s"$t1 $t2 [$lo, $hi] over ${src.getClass.getSimpleName}")
  }

  test("window match counts: an unknown word gives zero BIGINT rows on both sources") {
    for (src <- sources; (t1, t2) <- Seq(("aal", "nosuchword"), ("nosuchword", "aal"))) {
      val df = Eval.windowMatchCounts(src, t1, t2, 1, 1)
      assert(df.schema.fields.map(f => f.name -> f.dataType).toSeq ===
        Seq("doc_id" -> LongType, "n_matches" -> LongType))
      assert(df.count() === 0L)
    }
  }

  test("window match counts refuse a positions-off index") {
    val src = new IndexAtomSource(indexOf(storePositions = false))
    assert(!src.hasPositions)
    intercept[IllegalArgumentException](Eval.windowMatchCounts(src, "aal", "aalglatt", 1, 1))
  }

  test("join-block terms: corpus and index give identical rows") {
    val cases = Seq(
      "[babylonisch ba*#babbeln ba*]" -> Seq("babbeln", "baby", "babyboom", "babylonisch"),
      "[aachen aa*#aargau aa*]" -> Seq("aachen", "aal", "aalglatt", "aargau"),
      "[aal.aalglatt aa*#aargau aa*#aachen aa*]" -> Seq("aachen", "aal", "aalglatt", "aargau"),
      "[aachen a*#babbeln b*]" -> Nil)
    for ((block, want) <- cases; src <- sources)
      assert(rows(Eval.joinBlockTerms(src, block)) === want.map(Seq(_)),
        s"$block over ${src.getClass.getSimpleName}")
  }

  test("extraction invariant: byte-identical text per url (FIXTURES §6)") {
    val web = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    val bad = web.select($"url", $"html", $"text").as[(String, Array[Byte], String)]
      .map { case (url, html, text) =>
        (url, WebCorpus.extractText(html) == text)
      }.filter(!_._2).count()
    assert(bad === 0L)
  }

  test("tokenizer parity: Spark pipeline equals sequential scorer input") {
    // row-wise: postings per doc == Tokenizer.tokenize applied sequentially
    val docs = corpus.collect().map(r => r.getLong(0) -> r.getString(1))
    val fromSpark = Analysis.postings(corpus).collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.pos).map(_.term).toSeq).toMap
    docs.foreach { case (id, text) =>
      assert(fromSpark.getOrElse(id, Seq()) === Tokenizer.tokenize(text))
    }
  }
}
