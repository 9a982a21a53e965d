package graft

import graft.query.{Executor, QueryParser}
import graft.query.QueryParser._
import org.scalatest.funsuite.AnyFunSuite

class QueryParserSpec extends AnyFunSuite {

  test("splitAtLastSeparator analog: parts and separators") {
    val q = QueryParser.parse("sched* alg*")
    assert(q.parts.length === 2)
    assert(q.parts(0).atom === Word("sched", prefix = true))
    assert(q.parts(1).sep === Some(SameDoc))
  }

  test("phrase, near, same-pos separators") {
    assert(QueryParser.parse("a.b").parts(1).sep === Some(Phrase))
    assert(QueryParser.parse("a..b").parts(1).sep === Some(Near))
    assert(QueryParser.parse("a=b").parts(1).sep === Some(SamePos))
  }

  test("word modifiers: NOT, exact, fuzzy, synonym") {
    assert(QueryParser.parse("x -y").parts(1).atom === Word("y", not = true))
    assert(QueryParser.parse("y$").parts(0).atom === Word("y", exact = true))
    assert(QueryParser.parse("y~").parts(0).atom === Word("y", fuzzy = true))
    assert(QueryParser.parse("y^").parts(0).atom === Word("y", synonym = true))
  }

  test("OR alternatives and word ranges") {
    assert(QueryParser.parse("a|b|c*").parts(0).atom ===
      OrAtoms(Seq(Word("a"), Word("b"), Word("c", prefix = true))))
    assert(QueryParser.parse("year:1997--year:2005").parts(0).atom ===
      WordRange("year:1997", "year:2005"))
  }

  test("join blocks nest full queries") {
    val q = QueryParser.parse("[a b*#c]")
    q.parts(0).atom match {
      case JoinBlock(Seq(l, r)) =>
        assert(l.parts.length === 2 && r.parts.length === 1)
        assert(l.parts(1).atom === Word("b", prefix = true))
      case other => fail(s"expected JoinBlock, got $other")
    }
    // n-ary blocks split at every top-level '#' (reference folds
    // [q1#q2#q3] pairwise, CompleterBase.cpp:592-609)
    QueryParser.parse("[a#b c#d*]").parts(0).atom match {
      case JoinBlock(ps) =>
        assert(ps.length === 3)
        assert(ps(1).parts.length === 2)
        assert(ps(2).parts(0).atom === Word("d", prefix = true))
      case other => fail(s"expected 3-part JoinBlock, got $other")
    }
  }

  test("queries are lowercased like the indexed terms") {
    assert(QueryParser.parse("SPARK").parts(0).atom === Word("spark"))
    // special words are indexed with their field name's case and keep it
    assert(QueryParser.parse(":facet:Autor:*").parts(0).atom ===
      Word(":facet:Autor:", prefix = true))
    assert(QueryParser.parse("x -:filter:Autor:mann").parts(1).atom ===
      Word(":filter:Autor:mann", not = true))
    assert(QueryParser.parse(":facet:lang:*").parts(0).atom ===
      Word(":facet:lang:", prefix = true))
  }

  test("flexi separators: .,,. is +n, .;;. is -n (Separator.cpp:37-105)") {
    assert(QueryParser.parse("a.,.b").parts(1).sep === Some(Flexi(1)))
    assert(QueryParser.parse("a.,,.b").parts(1).sep === Some(Flexi(2)))
    assert(QueryParser.parse("a.;;;.b").parts(1).sep === Some(Flexi(-3)))
    assert(Flexi(2).window === Some((2, 2)))
    assert(Flexi(-1).window === Some((-1, -1)))
    // not a flexi (mixed markers / unterminated): ',' and ';' fall back to
    // their plain same-doc separator role (empty fragments collapse)
    assert(QueryParser.parse("a.,;.b").parts.length === 2)
    // unterminated marker run: the trailing ',' wins as a plain separator
    assert(QueryParser.parse("a.,b").parts(1).sep === Some(SameDoc))
  }

  test("OR binds looser than '--': range and prefix alternatives") {
    assert(QueryParser.parse("aal--aber|st*").parts(0).atom ===
      OrAtoms(Seq(WordRange("aal", "aber"), Word("st", prefix = true))))
  }

  test("normalizeWords rewrite: w -> w|w:*, diacritic exact -> norm:lower") {
    val q = QueryParser.parse("spark", normalizeWords = true)
    assert(q.parts(0).atom ===
      OrAtoms(Seq(Word("spark"), Word("spark:", prefix = true))))
    // exact words skip the prefix alternative; a word whose normalization
    // differs looks up only the norm:lower variant (Query.cpp:407-418)
    assert(QueryParser.parse("rené$", normalizeWords = true).parts(0).atom ===
      Word("rene:rené", exact = true))
    assert(QueryParser.parse("rene$", normalizeWords = true).parts(0).atom ===
      Word("rene", exact = true))
    // prefix/fuzzy/synonym/NOT words are not rewritten
    assert(QueryParser.parse("st*", normalizeWords = true).parts(0).atom ===
      Word("st", prefix = true))
    assert(QueryParser.parse("x -y", normalizeWords = true).parts(1).atom ===
      Word("y", not = true))
    // the rewrite recurses into join-block subqueries (round-4 fix: they
    // are parsed by the 1-arg parse, so the rewrite must be applied after)
    val jb = QueryParser.parse("[spark#flink]", normalizeWords = true).parts(0).atom
    jb match {
      case JoinBlock(Seq(l, r)) =>
        assert(l.parts(0).atom === OrAtoms(Seq(Word("spark"), Word("spark:", prefix = true))))
        assert(r.parts(0).atom === OrAtoms(Seq(Word("flink"), Word("flink:", prefix = true))))
      case other => fail(s"expected join block, got $other")
    }
  }

  test("any input over the grammar alphabet parses to >= 1 part with no empty OR, or is rejected") {
    import org.scalacheck.{Gen, Prop, Test}
    // every grammar character, plus a non-ASCII letter
    val query = Gen.listOf(Gen.oneOf("ab |*-$~^[]#.,;=é".toSeq)).map(_.mkString)
    def wellFormed(pq: ParsedQuery): Boolean = pq.parts.nonEmpty && pq.parts.forall {
      _.atom match {
        case OrAtoms(alts) => alts.nonEmpty
        case JoinBlock(ps) => ps.forall(wellFormed)
        case _ => true
      }
    }
    for (norm <- Seq(false, true)) {
      val prop = Prop.forAll(query) { q =>
        try wellFormed(QueryParser.parse(q, norm))
        catch { case _: IllegalArgumentException => true } // the server's 400
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(3000), prop)
      assert(result.passed,
        s"normalizeWords=$norm: ${org.scalacheck.util.Pretty.pretty(result)}")
    }
    // separator-only input and OR without alternatives, inside a join
    // block too
    for (q <- Seq(".", "..", "=", ";", ",", ".,,.", "|", "||", " | ", "a-~^.|;", "[.#a]"))
      assertThrows[IllegalArgumentException](QueryParser.parse(q))
  }
}

class ExecutorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "aachen aal aalglatt aargau"),
    (2L, "aachen aalglatt aal"),
    (3L, "babbeln baby babyboom babylonisch"),
    (4L, "babbeln baby babyboom")
  ).toDF("doc_id", "text")

  private def docsOf(q: String): Set[Long] =
    Executor.topK(corpus, q, 10).collect().map(_.getLong(0)).toSet

  test("single word, AND, NOT, OR through the grammar") {
    assert(docsOf("aachen") === Set(1L, 2L))
    assert(docsOf("aachen aargau") === Set(1L))
    assert(docsOf("aachen -aargau") === Set(2L))
    assert(docsOf("aargau|babylonisch") === Set(1L, 3L))
  }

  test("prefix and range atoms") {
    assert(docsOf("bab*") === Set(3L, 4L))
    assert(docsOf("aal--aargau") === Set(1L, 2L))
  }

  test("phrase vs near windows") {
    assert(docsOf("aal.aalglatt") === Set(1L))
    assert(docsOf("aal..aalglatt") === Set(1L, 2L))
  }

  test("fuzzy matches within edit distance") {
    assert(docsOf("aachen~") === Set(1L, 2L)) // exact term matches too
    assert(docsOf("aachan~") === Set(1L, 2L)) // 1 edit
  }

  test("chained three-part query stays left-deep") {
    assert(docsOf("babbeln baby babyboom") === Set(3L, 4L))
    assert(docsOf("babbeln.baby.babyboom") === Set(3L, 4L)) // chained phrases
  }

  test("windowed chain carries only MATCHED positions of the second list") {
    // 'babbeln baby' is adjacent (pos 3,4) and 'baby babyboom' is adjacent
    // (pos 0,1), but no CONTIGUOUS babbeln.baby.babyboom triple exists --
    // carrying all of baby's positions would falsely match this doc
    // (reference: intersect emits only the second list's matched postings)
    val c = (corpus.sparkSession.createDataFrame(Seq(
      (10L, "baby babyboom zzz babbeln baby"),
      (11L, "zzz babbeln baby babyboom zzz")))
      .toDF("doc_id", "text"))
    val r = Executor.topK(c, "babbeln.baby.babyboom", 10)
      .collect().map(_.getLong(0)).toSet
    assert(r === Set(11L))
  }

  test("windowed separator adjacent to a join block degrades to same-doc AND") {
    // join blocks carry no positions; '.' next to one must not crash
    assert(docsOf("babbeln.[babylonisch ba*#babbeln ba*]") === Set(3L, 4L))
    assert(docsOf("[babylonisch ba*#babbeln ba*].baby") === Set(3L, 4L))
  }

  test("join block [q1#q2] executes through the grammar") {
    // completions of ba* common to babylonisch-docs and babbeln-docs:
    // doc 3 carries all four; docs matching via common terms re-aggregate
    val r = Executor.topK(corpus, "[babylonisch ba*#babbeln ba*]", 10)
      .collect().map(_.getLong(0)).toSet
    assert(r === Set(3L, 4L)) // both sides' docs carrying common ba-terms
  }

  test("completions restricted to result docs") {
    val comps = Executor.completions(corpus, "babylonisch ba*", 10).collect()
      .map(_.getString(0)).toSet
    assert(comps === Set("babbeln", "baby", "babyboom", "babylonisch"))
  }

  test("score algebra: Max across parts / completions / occurrences") {
    import graft.query.QueryParams
    def scoresOf(q: String, p: QueryParams): Map[Long, Double] =
      Executor.topK(corpus, q, 10, p).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sumParts = scoresOf("aachen aal", QueryParams())
    val maxParts = scoresOf("aachen aal", QueryParams(partsAgg = QueryParams.Max))
    assert(maxParts.keySet === sumParts.keySet)
    // Max across parts <= Sum across parts, strictly when both scores > 0
    maxParts.foreach { case (d, s) => assert(s < sumParts(d)) }
    // Max across a prefix's completions = best single completion
    val sumCompl = scoresOf("aa*", QueryParams())
    val maxCompl = scoresOf("aa*", QueryParams(completionsAgg = QueryParams.Max))
    maxCompl.foreach { case (d, s) => assert(s <= sumCompl(d)) }
    // sameCompletion=Max scores tf>1 docs as a single occurrence: build a
    // doc where 'dup' repeats; its Max score must equal a tf=1 doc's shape
    val c2 = spark.createDataFrame(Seq(
      (1L, "dup dup dup x"), (2L, "dup y z w"))).toDF("doc_id", "text")
    val sumOcc = Executor.topK(c2, "dup", 10, QueryParams())
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxOcc = Executor.topK(c2, "dup", 10,
        QueryParams(sameCompletionAgg = QueryParams.Max))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sumOcc(1L) > maxOcc(1L)) // tf=3 saturates above BM25(1)
    assert(sumOcc(2L) === maxOcc(2L)) // tf=1: identical
    // equal dl => the tf=3 doc under Max scores exactly like the tf=1 doc
    assert(maxOcc(1L) === maxOcc(2L))
  }

  test("score algebra: word-side knobs on completions (s= chars)") {
    import graft.query.QueryParams
    // wordDiffDocsAgg=Max: completion score = best single doc, so it can
    // only drop (or hold) vs the Sum default
    val sums = Executor.completions(corpus, "aa*", 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val maxs = Executor.completions(corpus, "aa*", 10,
        QueryParams.withAggChars("SSSM")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(maxs.keySet === sums.keySet)
    maxs.foreach { case (t, s) => assert(s <= sums(t)) }
    intercept[IllegalArgumentException](QueryParams.withAggChars("SSS"))
    intercept[IllegalArgumentException](QueryParams.withAggChars("SSXQ"))
  }

  test("flexi separator and per-query window override evaluate") {
    import graft.query.QueryParams
    // corpus doc 1: aachen(0) aal(1) aalglatt(2) aargau(3)
    assert(docsOf("aachen.,,.aalglatt") === Set(1L)) // exactly +2
    assert(docsOf("aachen.,,,.aal") === Set.empty)   // +3 is aargau, not aal
    assert(docsOf("aalglatt.;;.aachen") === Set(1L)) // -2: aachen 2 BEFORE
    val narrow = Executor.topK(corpus, "aachen..aargau", 10,
      QueryParams(window = Some((-1, 1)))).collect().map(_.getLong(0)).toSet
    assert(narrow === Set.empty) // 3 apart; default [-10,10] would match
    assert(docsOf("aachen..aargau") === Set(1L))
  }

  test("normalizeWords: bare query finds diacritic docs via norm:lower variants") {
    import graft.query.QueryParams
    val c = spark.createDataFrame(Seq(
      (1L, "rené descartes"), (2L, "rene magritte"), (3L, "magritte art")))
      .toDF("doc_id", "text")
    def docs(q: String): Set[Long] =
      Executor.topK(c, q, 10, QueryParams(normalizeWords = true))
        .collect().map(_.getLong(0)).toSet
    assert(docs("rene") === Set(1L, 2L)) // plain term + rene:rené variant
    assert(docs("rené$") === Set(1L))    // exact diacritic form only
    assert(docs("rene$") === Set(2L))    // exact ascii form only
    // without normalization, rene does NOT find rené
    assert(Executor.topK(c, "rene", 10).collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("complex OR: range|prefix alternatives dedup overlapping terms") {
    // aal--aber contains all aa*-terms except aachen... and ab* none here;
    // alternative aal* overlaps the range -- terms must count ONCE
    val viaOr = Executor.topK(corpus, "aachen aal--aber|aal*", 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaRange = Executor.topK(corpus, "aachen aal--aber", 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // aal* ⊂ [aal, aber], so scores equal the plain-range query exactly
    assert(viaOr === viaRange)
  }
}

class ExcerptsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("generateAll: one window per match up to en, all matches highlighted") {
    val corpus = Seq(
      (1L, "x batch y z z z z batch w z z z batch q")).toDF("doc_id", "text")
    val hits = Seq(Tuple1(1L)).toDF("doc_id")
    val ex = graft.query.Excerpts.generateAll(corpus, hits,
        exact = Seq("batch"), prefixes = Seq.empty, er = 1, en = 2)
      .collect().head.getString(1)
    // matches at 1, 7, 12; en=2 -> first two anchors, er=1 windows
    assert(ex === "x <hl>batch</hl> y ... z <hl>batch</hl> w")
  }

  test("generateAll: multi-part ^ words match and highlight per part") {
    val corpus = Seq((1L, "the beethoven^ludwig sonata")).toDF("doc_id", "text")
    val hits = Seq(Tuple1(1L)).toDF("doc_id")
    val ex = graft.query.Excerpts.generateAll(corpus, hits,
        exact = Seq("ludwig"), prefixes = Seq.empty, er = 1, en = 3)
      .collect().head.getString(1)
    assert(ex === "the <hl>beethoven^ludwig</hl> sonata")
  }

  test("gate corpora contain no '^' (display-vs-index tokenizer divergence)") {
    // the excerpt oracles tokenize with the INDEX rules (split on '^');
    // the display tokenizer keeps '^' joined -- exact gate equality
    // therefore requires a caret-free corpus, which the shipped testdata is
    val corpus = graft.core.WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    assert(corpus.filter(org.apache.spark.sql.functions.col("text").contains("^")).isEmpty)
  }

  test("generateAll: overlapping windows clamp at doc edges") {
    val corpus = Seq((1L, "batch end")).toDF("doc_id", "text")
    val hits = Seq(Tuple1(1L)).toDF("doc_id")
    val ex = graft.query.Excerpts.generateAll(corpus, hits,
        exact = Seq("batch"), prefixes = Seq.empty, er = 2, en = 3)
      .collect().head.getString(1)
    assert(ex === "<hl>batch</hl> end")
  }
}
