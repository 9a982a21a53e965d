package graft

import graft.core.DenseRank
import graft.index.{IndexReader, Vocabulary}
import graft.query.{CorpusAtomSource, Executor, IndexAtomSource}
import graft.query.QueryParser._
import org.apache.spark.sql.functions.{col, levenshtein, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The resident vocabulary must resolve every atom to exactly the term
  * ids the dictionary predicate selects, including where UTF-16
  * `String.compareTo` and Spark's UTF-8 byte order disagree and where
  * code points take several UTF-8 bytes.
  */
class VocabularySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 'ﬁ' (U+FB01) sorts after '😀' (U+1F600) in UTF-16 and before it in UTF-8
  private val alphabet = Seq("a", "s", "t", "z", "é", "ß", "ﬁ", "中", "😀", "🚀")

  private val fixed = Seq("ﬁx", "😀x", "st", "str", "stream", "streams", "strength",
    "merge", "fast", "quick", "a", "zzzz", "é", "😀", "spark", "stak", "spaké")

  lazy val terms: Seq[String] = {
    val rng = new scala.util.Random(17)
    val random = Seq.fill(700)(Seq.fill(1 + rng.nextInt(4))(
      alphabet(rng.nextInt(alphabet.length))).mkString)
    (fixed ++ random).distinct
  }

  /** A dictionary-only index dir: ids from the build's DenseRank. */
  lazy val reader: IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_vocab").toString
    val rng = new scala.util.Random(5)
    DenseRank.withDenseIdByPrefix(terms.map(t => (t, 1L + rng.nextInt(50)))
        .toDF("term", "df"), "term", "term_id")
      .select(col("term_id"), col("term"), col("df"))
      .write.parquet(s"$dir/dictionary")
    new IndexReader(spark, dir)
  }

  private def viaScan(atom: Atom): Seq[(Long, String, Long)] =
    reader.dictionary.filter(CorpusAtomSource.atomPredicate(atom))
      .select(col("term_id"), col("term"), col("df"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  private def assertExact(atom: Atom): Unit = {
    val want = viaScan(atom)
    val src = new IndexAtomSource(reader)
    val (runs, slice) = src.candidateRunsSlice(atom)
    // the driver-serving resolution: the same ids, no slice
    assert(src.exactRuns(atom).flatMap { case (lo, hi) => lo to hi } === want.map(_._1),
      s"exact runs of $atom")
    if (want.isEmpty) assert(runs.isEmpty && slice.isEmpty, s"atom $atom")
    else {
      assert(want.length <= IndexAtomSource.MaxExactIds, s"test atom too wide: $atom")
      assert(slice.map(_.toSeq) === Some(want), s"atom $atom")
      assert(runs.flatMap { case (lo, hi) => lo to hi } === want.map(_._1), s"runs of $atom")
    }
  }

  test("the two orders disagree on the test terms, and the ids follow UTF-8") {
    assert("ﬁx".compareTo("😀x") > 0, "UTF-16 order puts ﬁx after 😀x")
    val ids = reader.dictionary.collect().map(r =>
      r.getAs[String]("term") -> r.getAs[Long]("term_id")).toMap
    assert(ids("ﬁx") < ids("😀x"), "UTF-8 byte order puts ﬁx first")
    assert(reader.vocabulary.size === terms.size)
  }

  test("boundary atoms resolve exactly like the dictionary predicate") {
    val syn = Executor.synonymsOf("quick")
    assert(syn.size > 2 && syn.exists(t => !terms.contains(t)),
      "precondition: a synonym group with members missing from the vocabulary")
    Seq[Atom](
      Word("st", prefix = true), // a prefix that is itself a term
      Word("str", prefix = true),
      Word("🚀🚀🚀🚀🚀", prefix = true), // past the last term
      Word("ﬁ", prefix = true), Word("😀", prefix = true),
      Word("\uD83D", prefix = true), // a lone surrogate encodes as '?'
      Word("", prefix = true),
      Word("nosuchword"), Word("stream"), Word("😀x"), Word("ﬁx", not = true),
      Word("stream", exact = true),
      WordRange("z", "a"), // lo > hi
      WordRange("ﬁ", "😀"), WordRange("a", "a"), WordRange("st", "stream"),
      WordRange("", "b"), WordRange("😀", ""),
      Word("quick", synonym = true), Word("merge", synonym = true),
      Word("nosuchword", synonym = true),
      OrAtoms(Seq(Word("st", prefix = true), Word("stream"))), // overlapping
      OrAtoms(Seq(WordRange("s", "t"), Word("😀", prefix = true), Word("nosuchword"))),
      OrAtoms(Seq(Word("a"), Word("a")))
    ).foreach(assertExact)
  }

  test("randomized atoms resolve exactly like the dictionary predicate") {
    val rng = new scala.util.Random(42)
    def cps(s: String): Seq[String] =
      s.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    def someTerm(): String = terms(rng.nextInt(terms.length))
    def mutate(t: String): String = rng.nextInt(4) match {
      case 0 => t
      case 1 => cps(t).take(rng.nextInt(cps(t).length + 1)).mkString
      case 2 => t + alphabet(rng.nextInt(alphabet.length))
      case _ => Seq.fill(1 + rng.nextInt(3))(alphabet(rng.nextInt(alphabet.length))).mkString
    }
    def word(): Atom = rng.nextInt(3) match {
      case 0 => Word(mutate(someTerm()))
      case 1 => Word(mutate(someTerm()), prefix = true)
      case _ => WordRange(mutate(someTerm()), mutate(someTerm()))
    }
    val atoms = Seq.fill(150)(
      if (rng.nextInt(4) == 0) OrAtoms(Seq.fill(2 + rng.nextInt(2))(word())) else word())
    atoms.foreach(assertExact)
  }

  /** (term_id) of `dictionary.filter(levenshtein(term, w) <= thr)`, ascending. */
  private def fuzzyViaScan(w: String, thr: Int): Seq[Long] =
    reader.dictionary.filter(levenshtein(col("term"), lit(w)) <= thr)
      .select(col("term_id")).collect().map(_.getLong(0)).toSeq.sorted

  /** The distributed plans' closest word: `orderBy(d, term).limit(1)`. */
  private def closestViaScan(w: String, thr: Int): Option[String] =
    reader.dictionary.filter(levenshtein(col("term"), lit(w)) <= thr)
      .select(col("term"), levenshtein(col("term"), lit(w)).as("d"))
      .orderBy(col("d"), col("term")).limit(1)
      .collect().headOption.map(_.getString(0))

  test("fuzzy words resolve exactly like levenshtein over the dictionary") {
    val v = reader.vocabulary
    def ids(w: String, thr: Int): Seq[Long] = v.withinEdits(w, thr)._1.toSeq.map(_.toLong)
    def idOf(t: String): Long = v.idOf(t).toLong
    // multi-byte code points count as one edit: `stream` is 1 edit from
    // `str😀am` (in at thr 1), `streams` 2 (out at thr 1, in at 2), though
    // their byte lengths differ by 3 and 2
    assert(ids("str😀am", 1).contains(idOf("stream")))
    assert(!ids("str😀am", 1).contains(idOf("streams")))
    assert(ids("str😀am", 2).contains(idOf("streams")))
    assert(ids("ﬁ😀", 1).contains(idOf("ﬁx")) && !ids("ﬁ😀", 1).contains(idOf("😀x")))
    assert(ids("spak", 1).contains(idOf("spaké")) && !ids("spak", 0).contains(idOf("spaké")))
    val words = Seq("str😀am", "ﬁ😀", "spak", "sta", "é", "😀", "😀😀", "ée", "ﬁ",
      "streamé", "\uD83D", "", "nosuchword", "zzz")
    for (w <- words; thr <- 0 to 3)
      assert(ids(w, thr) === fuzzyViaScan(w, thr), s"w=$w thr=$thr")
    // the closest word: least distance, ties to the smaller term (`st` and
    // `stak` are among the terms 1 edit from `sta`, none is 0)
    assert(v.idOf("sta") < 0 && reader.dictionary
      .filter(levenshtein(col("term"), lit("sta")) === 1).count() > 1, "precondition: a tie")
    for (w <- words; thr <- 0 to 2) {
      val c = v.withinEdits(w, thr)._2
      assert((if (c < 0) None else Some(v.term(c))) === closestViaScan(w, thr), s"w=$w thr=$thr")
    }
    assert(new IndexAtomSource(reader).bestMatchWord(Word("sta", fuzzy = true)) ===
      closestViaScan("sta", Executor.fuzzyThreshold("sta")))
  }

  test("fuzzy atoms and fuzzy OR alternatives resolve exactly like the dictionary predicate") {
    // `stak` matches both alternatives: the OR resolves it once
    val or = OrAtoms(Seq(Word("st", prefix = true), Word("spak", fuzzy = true)))
    assert(viaScan(Word("st", prefix = true)).exists(_._2 == "stak") &&
      viaScan(Word("spak", fuzzy = true)).exists(_._2 == "stak"))
    assertExact(or)
    Seq[Atom](Word("spak", fuzzy = true), Word("str😀am", fuzzy = true),
      Word("😀😀", fuzzy = true), Word("nosuchword", fuzzy = true),
      OrAtoms(Seq(Word("ﬁ", fuzzy = true), Word("😀", fuzzy = true)))).foreach(assertExact)
    val rng = new scala.util.Random(23)
    Seq.fill(40)(terms(rng.nextInt(terms.length)) + alphabet(rng.nextInt(alphabet.length)))
      .foreach(w => assertExact(Word(w, fuzzy = true)))
  }

  test("the load refuses ids that are not dense or not in UTF-8 byte order") {
    def load(rows: Seq[(Long, String, Long)]): Vocabulary =
      Vocabulary.load(rows.toDF("term_id", "term", "df"))
    assert(load(Seq((1L, "😀x", 1L), (0L, "ﬁx", 2L))).idOf("😀x") === 1)
    // ids in UTF-16 order: refused
    assert(intercept[IllegalStateException](
      load(Seq((0L, "😀x", 1L), (1L, "ﬁx", 2L)))).getMessage.contains("byte order"))
    assert(intercept[IllegalStateException](
      load(Seq((0L, "a", 1L), (2L, "b", 1L)))).getMessage.contains("dense"))
    assert(intercept[IllegalStateException](
      load(Seq((0L, "a", 1L), (0L, "b", 1L)))).getMessage.contains("dense"))
  }
}
