package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Every input the engine sees comes from here and
  * from the seed alone: the same seed gives byte-identical corpora and query
  * streams ([[fingerprint]] hashes them), a different seed different ones.
  *
  * Words are lowercase syllable strings, so the engine's tokenizer splits
  * the generated text into exactly the generated tokens; that lets the
  * generator count df and prefix postings itself and state how the inputs
  * sit against the engine's cache budgets before the engine has run.
  */
object Gen {

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "cr", "dr", "fl",
    "gr", "pl", "pr", "sh", "sk", "sl", "sp", "st", "th", "tr")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
  private val Codas = Array("", "", "", "n", "r", "s", "t", "l", "m", "ng", "ck")

  /** Vocabulary in Zipf rank order: word(r) has weight 1/(r+1)^s. Short
    * words are the frequent ones (1 syllable in the top 64 ranks, 2 up to
    * rank 3000, 3-4 beyond), as in natural text.
    */
  final class Vocab(val words: Array[String], s: Double) {
    private val cum: Array[Double] = {
      val c = new Array[Double](words.length)
      var acc = 0.0
      var r = 0
      while (r < words.length) { acc += 1.0 / math.pow(r + 1, s); c(r) = acc; r += 1 }
      c
    }
    def size: Int = words.length
    /** Zipf-distributed rank in [0, limit). */
    def draw(rng: SplittableRandom, limit: Int = words.length): Int = {
      val u = rng.nextDouble() * cum(limit - 1)
      var lo = 0
      var hi = limit - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def vocab(seed: Long, size: Int, s: Double = 1.0): Vocab = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val seen = mutable.HashSet.empty[String]
    val words = new Array[String](size)
    var r = 0
    while (r < size) {
      val syl = if (r < 64) 1 else if (r < 3000) 2 else 3 + rng.nextInt(2)
      val sb = new StringBuilder
      var k = 0
      while (k < syl) {
        sb ++= Onsets(rng.nextInt(Onsets.length))
        sb ++= Vowels(rng.nextInt(Vowels.length))
        sb ++= Codas(rng.nextInt(Codas.length))
        k += 1
      }
      val w = sb.toString
      if (w.length >= 2 && seen.add(w)) { words(r) = w; r += 1 }
    }
    new Vocab(words, s)
  }

  /** A generated corpus: token ids per doc, plus the exact per-word df. */
  final case class Corpus(vocab: Vocab, docs: Array[Array[Int]], df: Array[Int]) {
    def nDocs: Int = docs.length
    lazy val postings: Long = df.iterator.map(_.toLong).sum
    lazy val tokens: Long = docs.iterator.map(_.length.toLong).sum
    /** Occurrences of each word over the corpus (the positions an index holds). */
    lazy val cf: Array[Long] = {
      val a = new Array[Long](vocab.size)
      docs.foreach(_.foreach(w => a(w) += 1))
      a
    }
    /** Text of doc i: the tokens, with a sentence break every 8-20 tokens. */
    def text(i: Int): String = {
      val d = docs(i)
      val sb = new StringBuilder(d.length * 8)
      var nextBreak = 8 + (i * 7 + d.length) % 13
      var j = 0
      while (j < d.length) {
        if (j > 0) sb ++= (if (j == nextBreak) { nextBreak += 8 + (j % 13); ". " } else " ")
        sb ++= vocab.words(d(j))
        j += 1
      }
      sb ++= "."
      sb.toString
    }
  }

  /** `nDocs` documents with log-normal lengths (median `medianLen` tokens,
    * clamped to [8, 800]) of Zipf-drawn words.
    */
  def corpus(seed: Long, v: Vocab, nDocs: Int, medianLen: Int): Corpus = {
    val rng = new SplittableRandom(seed * 131 + 11)
    val df = new Array[Int](v.size)
    val lastDoc = Array.fill(v.size)(-1)
    val docs = Array.tabulate(nDocs) { i =>
      val len = math.max(8, math.min(800,
        math.round(medianLen * math.exp(0.6 * gaussian(rng))).toInt))
      val d = Array.fill(len)(v.draw(rng))
      d.foreach { w => if (lastDoc(w) != i) { lastDoc(w) = i; df(w) += 1 } }
      d
    }
    Corpus(v, docs, df)
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = math.max(rng.nextDouble(), 1e-12)
    val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  // ---- query streams ------------------------------------------------------

  /** Keystroke session for a target of 1-2 words, from the second letter
    * on (autocomplete clients fire from two letters): every prefix of the
    * last word as `p*`, the earlier word typed out first (`sp*`, `spa*`,
    * ..., `spark st*`, ...).
    */
  def keystrokes(target: Seq[String]): Seq[String] =
    target.indices.flatMap { i =>
      val before = target.take(i).mkString(" ")
      (2 to target(i).length).map(n =>
        (if (before.isEmpty) "" else before + " ") + target(i).take(n) + "*")
    }

  /** One-letter prefixes that match more than `capTerms` words (or the
    * largest one, if none does): prefixes LocalServe leaves to the
    * distributed plans.
    */
  def hullLetters(v: Vocab, capTerms: Int): Seq[String] = {
    val byLetter = v.words.groupBy(_.take(1)).map { case (l, ws) => l -> ws.length }.toSeq.sorted
    Some(byLetter.filter(_._2 > capTerms).map(_._1)).filter(_.nonEmpty)
      .getOrElse(Seq(byLetter.maxBy(_._2)._1))
  }

  /** Pool of typing targets drawn from the `headRanks` most popular words;
    * every third target has two words.
    */
  def typingPool(seed: Long, v: Vocab, poolSize: Int, headRanks: Int): Array[Seq[String]] = {
    val rng = new SplittableRandom(seed * 17 + 3)
    val seen = mutable.LinkedHashSet.empty[Seq[String]]
    while (seen.size < poolSize) {
      val n = if (seen.size % 3 == 2) 2 else 1
      val t = Seq.fill(n)(v.words(v.draw(rng, headRanks)))
      if (t.distinct.size == n && t.forall(_.length >= 3)) seen += t
    }
    seen.toArray
  }

  /** Order in which sessions pick pool targets: one block in which target
    * i appears in proportion to its Zipf weight 1/(i+1) (at least once),
    * seeded-shuffled. Repeating the block keeps the mix fixed in any
    * stretch of the run.
    */
  def sessionBlock(seed: Long, poolSize: Int, blockSize: Int): Array[Int] = {
    val w = (0 until poolSize).map(i => 1.0 / (i + 1))
    val counts = w.map(x => math.max(1, math.round(blockSize * x / w.sum).toInt))
    val block = counts.zipWithIndex.flatMap { case (c, i) => Seq.fill(c)(i) }.toArray
    val rng = new SplittableRandom(seed * 29 + 13)
    for (i <- block.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = block(i); block(i) = block(j); block(j) = t
    }
    block
  }

  /** `n` distinct queries over the whole grammar, words Zipf-drawn across
    * the whole vocabulary. Query shapes follow a fixed cycle of twenty, so
    * any stretch of the stream has the same mix: per twenty, five AND
    * pairs, four word + two- or three-letter prefix, two each of OR, NOT,
    * phrase, near and join block, and one query (5%) whose one-letter
    * prefix matches more than `capTerms` words.
    */
  val MissCycle = 20

  /** Shape of query `j` of a miss stream: shapes 0-9 twice per cycle, the
    * first candidate-cap query (9) replaced by an AND pair (0), so 1 query
    * in 20 falls back.
    */
  def missShape(j: Int): Int = j % MissCycle match {
    case 9 => 0
    case i => i % 10
  }

  def missStream(seed: Long, c: Corpus, n: Int, capTerms: Int): Array[String] = {
    val v = c.vocab
    val rng = new SplittableRandom(seed * 97 + 5)
    def w(): String = v.words(v.draw(rng))
    def pre(): String = { val x = w(); x.take(math.min(x.length, 2 + rng.nextInt(2))) + "*" }
    val heads = hullLetters(v, capTerms)
    def adjacent(): String = {
      val d = c.docs(rng.nextInt(c.nDocs))
      val j = rng.nextInt(d.length - 1)
      s"${v.words(d(j))}.${v.words(d(j + 1))}"
    }
    val shapes: Array[() => String] = Array(
      () => s"${w()} ${w()}",
      () => s"${w()} ${pre()}",
      () => s"${w()}|${w()} ${w()}",
      () => s"${w()} ${w()} -${w()}",
      () => adjacent(),
      () => s"${w()} ${pre()}",
      () => s"${w()} ${w()}",
      () => s"${w()}..${w()}",
      () => s"[${w()} ${pre()}#${w()} ${pre()}]",
      () => s"${w()} ${heads(rng.nextInt(heads.length))}*")
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val shape = shapes(missShape(out.size))
      var q = shape()
      while (out.contains(q)) q = shape()
      out += q
    }
    out.toArray
  }

  // ---- near-duplicate corpus ------------------------------------------------

  /** Dedup corpus: `nDocs` docs of which about a `dupRate` share are
    * planted near-duplicates of an earlier original (3% of tokens replaced;
    * a copy is kept only when its 5-shingle Jaccard to the original is at
    * least 0.6, well clear of the 0.5 threshold), and boilerplate footers
    * on 70% / 12% / 4% of originals for a skewed shingle df (the 70% footer
    * passes the default df cap of 1000 once nDocs > 1430). A copy carries
    * its original's footers. Returns the texts and the planted
    * (original, copy) doc-id pairs.
    */
  final case class DupCorpus(texts: Array[String], planted: Seq[(Long, Long)])

  def dupCorpus(seed: Long, v: Vocab, nDocs: Int, medianLen: Int, dupRate: Double): DupCorpus = {
    val rng = new SplittableRandom(seed * 53 + 19)
    val base = corpus(seed + 1, v, nDocs, medianLen)
    val footers = Seq(0.7, 0.12, 0.04).map { share =>
      (share, Array.fill(9)(3000 + rng.nextInt(v.size - 3000)))
    }
    val toks: Array[Array[Int]] = base.docs.map { d =>
      d ++ footers.collect { case (share, f) if rng.nextDouble() < share => f }.flatten
    }
    val isCopy = new Array[Boolean](nDocs)
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 1
    while (i < nDocs) {
      if (rng.nextDouble() < dupRate) {
        val b = rng.nextInt(i)
        if (!isCopy(b)) { // copies of copies would plant chains
          val d = toks(b).clone()
          val edits = math.max(1, d.length * 3 / 100)
          (0 until edits).foreach(_ => d(rng.nextInt(d.length)) = v.draw(rng))
          if (jaccard(shingles(toks(b).map(v.words(_)), 5),
                shingles(d.map(v.words(_)), 5)) >= 0.6) {
            toks(i) = d
            isCopy(i) = true
            planted += ((b.toLong, i.toLong))
          }
        }
      }
      i += 1
    }
    DupCorpus(toks.map(_.map(v.words(_)).mkString(" ")), planted.toSeq)
  }

  /** Distinct n-token shingles, the shape [[graft.ops.Dedup.shingles]] uses. */
  def shingles(tokens: Array[String], n: Int): Set[String] =
    if (tokens.length < n) Set.empty
    else tokens.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    if (a.isEmpty && b.isEmpty) 0.0 else common.toDouble / (a.size + b.size - common)
  }

  /** Stable hash of any generated input (its strings in order). */
  def fingerprint(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
