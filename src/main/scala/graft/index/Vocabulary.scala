package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** An index dictionary held on the driver as packed arrays -- the
  * reference's in-RAM sorted vocabulary (Vocabulary.h:17-33, 45-50):
  * the term id is the array index, and exact-word, prefix and word-range
  * lookups are binary searches (findWord / prefixToRange,
  * CompleterBase.cpp:2505-2636), a few microseconds each, no Spark job;
  * a fuzzy word is one edit-distance pass over the packed terms
  * ([[withinEdits]]).
  *
  * Layout: the UTF-8 bytes of every term concatenated in id order
  * (`bytes`), term i spanning `offsets(i) until offsets(i + 1)`, its
  * document frequency in `dfs(i)`. Driver cost per term: its UTF-8 length
  * plus 12 bytes (a 4-byte offset and an 8-byte df) -- about 20 bytes for
  * an 8-byte term, 2 GB for a 100M-term vocabulary. The reference pays the
  * same: it holds every term string in RAM, indexed by word id.
  *
  * Ordering argument. The build assigns term ids with
  * [[graft.core.DenseRank]] in Spark's string order, `UTF8String.compareTo`:
  * unsigned lexicographic order of the UTF-8 bytes. Every lookup here
  * encodes its key the way a `lit(...)` literal is encoded
  * (`UTF8String.fromString`) and compares the same bytes in the same
  * order, so each binary search answers exactly what the dictionary
  * predicate of [[graft.query.CorpusAtomSource.atomPredicate]] selects:
  *  - `term === w`: the one id whose bytes equal w's ([[idOf]]);
  *  - `term.startsWith(p)`, a byte prefix: the extensions of p form ONE id
  *    block starting at the first term >= p, since every extension sorts
  *    at or after p and before any larger non-extension ([[prefixRange]]);
  *  - `term >= lo && term <= hi`: ids from the first term >= lo up to the
  *    last term <= hi, empty when lo > hi ([[range]]).
  * Java's `String.compareTo` (UTF-16 code units) is NOT this order once
  * supplementary-plane characters appear: it puts U+FB01 'ﬁ' (0xFB01)
  * after '😀' (surrogate 0xD83D), while UTF-8 puts 'ﬁ' (EF AC 81) before
  * '😀' (F0 9F 98 80). [[Vocabulary.load]] checks that ids are dense and
  * that the bytes strictly ascend in id order, and fails loudly otherwise,
  * so an index whose ids follow another order can never answer a wrong
  * range.
  */
final class Vocabulary private (bytes: Array[Byte], offsets: Array[Int],
                                dfs: Array[Long]) {

  def size: Int = dfs.length

  def term(id: Int): String =
    UTF8String.fromBytes(bytes, offsets(id), offsets(id + 1) - offsets(id)).toString

  def df(id: Int): Long = dfs(id)

  /** The id of `w`, or -1 when it is not a term. */
  def idOf(w: String): Int = {
    val key = Vocabulary.utf8(w)
    val i = lowerBound(key)
    if (i < size && compareTo(i, key) == 0) i else -1
  }

  /** The [lo, hi] id block of the terms starting with `prefix`. */
  def prefixRange(prefix: String): Option[(Int, Int)] = {
    val key = Vocabulary.utf8(prefix)
    val lo = lowerBound(key)
    // within [lo, size) "starts with key" holds on a leading block only
    var a = lo
    var b = size
    while (a < b) {
      val mid = (a + b) >>> 1
      if (startsWith(mid, key)) a = mid + 1 else b = mid
    }
    if (a > lo) Some((lo, a - 1)) else None
  }

  /** The [lo, hi] id block of the terms t with `lo <= t <= hi`. */
  def range(lo: String, hi: String): Option[(Int, Int)] = {
    val first = lowerBound(Vocabulary.utf8(lo))
    val end = upperBound(Vocabulary.utf8(hi))
    if (first < end) Some((first, end - 1)) else None
  }

  /** The ids of the terms within `thr` edits of `w` (Levenshtein distance
    * in code points), ascending, and the closest of them: least distance,
    * ties to the lowest id, which is Spark's `orderBy(d, term)` since ids
    * follow the terms' byte order; -1 when no term is within `thr`.
    * Exactly the ids `dictionary.filter(levenshtein(term, lit(w)) <= thr)`
    * selects: the distance is Spark's own
    * `UTF8String.levenshteinDistance`, run on zero-copy views of the packed
    * bytes, and the byte-length prefilter skips only terms that cannot be
    * within `thr` -- an edit changes a UTF-8 length by at most 4 bytes,
    * and a term has at most as many code points as bytes.
    *
    * Cost: one pass over the vocabulary, O(V) per call. Measured warm on
    * a shared 4-core host over synthetic ASCII vocabularies (terms of 3-12
    * letters, `thr` = length / 4): 2-10 ms per word for 40K terms, 50-190
    * ms for 1M. A vocabulary well past that wants a candidate filter
    * verified by the same distance (q-grams or deletion neighbourhoods).
    */
  def withinEdits(w: String, thr: Int): (Array[Int], Int) = {
    editScans.incrementAndGet()
    val key = UTF8String.fromString(w)
    val minLen = math.max(key.numChars - thr, key.numBytes - 4 * thr)
    val maxLen = key.numBytes + 4 * thr
    val ids = Array.newBuilder[Int]
    var closest = -1
    var best = Int.MaxValue
    var i = 0
    while (i < size) {
      val off = offsets(i)
      val len = offsets(i + 1) - off
      if (len >= minLen && len <= maxLen) {
        val d = UTF8String.fromBytes(bytes, off, len).levenshteinDistance(key, thr)
        if (d >= 0) {
          ids += i
          if (d < best) { best = d; closest = i }
        }
      }
      i += 1
    }
    (ids.result(), closest)
  }

  /** [[withinEdits]] passes over this vocabulary (spec hook). */
  private[graft] val editScans = new java.util.concurrent.atomic.AtomicLong()

  /** Unsigned byte comparison of term `id` with `key`. */
  private def compareTo(id: Int, key: Array[Byte]): Int = {
    val off = offsets(id)
    val len = offsets(id + 1) - off
    val n = math.min(len, key.length)
    var i = 0
    while (i < n) {
      val c = (bytes(off + i) & 0xff) - (key(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    len - key.length
  }

  private def startsWith(id: Int, key: Array[Byte]): Boolean = {
    val off = offsets(id)
    if (offsets(id + 1) - off < key.length) return false
    var i = 0
    while (i < key.length) {
      if (bytes(off + i) != key(i)) return false
      i += 1
    }
    true
  }

  /** First id whose term is >= key (size when none). */
  private def lowerBound(key: Array[Byte]): Int = {
    var a = 0
    var b = size
    while (a < b) {
      val mid = (a + b) >>> 1
      if (compareTo(mid, key) < 0) a = mid + 1 else b = mid
    }
    a
  }

  /** First id whose term is > key (size when none). */
  private def upperBound(key: Array[Byte]): Int = {
    var a = 0
    var b = size
    while (a < b) {
      val mid = (a + b) >>> 1
      if (compareTo(mid, key) <= 0) a = mid + 1 else b = mid
    }
    a
  }
}

object Vocabulary {

  /** The UTF-8 bytes Spark compares for a string literal. */
  private def utf8(s: String): Array[Byte] = UTF8String.fromString(s).getBytes

  /** Collect a (term_id, term, df) dictionary into packed arrays: one
    * Spark job. Throws IllegalStateException when the ids are not exactly
    * 0 until n, when the terms do not strictly ascend in UTF-8 byte order
    * along the ids, or when the terms exceed 2 GB of UTF-8 (int offsets).
    */
  def load(dictionary: DataFrame): Vocabulary = {
    // the binary cast hands over the stored UTF-8 bytes undecoded
    val rows = dictionary
      .select(col("term_id"), col("term").cast("binary"), col("df"))
      .collect()
    val n = rows.length
    val terms = new Array[Array[Byte]](n)
    val dfs = new Array[Long](n)
    var total = 0L
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id < 0 || id >= n || terms(id.toInt) != null)
        throw new IllegalStateException(
          s"dictionary term ids are not dense 0 until $n (id $id)")
      val t = r.getAs[Array[Byte]](1)
      terms(id.toInt) = t
      dfs(id.toInt) = r.getLong(2)
      total += t.length
    }
    if (total > Int.MaxValue)
      throw new IllegalStateException(
        s"dictionary terms take $total bytes, past the 2 GB a resident vocabulary holds")
    val bytes = new Array[Byte](total.toInt)
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      System.arraycopy(terms(i), 0, bytes, offsets(i), terms(i).length)
      offsets(i + 1) = offsets(i) + terms(i).length
      i += 1
    }
    val v = new Vocabulary(bytes, offsets, dfs)
    i = 1
    while (i < n) {
      if (v.compareTo(i - 1, terms(i)) >= 0)
        throw new IllegalStateException(
          s"dictionary term ids ${i - 1} and $i are not in UTF-8 byte order: " +
            s"'${v.term(i - 1)}' then '${v.term(i)}'")
      i += 1
    }
    v
  }
}
