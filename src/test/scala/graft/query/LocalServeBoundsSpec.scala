package graft.query

import graft.index.IndexReader
import graft.query.LocalServe.LocalAtom
import graft.query.QueryParser.{Atom, Word}
import org.scalatest.funsuite.AnyFunSuite

/** The two bounds LocalServe's exactness and memory rest on, pinned at
  * their boundaries on synthetic inputs (no Spark): the 1e-4 rounding
  * window of [[LocalServe.roundedTop]] and the weight budget of the atom
  * LRU ([[LocalServe.atomLru]]: the shared [[graft.core.Lru]] core under
  * the atom weigher and [[IndexReader.LocalListBudgetPostings]]).
  */
class LocalServeBoundsSpec extends AnyFunSuite {

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The reference: round every row, order all of them, take n. */
  private def fullOrder(ids: Array[Long], scores: Array[Double], n: Int,
                        asc: Boolean): Seq[(Long, Double)] = {
    val rounded = ids.indices.map(i => (ids(i), round4(scores(i))))
    (if (asc) rounded.sortBy { case (d, s) => (s, d) }
     else rounded.sortBy { case (d, s) => (-s, d) }).take(n)
  }

  test("rounding window: a doc outside the raw top-n that rounds equal wins on doc_id") {
    // raw top-1 is doc 5 (1.00004); doc 2 (0.99996) is outside it but
    // rounds to the same 1.0 and wins the doc_id tiebreak; doc 9 (0.9998)
    // lies outside the window and stays out
    val ids = Array(5L, 2L, 9L)
    val desc = Array(1.00004, 0.99996, 0.9998)
    assert(LocalServe.roundedTop(ids, desc, 1, asc = false) === Seq((2L, 1.0)))
    assert(LocalServe.roundedTop(ids, desc, 2, asc = false) === Seq((2L, 1.0), (5L, 1.0)))
    // ascending mirrors it: raw bottom-1 is doc 5 (0.99996); doc 2
    // (1.00004) rounds equal and wins
    val asc = Array(0.99996, 1.00004, 1.0002)
    assert(LocalServe.roundedTop(ids, asc, 1, asc = true) === Seq((2L, 1.0)))
    assert(LocalServe.roundedTop(ids, asc, 2, asc = true) === Seq((2L, 1.0), (5L, 1.0)))
  }

  test("rounding window: n at or past the row count orders every row") {
    val ids = Array(7L, 3L, 4L)
    val scores = Array(0.5, 2.00004, 1.99996)
    for (n <- Seq(3, 4, 100); asc <- Seq(false, true))
      assert(LocalServe.roundedTop(ids, scores, n, asc) === fullOrder(ids, scores, n, asc))
    assert(LocalServe.roundedTop(ids, scores, 3, asc = false) ===
      Seq((3L, 2.0), (4L, 2.0), (7L, 0.5)))
    assert(LocalServe.roundedTop(ids, scores, 0, asc = false).isEmpty)
    assert(LocalServe.roundedTop(Array.empty, Array.empty, 10, asc = false).isEmpty)
  }

  test("rounding window: equals ordering every row on dense near-ties, both orders") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 50) {
      val m = 1 + rnd.nextInt(40)
      // scores on a 1e-5 grid around three centres: many rows round equal
      val scores = Array.fill(m)(Seq(1.0, 1.0001, 2.5)(rnd.nextInt(3)) +
        (rnd.nextInt(21) - 10) * 1e-5)
      val ids = rnd.shuffle((0L until m.toLong).toVector).toArray
      for (n <- 1 to m + 1; asc <- Seq(false, true))
        assert(LocalServe.roundedTop(ids, scores, n, asc) === fullOrder(ids, scores, n, asc),
          s"n=$n asc=$asc scores=${scores.toSeq}")
    }
  }

  /** One row holding `weight - 1` positions: LRU weight exactly `weight`. */
  private def atomOfWeight(weight: Long): LocalAtom =
    LocalAtom(Array(0L), Array("t"), Array(0, 1), Array(1L), Array(1L), Array(1.0), Array(1.0),
      Array(new Array[Int]((weight - 1).toInt)))

  private val Budget = IndexReader.LocalListBudgetPostings

  /** The atom LRU as LocalServe builds it, keyed by (epoch, atom). */
  private final class AtomLru {
    private val lru = LocalServe.atomLru()
    assert(lru.maxWeight === Budget)
    def put(epoch: Long, atom: Atom, la: LocalAtom): LocalAtom =
      lru.putIfAbsent((epoch, atom), la)
    def get(epoch: Long, atom: Atom): LocalAtom = lru.get((epoch, atom))
    def count: Int = lru.size
  }

  test("atom LRU: total weight exactly at the budget keeps every entry") {
    val cache = new AtomLru
    val a = atomOfWeight(Budget / 2)
    val b = atomOfWeight(Budget - Budget / 2)
    assert(a.weight + b.weight === Budget)
    assert(cache.put(0L, Word("a"), a) eq a)
    assert(cache.put(0L, Word("b"), b) eq b)
    assert(cache.count === 2)
    assert((cache.get(0L, Word("a")) eq a) && (cache.get(0L, Word("b")) eq b))
  }

  test("atom LRU: budget + 1 evicts the least recently used entry") {
    val cache = new AtomLru
    val a = atomOfWeight(Budget / 2)
    val b = atomOfWeight(Budget - Budget / 2)
    cache.put(0L, Word("a"), a)
    cache.put(0L, Word("b"), b)
    cache.get(0L, Word("a")) // a is now more recent than b
    val c = atomOfWeight(1)
    assert(cache.put(0L, Word("c"), c) eq c)
    assert(cache.count === 2)
    assert(cache.get(0L, Word("b")) == null, "the least recently used entry goes")
    assert((cache.get(0L, Word("a")) eq a) && (cache.get(0L, Word("c")) eq c))
  }

  test("atom LRU: a single entry over the budget is kept, alone") {
    val cache = new AtomLru
    val big = atomOfWeight(Budget + 1)
    assert(cache.put(0L, Word("big"), big) eq big)
    assert(cache.count === 1)
    // inserting it next to others evicts them, never itself
    val small = new AtomLru
    small.put(0L, Word("x"), atomOfWeight(10))
    small.put(0L, Word("y"), atomOfWeight(10))
    assert(small.put(0L, Word("big"), big) eq big)
    assert(small.count === 1 && (small.get(0L, Word("big")) eq big))
    // the epoch is part of the key: a rebuilt index never sees old atoms
    assert(small.get(1L, Word("big")) == null)
  }
}
