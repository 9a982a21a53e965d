package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The one driver-side LRU ([[Lru]]) at the boundaries of its policy, on
  * synthetic entries (no Spark).
  */
class LruSpec extends AnyFunSuite {
  import LruSpec.V

  private def lru(maxEntries: Int = Int.MaxValue, maxWeight: Long = Long.MaxValue,
                  onEvict: V => Unit = _ => ()): Lru[String, V] =
    new Lru[String, V]("test", maxEntries, maxWeight, _.w, !_.pinned, onEvict)

  private def keys(c: Lru[String, V]): Seq[String] = {
    val ks = Seq.newBuilder[String]
    c.forEach((k, _) => ks += k)
    ks.result()
  }

  test("weight exactly at the budget keeps every entry; budget + 1 evicts the LRU entry") {
    val c = lru(maxWeight = 10)
    c.putIfAbsent("a", V(4))
    c.putIfAbsent("b", V(6))
    assert(c.size === 2 && c.weight === 10 && c.evictions === 0)
    c.get("a") // b is now the least recently used
    c.putIfAbsent("c", V(1))
    assert(keys(c) === Seq("a", "c"))
    assert(c.weight === 5 && c.evictions === 1)
  }

  test("one entry over the budget is held, alone") {
    val c = lru(maxWeight = 10)
    c.putIfAbsent("x", V(3))
    c.putIfAbsent("y", V(3))
    val big = V(11)
    assert(c.putIfAbsent("big", big) eq big)
    assert(keys(c) === Seq("big") && c.weight === 11)
    // the next insert evicts it like any other entry
    c.putIfAbsent("z", V(1))
    assert(keys(c) === Seq("z") && c.weight === 1)
  }

  test("the entry cap binds independently of the weight") {
    val c = lru(maxEntries = 2)
    Seq("a", "b", "c").foreach(k => c.putIfAbsent(k, V(0)))
    assert(keys(c) === Seq("b", "c") && c.evictions === 1)
    val w = lru(maxEntries = 2, maxWeight = 100)
    Seq("a", "b", "c").foreach(k => w.putIfAbsent(k, V(1)))
    assert(keys(w) === Seq("b", "c") && w.weight === 2)
  }

  test("entries that are not evictable are skipped; eviction ends when only they remain") {
    val c = lru(maxEntries = 2)
    c.putIfAbsent("p1", V(0, pinned = true))
    c.putIfAbsent("a", V(0))
    c.putIfAbsent("b", V(0))
    assert(keys(c) === Seq("p1", "b"), "the pinned eldest is skipped, the next goes")
    c.putIfAbsent("p2", V(0, pinned = true))
    assert(keys(c) === Seq("p1", "p2"))
    // only pinned entries and the youngest left: the map stays over its cap
    c.putIfAbsent("c", V(0))
    c.putIfAbsent("d", V(0))
    assert(keys(c) === Seq("p1", "p2", "d") && c.size === 3)
  }

  test("onEvict runs once per victim and never for the youngest entry") {
    val victims = Seq.newBuilder[V]
    val c = lru(maxWeight = 5, onEvict = victims += _)
    val a = V(2); val b = V(2); val big = V(9)
    c.putIfAbsent("a", a)
    c.putIfAbsent("b", b)
    c.putIfAbsent("big", big)
    assert(victims.result() === Seq(a, b))
    assert(victims.result().forall(_ ne big) && keys(c) === Seq("big"))
    assert(c.evictions === 2)
  }

  test("putIfAbsent and getOrCompute keep the held value; the counts add up") {
    val c = lru(maxEntries = 2)
    val first = V(1)
    assert(c.putIfAbsent("k", first) eq first)
    assert(c.putIfAbsent("k", V(1)) eq first, "the first insert wins")
    assert(c.weight === 1)
    assert(c.get("k") eq first)
    assert(c.get("missing") == null)
    assert(c.getOrCompute("k")(V(9)) eq first, "a hit keeps the held value")
    c.touch("k") // neither a hit nor a miss
    c.putIfAbsent("l", V(1))
    val m = V(1)
    assert(c.getOrCompute("m")(m) eq m)
    assert(c.hits === 2 && c.misses === 2 && c.evictions === 1)
    assert(c.size + c.evictions === 3, "every distinct insert is held or was evicted")
    c.clear()
    assert(c.size === 0 && c.weight === 0 && c.hits === 0 && c.misses === 0 &&
      c.evictions === 0)
  }

  test("8 threads of mixed putIfAbsent / get keep the weight and the cap exact") {
    val maxEntries = 40
    val c = lru(maxEntries = maxEntries, maxWeight = 200)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(t)
        start.await()
        for (_ <- 0 until 20000) {
          val k = s"k${rnd.nextInt(300)}"
          if (rnd.nextBoolean()) c.putIfAbsent(k, V(1 + rnd.nextInt(15)))
          else c.get(k)
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    var sum = 0L
    c.forEach((_, v) => sum += v.w)
    assert(c.weight === sum)
    assert(c.weight <= 200 && c.size <= maxEntries)
    assert(c.hits + c.misses > 0 && c.evictions > 0)
  }
}

object LruSpec {
  /** A value of a given weight; `pinned` ones are not evictable. */
  private final case class V(w: Long, pinned: Boolean = false)
}
