package graft

import graft.index.{IndexBuilder, IndexReader}
import graft.query.{CachedCorpusAtomSource, CachedIndexAtomSource, CorpusAtomSource, Eval,
  IndexQueryCache, QueryHistory}
import org.scalatest.funsuite.AnyFunSuite

/** The serving history's lifecycle contract (round-4 verdict items 1+2):
  * persisted atom relations have ONE deterministic owner, evicted by LRU
  * under an entry cap AND a byte budget -- a session answering arbitrarily
  * many distinct queries keeps bounded executor storage without ever
  * losing decode-once memoization (reference: History.h:25-110, the
  * byte-budgeted result cache every query answers through).
  */
class HistorySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta zeta eta theta"),
    (3L, "iota kappa lambda alpha mu"),
    (4L, "nu xi omicron pi rho sigma"),
    (5L, "tau upsilon phi chi psi omega")
  ).toDF("doc_id", "text")

  lazy val reader: IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_hist").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 1, blockSize = 4)
    new IndexReader(spark, dir)
  }

  test("byte budget: small entries accumulate, one oversized entry evicts the rest") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    // budget chosen so the five small single-word relations all fit
    val cache = new IndexQueryCache(maxEntries = 100, maxBytes = 64 * 1024)
    val src = new CachedIndexAtomSource(reader, cache)
    words.foreach { w => Eval.topK(src, w, 10).collect() }
    assert(cache.size === words.size, "small relations must accumulate")
    assert(cache.evictions === 0)
    val smallBytes = cache.cachedBytes
    assert(smallBytes > 0 && smallBytes <= 64 * 1024)

    // a budget smaller than ANY entry: each insert evicts the previous --
    // except the newest, which always stays (no thrash-to-empty)
    val tiny = new IndexQueryCache(maxEntries = 100, maxBytes = 1)
    val tsrc = new CachedIndexAtomSource(reader, tiny)
    words.foreach { w => Eval.topK(tsrc, w, 10).collect() }
    assert(tiny.size === 1, "over-budget entries evict eldest-first, newest survives")
    assert(tiny.evictions === words.size - 1)
    cache.clear(); tiny.clear()
  }

  test("entry cap: LRU eviction keeps the cache bounded across distinct queries") {
    val cache = new IndexQueryCache(maxEntries = 4, maxBytes = Long.MaxValue)
    val src = new CachedIndexAtomSource(reader, cache)
    val qs = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    qs.foreach { w => Eval.topK(src, w, 10).collect() }
    assert(cache.size === 4)
    assert(cache.evictions === qs.size - 4)
    cache.clear()
  }

  test("pinned entries survive LRU/byte pressure; unpinned still evict") {
    val cache = new IndexQueryCache(maxEntries = 3, maxBytes = Long.MaxValue)
    val src = new CachedIndexAtomSource(reader, cache)
    cache.pinningInserts { Eval.topK(src, "alpha", 10).collect() }
    assert(cache.pinnedCount === 1)
    // flood far past the entry cap: the pinned atom must never be evicted
    Seq("beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota")
      .foreach { w => Eval.topK(src, w, 10).collect() }
    assert(cache.size === 3) // cap respected (pinned + 2 survivors)
    assert(cache.pinnedCount === 1)
    assert(cache.evictions > 0) // unpinned entries did evict
    // fresh source (fresh per-query memo) so the lookup must go to the
    // history, not the source's own decode-once memo
    val missesBefore = cache.misses
    Eval.topK(new CachedIndexAtomSource(reader, cache), "alpha", 10).collect()
    assert(cache.misses === missesBefore, "pinned atom answers from history")
    assert(cache.hits > 0)
    cache.clear()
  }

  test("bounded executor storage + effective memo across many distinct single-shot queries") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val cache = new IndexQueryCache(maxEntries = 8, maxBytes = Long.MaxValue)
    // single-shot pattern: a FRESH source per query (the 3-arg IndexExecutor
    // shape), one shared history -- the round-3 leak was per-source persists
    // that nothing ever released
    val qs = (0 until 3).flatMap(_ => Seq("alpha beta", "alpha", "beta gamma",
      "delta", "epsilon", "zeta", "eta alpha", "theta", "iota", "kappa"))
    qs.foreach { q =>
      Eval.topK(new CachedIndexAtomSource(reader, cache), q, 10).collect()
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 9,
      s"persisted relations must stay bounded by the history cap (grew by ${after - before})")
    // repeated queries were answered from the history, not recomputed
    assert(cache.hits > 0)
    cache.clear()
  }

  test("corpus path: a prefix extension filters the cached relation, no rescan") {
    import graft.query.QueryParser.Word
    val c = Seq((1L, "schedule scheduling scheme"), (2L, "scheduling talk"))
      .toDF("doc_id", "text")
    val cache = new IndexQueryCache()
    val src = new CachedCorpusAtomSource(c, normVariants = false, cache)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "term", "tf", "positions", "score", "score1").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getSeq[Int](3),
          r.getDouble(4), r.getDouble(5))).sortBy(r => (r._1, r._2)).toSeq
    assert(rows(src.atomScored(Word("sch", prefix = true))).size === 4)
    assert(cache.misses === 1 && cache.filteredHits === 0)
    // `schedul*` after `sch*`: answered by filtering the cached relation
    val narrowed = rows(src.atomScored(Word("schedul", prefix = true)))
    assert(cache.misses === 1 && cache.filteredHits === 1)
    assert(narrowed.size === 3)
    assert(narrowed ===
      rows(new CorpusAtomSource(c).atomScored(Word("schedul", prefix = true))))
    cache.clear()
  }

  test("the default facades route through the process history") {
    val h0 = QueryHistory.default.hits + QueryHistory.default.misses +
      QueryHistory.default.filteredHits
    graft.query.IndexExecutor.topK(reader, "alpha beta", 10).collect()
    graft.query.Executor.topK(corpus, "alpha beta", 10).collect()
    val h1 = QueryHistory.default.hits + QueryHistory.default.misses +
      QueryHistory.default.filteredHits
    assert(h1 > h0, "3-arg executor entry points must answer through QueryHistory.default")
  }

  test("concurrent mixed queries through one history: correct results, sane counters") {
    val cache = new IndexQueryCache(maxEntries = 50, maxBytes = Long.MaxValue)
    val queries = Seq("alpha", "alpha beta", "al*", "alp*", "beta gamma",
      "iota kappa", "nu xi", "tau", "alpha -beta", "a*")
    // single-threaded reference answers
    val expected = queries.map { q =>
      q -> Eval.topK(new CachedIndexAtomSource(reader, cache), q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap
    // hammer the SAME cache from 8 threads x 5 rounds, shuffled order
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val tasks = (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              val order = new scala.util.Random(t).shuffle(queries ++ queries ++ queries)
              order.foreach { q =>
                val got = Eval.topK(new CachedIndexAtomSource(reader, cache), q, 10)
                  .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
                if (got != expected(q))
                  failures.add(s"thread $t query '$q': $got != ${expected(q)}")
              }
            } catch { case e: Throwable => failures.add(s"thread $t: $e") }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    // counter sanity: every resolution was a hit, filtered hit or miss, and
    // the cache stayed within its bounds
    assert(cache.hits + cache.filteredHits + cache.misses > 0)
    assert(cache.size <= 50)
    cache.clear()
  }

  test("borrow scope: handed-out relations survive eviction pressure mid-materialization") {
    // a byte budget smaller than ANY entry: every insert immediately tries
    // to evict everything else, so any relation handed to a still-running
    // query is under constant unpersist pressure -- the exact
    // "recompute-from-evicted" hazard the borrow scope closes. Without the
    // scope this mix corrupts or recomputes; with it, every result must
    // be bit-identical to the single-threaded reference answers.
    val cache = new IndexQueryCache(maxEntries = 3, maxBytes = 1)
    val queries = Seq("alpha", "alpha beta", "al*", "alp*", "beta gamma",
      "iota kappa", "tau", "a*")
    val expected = queries.map { q =>
      q -> Eval.topK(new graft.query.IndexAtomSource(reader), q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val tasks = (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              val order = new scala.util.Random(100 + t)
                .shuffle(queries ++ queries ++ queries)
              order.foreach { q =>
                // one request's hand-out + materialization, scope-guarded
                // exactly as the serving facade does it
                val got = cache.borrow {
                  Eval.topK(new CachedIndexAtomSource(reader, cache), q, 10)
                    .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
                }
                if (got != expected(q))
                  failures.add(s"thread $t query '$q': $got != ${expected(q)}")
              }
            } catch { case e: Throwable => failures.add(s"thread $t: $e") }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    // the pressure was real (evictions fired throughout) ...
    assert(cache.evictions > 0)
    // ... and the borrow refcounts all released: the next MISS (a term no
    // thread queried, so its insert must run an eviction pass) reclaims
    // every entry the pressure phase had to skip as in-flight
    cache.borrow {
      Eval.topK(new CachedIndexAtomSource(reader, cache), "omega", 10).collect()
    }
    assert(cache.size <= 3)
    cache.clear()
  }

  test("clear during a borrow scope defers the unpersist to scope exit") {
    import graft.query.QueryParser.Word
    val cache = new IndexQueryCache(maxEntries = 10, maxBytes = Long.MaxValue)
    val src = new CachedIndexAtomSource(reader, cache)
    val expected = src.atomScored(Word("alpha")).collect()
      .map(_.toString).toSet
    var handle: org.apache.spark.sql.DataFrame = null
    cache.borrow {
      handle = src.atomScored(Word("alpha")) // exact hit, lent to the scope
      cache.clear()
      // the clear must NOT have unpersisted the borrowed relation: a job
      // materializing it mid-request still reads the persisted data
      assert(handle.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
      assert(handle.collect().map(_.toString).toSet === expected)
    }
    // ... and the LAST reference release performed the deferred unpersist
    // (nothing leaks until JVM exit)
    assert(handle.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    cache.clear()
  }
}
