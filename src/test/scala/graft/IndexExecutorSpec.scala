package graft

import graft.index.{IndexBuilder, IndexReader}
import graft.query.{Executor, IndexExecutor, SynonymDictionary}
import org.scalatest.funsuite.AnyFunSuite

/** The full grammar served from the physical index must behave exactly
  * like the logical path (same Eval state machine, different AtomSource).
  */
class IndexExecutorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "aachen aal aalglatt aargau"),
    (2L, "aachen aalglatt aal"),
    (3L, "babbeln baby babyboom babylonisch"),
    (4L, "babbeln baby babyboom"),
    (5L, "merge aal"),
    (6L, "join aal zebra")
  ).toDF("doc_id", "text")

  lazy val reader: IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_qpix").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 1, blockSize = 4)
    IndexBuilder.buildDocsStore(spark,
      corpus.withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("u"), $"doc_id")), dir)
    new IndexReader(spark, dir)
  }

  private def ix(q: String): Set[Long] =
    IndexExecutor.topK(reader, q, 10).collect().map(_.getLong(0)).toSet
  private def lg(q: String): Set[Long] =
    Executor.topK(corpus, q, 10).collect().map(_.getLong(0)).toSet

  test("rebuild into the same dir: new reader serves the NEW index, caches included") {
    // a rebuild reproduces identical shard names, so plan root-path
    // identity alone would let Spark's cache manager substitute the old
    // index's cached/persisted relations into the new reader's plans.
    // Same-session rebuilds are covered by Spark's write-side
    // recacheByPath (which this test exercises); cross-process rebuilds
    // are covered by the epoch-change refresh at reader construction.
    val dir = java.nio.file.Files.createTempDirectory("graft_rebuild_ix").toString
    val c1 = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    IndexBuilder.build(spark, c1, dir, numShards = 1)
    val r1 = new IndexReader(spark, dir)
    val h1 = IndexExecutor.topK(r1, "alpha", 10).collect().map(_.getLong(0)).toSet
    assert(h1 === Set(1L, 2L))

    Thread.sleep(1100) // dictionary commit mtime granularity can be 1s
    // a rebuild deletes the old generation first (build itself is
    // resumable and would skip committed shards), then reproduces the
    // SAME shard names -- the aliasing scenario
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val c2 = Seq((7L, "alpha delta"), (8L, "epsilon zeta")).toDF("doc_id", "text")
    IndexBuilder.build(spark, c2, dir, numShards = 1)
    val r2 = new IndexReader(spark, dir)
    assert(r2.indexEpoch !== r1.indexEpoch)
    val h2 = IndexExecutor.topK(r2, "alpha", 10).collect().map(_.getLong(0)).toSet
    assert(h2 === Set(7L), "post-rebuild reader served the old index's data")
  }

  test("every grammar shape matches the logical path doc-for-doc") {
    val queries = Seq(
      "aachen", "aachen aargau", "aachen -aargau", "aargau|babylonisch",
      "bab*", "aal--aargau", "aal.aalglatt", "aal..aalglatt",
      "aachan~", "merge^", "babbeln.baby.babyboom",
      "[babylonisch ba*#babbeln ba*]")
    queries.foreach { q =>
      assert(ix(q) === lg(q), s"index vs logical mismatch for query: $q")
    }
  }

  test("algebra knobs / flexi / window / complex OR: paths score-identical") {
    import graft.query.QueryParams
    def both(q: String, p: QueryParams): Unit = {
      val a = IndexExecutor.topK(reader, q, 10, p).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Executor.topK(corpus, q, 10, p).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a === b, s"query: $q params: $p")
    }
    both("aachen aal", QueryParams(partsAgg = QueryParams.Max))
    both("aa*", QueryParams(completionsAgg = QueryParams.Max))
    both("aal", QueryParams(sameCompletionAgg = QueryParams.Max))
    both("aachen.,,.aalglatt", QueryParams())
    both("aachen..aargau", QueryParams(window = Some((-1, 1))))
    both("aachen aal--aber|aal*", QueryParams())
    val ca = IndexExecutor.completions(reader, "aachen aa*", 10,
      QueryParams.withAggChars("SSSM")).collect().toSeq
    val cb = Executor.completions(corpus, "aachen aa*", 10,
      QueryParams.withAggChars("SSSM")).collect().toSeq
    assert(ca === cb)
  }

  test("norm variants served from the blocks match the logical path") {
    import graft.query.QueryParams
    val c = Seq((1L, "rené descartes"), (2L, "rene magritte")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_norm").toString
    IndexBuilder.build(spark, c, dir, numShards = 1, blockSize = 4,
      normVariants = true)
    val r = new IndexReader(spark, dir)
    for (q <- Seq("rene", "rené$", "rene$", "descartes rene")) {
      val a = IndexExecutor.topK(r, q, 10, QueryParams(normalizeWords = true))
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val b = Executor.topK(c, q, 10, QueryParams(normalizeWords = true))
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      assert(a === b, s"query: $q")
    }
  }

  test("serving-session history: prefix extensions filter the cache, zero new block scans") {
    import graft.query.{IndexExecutor, IndexQueryCache}
    val cache = new IndexQueryCache()
    val r1 = IndexExecutor.topK(reader, "aa*", 10, cache = cache).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(cache.misses === 1 && cache.filteredHits === 0)
    // extend the prefix (the typing pattern): answered by FILTERING the
    // cached relation -- miss count must not move
    val r2 = IndexExecutor.topK(reader, "aal*", 10, cache = cache).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(cache.misses === 1 && cache.filteredHits === 1)
    // exact word under the cached prefix: also a filter, not a scan
    val r3 = IndexExecutor.topK(reader, "aalglatt", 10, cache = cache).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(cache.misses === 1 && cache.filteredHits === 2)
    // repeated query: pure hit
    IndexExecutor.topK(reader, "aal*", 10, cache = cache).collect()
    assert(cache.hits >= 1)
    // results identical to the uncached path
    assert(r2 === IndexExecutor.topK(reader, "aal*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq)
    assert(r3 === IndexExecutor.topK(reader, "aalglatt", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq)
    assert(r1.nonEmpty && r2.nonEmpty && r3.nonEmpty)
    cache.clear()
  }

  test("answerQueries -p: typing chain = last-word prefixes, query as typed last") {
    import graft.tools.AnswerQueriesMain.chainOf
    assert(chainOf("spark stream*") ===
      Seq("spark s*", "spark st*", "spark str*", "spark stre*", "spark strea*",
        "spark stream*"))
    assert(chainOf("hash") === Seq("h*", "ha*", "has*", "hash"))
    assert(chainOf("x") === Seq("x"))
    // no empty-prefix scans from separator positions: "batch." never
    // becomes "batch.*"
    assert(!chainOf("batch.batch").contains("batch.*"))
    assert(chainOf("batch.batch").last === "batch.batch")
  }

  test("completion server: HTTP round-trip answers the searchIndex JSON") {
    import graft.tools.CompletionServer
    assert(CompletionServer.parseQueryString("q=spark%20st*&h=5") ===
      Map("q" -> "spark st*", "h" -> "5"))
    val server = CompletionServer.start(spark, reader.dir, port = 0)
    try {
      val port = server.getAddress.getPort
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        // read to the end and close: the connection goes back to the
        // client's keep-alive cache
        val body = try scala.io.Source.fromInputStream(is, "UTF-8").mkString
          finally is.close()
        (code, body)
      }
      val (code, body) = get("/?q=babbeln%20ba*&h=5&c=5")
      assert(code === 200)
      val expected = graft.api.Search.searchIndex(reader, "babbeln ba*",
        k = 5, completionsK = 5).toJson
      assert(body === expected)
      // typing extension served through the server's history
      assert(get("/?q=babbeln%20bab*")._1 === 200)
      assert(get("/")._1 === 400) // missing q
      assert(get("/?q=spark&h=abc")._1 === 400) // bad number -> client error
      assert(get("/?q=spark&n=3")._1 === 400) // malformed window
      assert(get("/?q=spark&callback=x;alert(1)")._1 === 400) // JSONP injection
      assert(get("/?%71=babbeln")._1 === 200) // percent-encoded key decodes
      val (cbCode, cbBody) = get("/?q=babbeln&callback=cb")
      assert(cbCode === 200 && cbBody.startsWith("cb({") && cbBody.endsWith(")"))
      // per-request score algebra + window override (reference s= / n=)
      import graft.query.QueryParams
      val aggBody = get("/?q=aachen%20aal&s=SMSM")._2
      assert(aggBody === graft.api.Search.searchIndex(reader, "aachen aal",
        params = QueryParams.withAggChars("SMSM")).toJson)
      val winBody = get("/?q=aachen..aargau&n=-1..1")._2
      assert(winBody === graft.api.Search.searchIndex(reader, "aachen..aargau",
        params = QueryParams(window = Some((-1, 1)))).toJson)
      assert(winBody !== get("/?q=aachen..aargau")._2) // override changes hits
      // the rest of the reference request surface (QueryParameters.cpp:290-305)
      assert(get("/?q=aal&f=1&h=1")._2 === graft.api.Search.searchIndex(reader,
        "aal", k = 1, params = QueryParams(firstHit = 1)).toJson) // pagination
      assert(get("/?q=aal&rd=1d")._2 === graft.api.Search.searchIndex(reader,
        "aal", params = QueryParams.withRankDocs("1d")).toJson) // doc-id desc
      assert(get("/?q=aa*&rw=3")._2 === graft.api.Search.searchIndex(reader,
        "aa*", params = QueryParams.withRankWords("3")).toJson) // word order
      assert(get("/?q=aal&en=2&er=1")._2 === graft.api.Search.searchIndex(reader,
        "aal", excerptRadius = 1,
        params = QueryParams(excerptsPerHit = 2)).toJson) // excerpts per hit
      assert(get("/?q=aachan~&fd=0.5")._2 === graft.api.Search.searchIndex(reader,
        "aachan~", params = QueryParams(fuzzyDamping = 0.5)).toJson) // damping
      assert(get("/?q=aachan~&fd=0.5")._2 !== get("/?q=aachan~")._2)
      assert(get("/?q=aal&rd=9")._1 === 400) // unknown rank enum -> client error
      assert(get("/?q=aal&f=-1")._1 === 400) // negative offset -> client error
      // malformed GRAMMAR (join block without '#') is a 400, not a fake 500
      assert(get("/?q=%5Baal%20aachen%5D&h=5")._1 === 400)
      // separator-only queries and OR without alternatives: no part or no
      // alternative to evaluate -> client error
      for (q <- Seq(".", "..", "=", ";", ",", ".,,.", "|", "||", " | ", "a-~^.|;")) {
        val enc = java.net.URLEncoder.encode(q, java.nio.charset.StandardCharsets.UTF_8)
        assert(get(s"/?q=$enc")._1 === 400, s"q=$q")
      }
      // format=xml: the reference's default wire format on request
      val (xc, xb) = get("/?q=babbeln%20ba*&format=xml")
      assert(xc === 200 && xb.startsWith("<?xml"))
      assert(xb === graft.api.Search.searchIndex(reader, "babbeln ba*").toXml())
      assert(get("/?q=aal&format=weird")._1 === 400)
      assert(get("/?q=aal&format=jsonp")._1 === 400) // jsonp needs callback=
      // a warm keystroke over a keep-alive connection costs its work, not
      // a delayed-ACK wait (~40 ms a reply without TCP_NODELAY)
      val warmPath = "/?q=babbeln%20ba*&h=5&c=5"
      val replyMs = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(get(warmPath)._1 === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(replyMs(replyMs.length / 2) < 20.0,
        s"median warm keep-alive reply ${replyMs(replyMs.length / 2)} ms: $replyMs")
      // concurrent serving: parallel keystrokes across the handler pool
      // must all answer correctly through the ONE shared history
      val paths = Seq("/?q=aal", "/?q=aa*", "/?q=babbeln%20ba*", "/?q=aachen%20aal",
        "/?q=merge%5E", "/?q=aal--aargau")
      val expectedBodies = paths.map(p => p -> get(p)._2).toMap
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val results = (0 until 24).map { i =>
          val p = paths(i % paths.size)
          p -> pool.submit(new java.util.concurrent.Callable[(Int, String)] {
            def call(): (Int, String) = get(p)
          })
        }
        results.foreach { case (p, f) =>
          val (code, body) = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
          assert(code === 200, s"concurrent GET $p")
          assert(body === expectedBodies(p), s"concurrent GET $p body mismatch")
        }
      } finally pool.shutdownNow()
    } finally server.stop(0)
  }

  /** (status, body) of a GET against a running completion server. */
  private def httpGet(server: com.sun.net.httpserver.HttpServer, path: String): (Int, String) = {
    val conn = new java.net.URL(
      s"http://127.0.0.1:${server.getAddress.getPort}$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = try scala.io.Source.fromInputStream(is, "UTF-8").mkString finally is.close()
    (code, body)
  }

  test("completion server: query timeout cancels the request, session survives") {
    import graft.tools.CompletionServer
    // 1 ms deadline: the watchdog cancels the request's job group (current
    // AND future jobs) before any Spark job can finish -> typed 503, the
    // reference's query-timeout answer (-o, Globals.cpp:24)
    val strict = CompletionServer.start(spark, reader.dir, port = 0,
      queryTimeoutMs = 1L)
    try {
      val (code, body) = httpGet(strict, "/?q=babbeln%20ba*&h=5")
      assert(code === 503, body)
      assert(body.contains("query timeout after 1ms"))
    } finally strict.stop(0)
    // job-group cancellation is scoped to the request: the same session
    // answers normally afterwards (no poisoned caches, no leaked group)
    val normal = CompletionServer.start(spark, reader.dir, port = 0)
    try {
      val (code, body) = httpGet(normal, "/?q=babbeln%20ba*&h=5")
      assert(code === 200)
      assert(body === graft.api.Search.searchIndex(reader, "babbeln ba*",
        k = 5).toJson)
    } finally normal.stop(0)
  }

  test("completion server: a timed-out fallback leaves no borrowed history entry in flight") {
    import graft.tools.CompletionServer
    // `h*` matches 270,000 postings, past IndexReader.MaxLocalPostingsPerQuery:
    // `wort h*` is answered by the distributed fallback
    import graft.query.{LocalServe, QueryParams}
    val dir = OverBudgetIndex.dir
    val probe = new IndexReader(spark, dir)
    assert(LocalServe.hits(probe, "wort h*", 5, QueryParams.Default).isEmpty)
    assert(LocalServe.fallbackCount(probe) === 1)
    val cache = new graft.query.IndexQueryCache()
    val path = "/?q=wort%20h*&h=5"
    // the warm-up puts the `h*` and `wort` atom relations in the history;
    // the request borrows both, then its first job is cancelled at the
    // 1 ms deadline
    val strict = CompletionServer.start(spark, dir, port = 0, queryTimeoutMs = 1L,
      warmQueries = Seq("h* wort"), cache = cache)
    try {
      assert(cache.misses > 0 && cache.inflightCount === 0)
      val hitsBefore = cache.hits
      val (code, body) = httpGet(strict, path)
      assert(code === 503, body)
      assert(cache.hits > hitsBefore, "the timed-out request borrowed no history entry")
      assert(cache.inflightCount === 0, "a timed-out request left history entries in flight")
    } finally strict.stop(0)
    val normal = CompletionServer.start(spark, dir, port = 0, cache = cache)
    try {
      val (code, body) = httpGet(normal, path)
      assert(code === 200, body)
      assert(body === graft.api.Search.searchIndex(new IndexReader(spark, dir), "wort h*",
        k = 5).toJson)
      assert(cache.inflightCount === 0)
    } finally normal.stop(0)
  }

  test("completion server: start-up reads no block file, and no index relation is cached") {
    import graft.query.{IndexQueryCache, QueryParams}
    import graft.tools.CompletionServer
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.storage.StorageLevel
    // a fresh index: no other test can have read (or cached) its relations
    val dir = java.nio.file.Files.createTempDirectory("graft_serve_memory").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 1, blockSize = 4)
    // the root paths of every file scan a plan runs, through adaptive
    // stages, reused exchanges and cached plans
    def roots(p: SparkPlan): Seq[String] = p.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      case m: InMemoryTableScanExec => roots(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => roots(a.executedPlan)
      case q: QueryStageExec => roots(q.plan)
      case r: ReusedExchangeExec => roots(r.child)
    }.flatten
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        roots(qe.executedPlan).foreach(scanned.add)
        if (qe.analyzed.output.exists(_.name == "graft_listener_marker")) marker.set(true)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        roots(qe.executedPlan).foreach(scanned.add)
    }
    // the listener bus is asynchronous but ordered: once a marker action's
    // event arrives, every earlier action's event has arrived too
    def drained(): Seq[String] = {
      marker.set(false)
      spark.range(1).toDF("graft_listener_marker").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marker.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.get(), "listener bus did not drain")
      val xs = scala.jdk.CollectionConverters.CollectionHasAsScala(scanned).asScala.toSeq
      scanned.clear()
      xs
    }
    def readsBlocks(paths: Seq[String], d: String): Boolean = paths.exists(_.contains(s"$d/blocks"))
    spark.listenerManager.register(listener)
    try {
      drained()
      val server = CompletionServer.start(spark, dir, port = 0)
      try {
        val startup = drained()
        assert(!readsBlocks(startup, dir), s"start-up read block files: $startup")
        val (code, body) = httpGet(server, "/?q=aal&h=5")
        assert(code === 200 && body.contains("\"id\":"), body)
      } finally server.stop(0)
      val second = new IndexReader(spark, dir)
      assert(second.blocks.storageLevel === StorageLevel.NONE)
      assert(second.dictionary.storageLevel === StorageLevel.NONE)
      // the detector sees a block scan when one runs
      IndexExecutor.topK(second, "aal", 5).collect()
      assert(readsBlocks(drained(), dir), "a distributed query's block scan went unseen")
    } finally spark.listenerManager.unregister(listener)

    // a request past the postings budget: the distributed fallback reads
    // the blocks through its own pruned scan and answers as the
    // distributed plan does on a second reader
    val ob = CompletionServer.start(spark, OverBudgetIndex.dir, port = 0)
    try {
      val (code, body) = httpGet(ob, "/?q=h*&h=10")
      assert(code === 200, body)
      val got = scala.jdk.CollectionConverters.IteratorHasAsScala(
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
          .path("result").path("hits").path("hit").elements()).asScala
        .map(h => (h.path("id").asLong(), h.path("score").asDouble())).toSeq
      val want = IndexExecutor.hits(new IndexReader(spark, OverBudgetIndex.dir), "h*", 10,
        QueryParams.Default, new IndexQueryCache()).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(want.size === 10)
      assert(got === want)
    } finally ob.stop(0)
  }

  test("completion server: warm-history queries pre-fill the cache; CORS on request") {
    import graft.tools.CompletionServer
    val warmed = new graft.query.IndexQueryCache()
    val server = CompletionServer.start(spark, reader.dir, port = 0,
      warmQueries = Seq("babbeln ba*", "[broken"), // bad warm query ignored
      enableCors = true, cache = warmed)
    try {
      // the warm pass pre-fills the DRIVER-RESIDENT serving caches (atom
      // lists + result history + docs LRU -- PLANS §28/§29), so a warmed
      // query over HTTP runs ZERO Spark jobs; the distributed history
      // `warmed` stays untouched (the local path never reaches it)
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val conn = new java.net.URL(
          s"http://127.0.0.1:${server.getAddress.getPort}/?q=babbeln%20ba*")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode === 200)
        assert(conn.getHeaderField("Access-Control-Allow-Origin") === "*")
        val body =
          scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
        assert(body.contains("\"hits\""))
        Thread.sleep(500) // listener bus is async
        assert(jobs.get() === 0, "warmed query over HTTP must run no Spark jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally server.stop(0)
    // CORS off by default; --normalize-words server default = the
    // normalizeWords query param (parity, reference -N)
    val plain = CompletionServer.start(spark, reader.dir, port = 0,
      normalizeWords = true)
    try {
      val conn = new java.net.URL(
        s"http://127.0.0.1:${plain.getAddress.getPort}/?q=aal")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 200)
      assert(conn.getHeaderField("Access-Control-Allow-Origin") === null)
      val body = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      assert(body === graft.api.Search.searchIndex(reader, "aal",
        params = graft.query.QueryParams(normalizeWords = true)).toJson)
    } finally plain.stop(0)
  }

  test("filterQueriesByVolume: reference typing-chain steps (spaces skipped)") {
    import graft.tools.FilterQueriesByVolumeMain.steps
    assert(steps("aal x") === Seq(("a", "a"), ("aa", "aa"), ("aal", "aal"),
      ("aal x", "x")))
    assert(steps("ab") === Seq(("a", "a"), ("ab", "ab")))
    // last-word prefix resets after a space (reference: erase to rfind(' '))
    assert(steps("a b").last === (("a b", "b")))
  }

  test("scores are identical between paths (same BM25 inputs)") {
    val a = IndexExecutor.topK(reader, "aachen aal*", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Executor.topK(corpus, "aachen aal*", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
  }

  test("completions from the index match the logical completions") {
    val a = IndexExecutor.completions(reader, "babylonisch ba*", 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = Executor.completions(corpus, "babylonisch ba*", 10).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a === b)
  }

  test("excerpts served from the index docs store") {
    val ex = IndexExecutor.excerpts(reader, "zebra", 10,
      exact = Seq("zebra"), prefixes = Seq.empty, radius = 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(ex(6L).contains("<hl>zebra</hl>"))
  }

  test("resident fuzzy candidates equal the vocab scan, exactly") {
    import graft.index.FuzzyIndex
    // deletion-neighborhood basics (the FastSS table behind word clusters)
    assert(FuzzyIndex.deletions("abc", 1) === Set("abc", "bc", "ac", "ab"))
    assert(FuzzyIndex.deletions("ab", 2).contains(""))

    // every vocab term, several thresholds: resident candidates == brute force
    val vocab = reader.dictionary.select("term").collect().map(_.getString(0))
    for (w <- Seq("aal", "aalglat", "babyboo", "merge", "zzz"); thr <- Seq(1, 2)) {
      val brute = vocab.filter { t =>
        org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
          .apply(t, w) <= thr
      }.toSet
      val resident = reader.vocabulary.withinEdits(w, thr)._1.map(reader.vocabulary.term).toSet
      assert(resident === brute, s"w=$w thr=$thr")
    }
    // the grammar path over the resident candidates matches the logical path
    assert(ix("aachan~") === lg("aachan~"))
  }

  test("fuzzy word clusters equal the brute-force frequent-center assignment") {
    import graft.index.FuzzyIndex
    FuzzyIndex.build(spark, reader.dir, maxDeletes = 2)
    val dict = reader.dictionary.select("term_id", "term", "cf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val minF = dict.map(_._3).sorted.apply(dict.length / 2) // median cf
    val centers = dict.filter(_._3 >= minF)
    assert(centers.nonEmpty && centers.length < dict.length) // both roles exercised
    val lev = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
    val expected = dict.flatMap { case (tid, term, _) =>
      centers.map { case (cid, cterm, ccf) =>
          (cid, tid, term, lev.apply(term, cterm).toInt.toLong, ccf) }
        .filter(_._4 <= 2L)
        .sortBy { case (cid, _, _, d, ccf) => (d, -ccf, cid) }
        .take(2)
        .map { case (cid, t, w, d, _) => (cid, t, w, d) }
    }.toSet
    val got = FuzzyIndex.wordClusters(spark, reader.dir, reader.dictionary,
        minFrequency = minF, maxDist = 2, maxClustersPerWord = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got === expected)
  }

  test("searchIndex facade: hits + completions + excerpts off the index alone") {
    val r = graft.api.Search.searchIndex(reader, "babbeln ba*", k = 10)
    assert(r.hits.map(_.id).toSet === Set(3L, 4L))
    assert(r.hits.forall(_.excerpt.contains("<hl>")))
    // hit urls come from the index's docs store (reference: docs.DB url)
    assert(r.hits.forall(h => h.url === s"u${h.id}"))
    assert(r.completions.map(_.text).toSet === Set("babbeln", "baby", "babyboom", "babylonisch"))
    val logical = graft.api.Search.search(corpus, "babbeln ba*", k = 10)
    // logical corpus has no url column -> hits match modulo the url field
    assert(r.hits.map(_.copy(url = "")) === logical.hits)
    assert(r.completions === logical.completions)
    // the XML wire format carries the url element
    assert(r.toXml().contains("<url>u3</url>"))
    assert(r.toJson.contains(""""url":"u3""""))
  }

  test("scattered candidate atoms prune blocks by exact id runs, not the hull") {
    import graft.query.{IndexAtomSource, QueryParser}
    import org.apache.spark.sql.functions.col
    val src = new IndexAtomSource(reader)
    // aachen and zebra sit at opposite ends of the dictionary: the [min,max]
    // hull spans every term in between (the round-2 weakness); exact-run
    // pruning must fetch only the candidates' own blocks
    val atom = QueryParser.OrAtoms(Seq(
      QueryParser.Word("aachen"), QueryParser.Word("zebra")))
    val pruned = src.prunedBlocks(atom).get
    val ids = reader.dictionary.filter(col("term").isin("aachen", "zebra"))
      .select("term_id").as[Long].collect()
    assert(pruned.count() === reader.blocks.filter(col("term_id").isin(ids: _*)).count())
    assert(pruned.count() < reader.blocksForIdRuns(Seq((ids.min, ids.max))).count())
    assert(pruned.select("term_id").distinct().as[Long].collect().toSet === ids.toSet)
    // and the grammar result is unchanged
    assert(ix("aachen|zebra") === lg("aachen|zebra"))
    // contiguous sets (prefixes with dense ids) stay a single run
    def runs(ids: Long*): Seq[(Long, Long)] = IndexReader.mergeRuns(ids.map(id => (id, id)))
    assert(runs(3L, 4L, 5L) === Seq((3L, 5L)))
    assert(runs(1L, 3L, 4L, 9L) === Seq((1L, 1L), (3L, 4L), (9L, 9L)))
  }

  test("each atom resolves to ONE persisted relation per query (decode-once)") {
    import graft.query.{CachedIndexAtomSource, IndexAtomSource, IndexQueryCache, QueryParser}
    val src = new IndexAtomSource(reader)
    val atom = QueryParser.Word("aal")
    val a = src.atomScoredCached(atom)
    val b = src.atomScoredCached(atom)
    assert(a eq b, "memo must return the same DataFrame instance")
    // persistence is OWNED by the serving history (the memo itself never
    // persists): the same atom through a history-backed source is a
    // persisted relation, so scores+positions share one decode
    val hist = new CachedIndexAtomSource(reader, new IndexQueryCache())
    val h = hist.atomScoredCached(atom)
    assert(h.storageLevel.useMemory || h.storageLevel.useDisk,
      "history-backed atom relation must be persisted")
    // a fresh source (new query) resolves independently
    val src2 = new IndexAtomSource(reader)
    assert(!(src2.atomScoredCached(atom) eq a))
  }

  test("synonym groups parse the reference file format") {
    val gs = SynonymDictionary.parse(Seq(
      "# comment",
      "car, auto , automobile*",
      "",
      "lift, elevator").iterator)
    assert(gs.length === 2)
    // automobile is starred: it does not expand to its group...
    assert(SynonymDictionary.expand("automobile", gs) === Set("automobile"))
    // ...but is listed when an unstarred member expands
    assert(SynonymDictionary.expand("car", gs) === Set("car", "auto", "automobile"))
    assert(SynonymDictionary.expand("lift", gs) === Set("lift", "elevator"))
    // packaged default file drives Executor.synonymsOf
    assert(Executor.synonymsOf("merge") === Set("merge", "join"))
  }
}
