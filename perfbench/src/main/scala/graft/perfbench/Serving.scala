package graft.perfbench

import graft.api.{Completion, Hit, SearchResult}
import graft.core.Analysis
import graft.index.{IndexBuilder, IndexReader}
import graft.query.{Excerpts, IndexAtomSource, IndexExecutor, IndexQueryCache, LocalServe, QueryParams, QueryParser}
import graft.tools.CompletionServer
import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import Main.say

/** The two serving workloads: a closed loop of clients (see [[Clients]]),
  * each with one request in flight over HTTP against an in-process
  * [[CompletionServer]] (an autocomplete client waits for each reply).
  *
  *  - serve_typing replays keystroke sessions of Zipf-popular targets from
  *    a small pool, so requests recur and fit the result history;
  *  - serve_miss sends a stream of distinct full-grammar queries over the
  *    whole vocabulary, so the history does almost nothing and the
  *    dictionary, block fetch/decode and evaluation paths do the work.
  */
object Serving {

  val Docs = 3000
  val MedianLen = 90
  val VocabSize = 40000
  /** Typing targets and the ranks they are drawn from: the popular head of
    * a query log, 10 targets of ~6 keystrokes, well inside the 4096-entry
    * result history (two entries per query: hits and completions).
    */
  val PoolSize = 10
  val HeadRanks = 3000
  val SessionBlock = 32
  val MissQueries = 2000
  /** serve_miss warm-up: the first half cycle of the stream; the timed
    * phase starts at the second cycle, so it sends whole cycles.
    */
  val MissWarmup = Gen.MissCycle / 2
  val K = 10
  val Params: QueryParams = QueryParams.Default

  /** Closed-loop clients: one per core for typing, whose requests are
    * cheap history hits; half that for serve_miss, whose every request runs
    * Spark jobs: at one client per core the miss path saturates the cores,
    * and its median moved by up to 19% between seeds with the host's speed.
    */
  def Clients(typing: Boolean): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    if (typing) nproc else math.max(1, nproc / 2)
  }

  final case class Sample(q: String, ms: Double, ok: Boolean)

  final class Http(port: Int) {
    private val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1)
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    def get(q: String): (Int, String) = {
      val uri = java.net.URI.create(s"http://127.0.0.1:$port/?q=" +
        java.net.URLEncoder.encode(q, java.nio.charset.StandardCharsets.UTF_8) + s"&h=$K&c=$K")
      val r = client.send(java.net.http.HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofSeconds(30)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def ok(q: String): Boolean =
      try { val (s, b) = get(q); s == 200 && b.startsWith("{\"result\"") }
      catch { case _: Exception => false }
  }

  /** `clients` threads, each sending its next request only after the last
    * reply, until the source runs dry.
    */
  def closedLoop(clients: Int, src: Source, send: (Int, String) => Boolean): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val ts = (0 until clients).map { i =>
      new Thread(() => {
        var q = src.next(i)
        while (q.isDefined) {
          val t0 = System.nanoTime()
          val ok = try send(i, q.get) catch { case _: Exception => false }
          out.add(Sample(q.get, (System.nanoTime() - t0) / 1e6, ok))
          q = src.next(i)
        }
      }, s"perfbench-client-$i")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    out.asScala.toSeq
  }

  /** Request sources: a client index -> its next query. Once `deadline`
    * has passed a source stops at its next cycle boundary, so every timed
    * phase sends whole cycles of the same mix.
    */
  abstract class Source {
    @volatile var deadline: Long = Long.MaxValue
    protected def past: Boolean = System.nanoTime() >= deadline
    /** Claim the next index of `counter`, or None at a boundary past the deadline. */
    protected def claim(counter: AtomicInteger, cycle: Int): Option[Int] = {
      while (true) {
        val j = counter.get()
        if (past && j % cycle == 0) return None
        if (counter.compareAndSet(j, j + 1)) return Some(j)
      }
      None
    }
    def next(client: Int): Option[String]
  }

  /** Typing sessions: clients take the next session from a shared
    * schedule (a repeated [[Gen.sessionBlock]], the cycle) and type its
    * target keystroke by keystroke.
    */
  final class Typing(pool: Array[Seq[String]], block: Array[Int], clients: Int) extends Source {
    private val sessions = new AtomicInteger()
    private val cur = Array.fill(clients)(Iterator.empty[String])
    def next(i: Int): Option[String] = {
      if (!cur(i).hasNext)
        claim(sessions, block.length) match {
          case Some(k) => cur(i) = Gen.keystrokes(pool(block(k % block.length))).iterator
          case None => return None
        }
      Some(cur(i).next())
    }
  }

  /** A fixed list handed out in order across all clients, in cycles of `cycle`. */
  final class Stream(qs: IndexedSeq[String], from: Int, cycle: Int) extends Source {
    private val at = new AtomicInteger(from)
    def next(i: Int): Option[String] = claim(at, cycle).flatMap(qs.lift)
  }

  def run(spark: SparkSession, args: Main.Args, dir: Path, typing: Boolean): Main.Result = {
    // the serving session settings of CompletionServerMain
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val clients = Clients(typing)
    val seed = args.seed
    val v = Gen.vocab(seed, VocabSize)
    val c = Gen.corpus(seed, v, Docs, MedianLen)
    val corpus = Main.webCorpus(spark, Array.tabulate(c.nDocs)(c.text), dir.resolve("corpus"))
    val idx = dir.resolve("index").toString
    val buildLayer = Main.phase("index build")(buildIndex(spark, corpus, idx, args.trace, c.postings))
    val budget = new Budget(c)
    val pool = if (typing) Gen.typingPool(seed, v, PoolSize, HeadRanks) else Array.empty[Seq[String]]
    val block = Gen.sessionBlock(seed, PoolSize, SessionBlock)
    val stream = if (typing) IndexedSeq.empty[String]
      else Gen.missStream(seed, c, MissQueries, IndexAtomSource.MaxExactIds).toIndexedSeq
    val poolRequests = pool.flatMap(Gen.keystrokes).distinct
    // warm-up requests, sent to the server and, in traced runs, to the twin:
    // typing sends every distinct request of the pool once, so the timed
    // phase meets warm caches; the miss stream's first queries warm the JIT
    // and are not sent again
    def warmSource: Source =
      new Stream(if (typing) poolRequests.toIndexedSeq else stream.take(MissWarmup), 0, 1)
    val fp = Gen.fingerprint((0 until c.nDocs).iterator.map(c.text) ++
      pool.iterator.map(_.mkString(" ")) ++ block.iterator.map(_.toString) ++ stream.iterator)
    say(s"input docs=${c.nDocs} vocab=${v.size} tokens=${c.tokens} postings=${c.postings} " +
      s"fingerprint=$fp")
    if (typing)
      say(s"input typing targets=${pool.length} distinct requests=${poolRequests.length} " +
        s"(result history ${LocalServe.ResultCacheMaxEntries} entries, 2 per query)")

    // set-up: the server comes up over the built index and answers a first
    // query; caches are dropped before each set-up
    val first = v.words(0)
    val (setupS, (server, cache)) = Main.setups(Main.SetupRepeats) { last =>
      spark.catalog.clearCache()
      val cache = new IndexQueryCache()
      val srv = CompletionServer.start(spark, idx, 0, cache = cache)
      if (!new Http(srv.getAddress.getPort).ok(first))
        throw new IllegalStateException("server set-up: first query failed")
      if (!last) srv.stop(0)
      (srv, cache)
    }
    val port = server.getAddress.getPort
    val https = Array.fill(clients)(new Http(port))
    val send: (Int, String) => Boolean = (i, q) => https(i).ok(q)
    try {
      val warm = Main.phase("warm-up")(closedLoop(clients, warmSource, send))
      val missSrc = new Stream(stream, Gen.MissCycle, Gen.MissCycle)
      val src: Source = if (typing) new Typing(pool, block, clients) else missSrc

      val measureS = if (args.trace) math.max(1.0, args.seconds / 2.0) else args.seconds.toDouble
      val gc0 = Main.gcMillis()
      val t0 = System.nanoTime()
      src.deadline = t0 + (measureS * 1e9).toLong
      val samples = closedLoop(clients, src, send)
      val elapsed = (System.nanoTime() - t0) / 1e9
      val gcMsPerS = (Main.gcMillis() - gc0) / elapsed
      val heap = Main.heapRetainedMb()
      describeRequests(budget, if (typing) poolRequests.toSeq else stream.take(MissWarmup),
        samples.map(_.q))
      // latency of answered requests only: a failed request counts in
      // `failed`, and its (often short) time must not read as a speed-up
      var metrics = latency(samples, elapsed) ++
        Map("setup_s" -> setupS, "jvm.heap_retained_mb" -> heap, "jvm.gc_ms_per_s" -> gcMsPerS) ++
        buildLayer
      say(f"heap_retained_mb $heap%.1f; history entries ${cache.size} bytes ${cache.cachedBytes}")

      var attempted = (warm.size + samples.size).toLong
      var failed = (warm ++ samples).count(!_.ok).toLong
      if (args.trace) {
        val traced = tracedPhase(spark, args, idx, warmSource, src, https, cache, measureS,
          metrics)
        metrics ++= traced._1
        attempted += traced._2
        failed += traced._3
      }
      // checked requests: one per typing target, or one per miss-stream
      // shape among the requests the timed phase sent
      val rng = new scala.util.Random(seed)
      val picks =
        if (typing) pool.toSeq.map { t => val ks = Gen.keystrokes(t); ks(rng.nextInt(ks.length)) }
        else {
          val at = stream.zipWithIndex.toMap
          samples.map(_.q).distinct.sorted.groupBy(q => Gen.missShape(at(q))).toSeq.sortBy(_._1)
            .map { case (_, qs) => qs(rng.nextInt(qs.length)) }
        }
      val bad = Main.phase("check")(checkIndex(spark, idx, c) + check(spark, idx, https(0), picks))
      attempted += picks.size + 1
      failed += bad
      Main.Result(failed == 0, attempted, failed, metrics)
    } finally server.stop(0)
  }

  private def latency(samples: Seq[Sample], elapsed: Double): Map[String, Double] = {
    val ok = samples.filter(_.ok)
    if (ok.isEmpty) { say("no request answered"); Map.empty }
    else Main.latencyMetrics(ok.map(_.ms), elapsed, ok.size, "answered requests")
  }

  /** IndexBuilder.build plus the docs store; in traced runs the build is
    * also split into its layers: a separate tokenizer pass is timed first,
    * and the build's Spark work is counted under its own job group.
    */
  private def buildIndex(spark: SparkSession, corpus: org.apache.spark.sql.DataFrame,
                         idx: String, traced: Boolean, postings: Long): Map[String, Double] = {
    val counters = new SparkCounters
    val tokS = if (!traced) 0.0 else {
      spark.sparkContext.addSparkListener(counters)
      val s = Main.timeS(Analysis.docTerms(corpus).count())
      Analysis.clearProcessCaches()
      s
    }
    Main.withGroup(spark, "pb-build")(IndexBuilder.build(spark, corpus, idx, numShards = 1))
    IndexBuilder.buildDocsStore(spark, corpus, idx)
    Analysis.clearProcessCaches()
    val blockBytes = Main.dirBytes(Paths.get(idx, "blocks"))
    val indexBytes = Main.dirBytes(Paths.get(idx)) - Main.dirBytes(Paths.get(idx, "docs"))
    val textBytes = corpus.select(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.octet_length(org.apache.spark.sql.functions.col("text"))))
      .head().getLong(0)
    say(f"index postings $postings, $indexBytes bytes without the docs store " +
      f"(${indexBytes.toDouble / textBytes}%.3f per text byte), " +
      f"${blockBytes.toDouble / postings}%.3f block bytes per posting")
    if (!traced) Map.empty
    else {
      counters.drain(spark)
      spark.sparkContext.removeSparkListener(counters)
      val b = counters.total(_ == "pb-build")
      Map("build.tokenize_s" -> tokS, "build.jobs" -> b.jobs.toDouble,
        "build.shuffle_write_mb" -> b.shuffleWriteBytes / 1048576.0,
        "build.task_skew" -> counters.taskSkew(_ == "pb-build"),
        "build.postings" -> postings.toDouble,
        "build.bytes_per_posting" -> blockBytes.toDouble / postings,
        "build.index_bytes_per_text_byte" -> indexBytes.toDouble / textBytes)
    }
  }

  /** The build's output check: every document, and every posting the
    * generator counted (its words are exactly the tokenizer's tokens), is
    * in the index.
    */
  private def checkIndex(spark: SparkSession, idx: String, c: Gen.Corpus): Int = {
    val reader = new IndexReader(spark, idx)
    val decoded = reader.decode(reader.blocks).count()
    val ok = reader.nDocs == c.nDocs && decoded == c.postings
    if (!ok) say(s"CHECK FAILED n_docs=${reader.nDocs} want ${c.nDocs}; decoded postings " +
      s"$decoded, generator ${c.postings}")
    if (ok) 0 else 1
  }

  // ---- input properties -----------------------------------------------------

  /** Postings and candidate counts of query atoms, from the generator's own
    * df and occurrence counts: the engine's LocalServe serves a query from
    * the Spark driver only when every atom has at most MaxExactIds
    * candidate terms and the query at most MaxLocalPostingsPerQuery
    * postings; its atom LRU weighs an atom by its rows (postings) plus the
    * positions it holds (occurrences).
    */
  final class Budget(c: Gen.Corpus) {
    private val order = c.vocab.words.indices.sortBy(c.vocab.words(_)).toArray
    private val sorted = order.map(c.vocab.words(_))
    private val cum = order.scanLeft(0L)((acc, w) => acc + c.df(w))
    private val cumW = order.scanLeft(0L)((acc, w) => acc + c.df(w) + c.cf(w))
    private val ids = c.vocab.words.zipWithIndex.toMap
    private def range(p: String): (Int, Int) = {
      val lo = java.util.Arrays.binarySearch(sorted.asInstanceOf[Array[Object]], p) match {
        case i if i >= 0 => i
        case i => -i - 1
      }
      var hi = lo
      while (hi < sorted.length && sorted(hi).startsWith(p)) hi += 1
      (lo, hi)
    }
    /** (candidate terms, postings, LRU weight) of one atom. */
    def atom(a: QueryParser.Atom): (Long, Long, Long) = a match {
      case w: QueryParser.Word if w.prefix =>
        val (lo, hi) = range(w.text); ((hi - lo).toLong, cum(hi) - cum(lo), cumW(hi) - cumW(lo))
      case w: QueryParser.Word =>
        ids.get(w.text).map(i => (1L, c.df(i).toLong, c.df(i) + c.cf(i))).getOrElse((0L, 0L, 0L))
      case QueryParser.OrAtoms(alts) =>
        alts.map(atom).foldLeft((0L, 0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
      case _ => (0L, 0L, 0L)
    }
    /** The atoms of a query, join blocks flattened as LocalServe fetches them. */
    def atoms(q: String): Seq[QueryParser.Atom] = {
      def flat(pq: QueryParser.ParsedQuery): Seq[QueryParser.Atom] = pq.parts.flatMap(_.atom match {
        case QueryParser.JoinBlock(ps) => ps.flatMap(flat)
        case a => Seq(a)
      })
      flat(QueryParser.parse(q))
    }
    def pastCandidates(q: String): Boolean = atoms(q).exists(a => atom(a)._1 > IndexAtomSource.MaxExactIds)
    def postings(q: String): Long = atoms(q).map(atom(_)._2).sum
  }

  /** The properties of the timed requests `qs`, against the serving
    * budgets they are meant to fit or exceed; the atom working set counts
    * the `warm` requests too, since they filled the LRU.
    */
  private def describeRequests(b: Budget, warm: Seq[String], qs: Seq[String]): Unit = {
    val distinct = qs.distinct
    val n = math.max(1, qs.size).toDouble
    val pastHull = qs.count(b.pastCandidates) / n
    val pastPostings = qs.count(q => !b.pastCandidates(q) &&
      b.postings(q) > IndexReader.MaxLocalPostingsPerQuery) / n
    say(f"input requests=${qs.size} distinct_share=${distinct.size / n}%.3f " +
      f"past_candidate_cap(${IndexAtomSource.MaxExactIds})=$pastHull%.3f " +
      f"past_query_postings(${IndexReader.MaxLocalPostingsPerQuery})=$pastPostings%.3f")
    // atoms that LocalServe may hold: the working set its LRU must fit
    val local = (warm ++ distinct).distinct.filter(q => !b.pastCandidates(q) &&
      b.postings(q) <= IndexReader.MaxLocalPostingsPerQuery)
    val ws = local.flatMap(b.atoms).distinct.map(b.atom(_)._3).sum
    say(f"input local_atom_working_set=$ws (postings + positions) vs atom LRU " +
      f"${IndexReader.LocalListBudgetPostings} (${ws.toDouble / IndexReader.LocalListBudgetPostings}%.2fx); " +
      f"result history ${LocalServe.ResultCacheMaxEntries} entries; " +
      f"IndexQueryCache budget ${graft.query.QueryHistory.DefaultMaxBytes >> 20} MB")
  }

  // ---- output check ---------------------------------------------------------

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Re-request `picks` and compare hits and completions with the
    * distributed Eval plans (IndexExecutor.hits / completions) on a separate
    * reader, one request per core at a time; returns the number of
    * mismatches.
    */
  private def check(spark: SparkSession, idx: String, http: Http, picks: Seq[String]): Int = {
    val reader = new IndexReader(spark, idx)
    val cache = new IndexQueryCache()
    say(s"check: ${picks.size} requests against the distributed plans")
    def one(q: String): Boolean = {
      val (status, body) = try http.get(q) catch { case e: Exception => (-1, e.toString) }
      val root = if (status == 200) json.readTree(body).path("result")
        else json.createObjectNode()
      val gotHits = root.path("hits").path("hit").elements().asScala
        .map(h => (h.path("id").asLong(), h.path("score").asDouble())).toSeq
      val gotComps = root.path("completions").path("c").elements().asScala
        .map(x => (x.path("text").asText(), x.path("sc").asDouble(), x.path("dc").asLong(),
          x.path("oc").asLong())).toSeq
      val wantHits = IndexExecutor.hits(reader, q, K, Params, cache).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val lastPrefix = QueryParser.parse(q).parts.last.atom match {
        case w: QueryParser.Word => w.prefix
        case _ => false
      }
      val wantComps = if (!lastPrefix) Seq.empty
        else IndexExecutor.completions(reader, q, K, Params, cache).collect()
          .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
      val bad = status != 200 || gotHits != wantHits || gotComps != wantComps
      if (bad) say(s"CHECK FAILED q='$q' status=$status hits=$gotHits want=$wantHits " +
        s"completions=$gotComps want=$wantComps")
      bad
    }
    val threads = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try picks.map(q => threads.submit(new java.util.concurrent.Callable[Boolean] {
      def call(): Boolean = one(q)
    })).count(_.get())
    finally threads.shutdown()
  }

  // ---- traced run -------------------------------------------------------------

  /** The traced half of a `--trace 1` run. Each request goes to the server
    * over HTTP as before, and then through the same public calls the
    * server's Search facade makes, on a twin reader with its own history, each
    * call timed as a span; the twin runs under a job group per request so the
    * Spark listener can attribute jobs and reader-layer scans to it.
    */
  private def tracedPhase(spark: SparkSession, args: Main.Args, idx: String,
                          warmSource: => Source, src: Source,
                          https: Array[Http], serverCache: IndexQueryCache,
                          measureS: Double, untraced: Map[String, Double])
      : (Map[String, Double], Long, Long) = {
    val clients = https.length
    // the twin reads a copy of the index: the engine memoizes dictionary
    // lookups per index directory, and the twin must pay its own
    val twinDir = Paths.get(idx + "-twin")
    val walk = java.nio.file.Files.walk(Paths.get(idx))
    try walk.forEach(p => java.nio.file.Files.copy(p, twinDir.resolve(Paths.get(idx).relativize(p))))
    finally walk.close()
    val twin = new IndexReader(spark, twinDir.toString)
    val twinCache = new IndexQueryCache()
    val trace = new Trace
    val fallbacks = new AtomicLong()
    val ids = new AtomicLong()
    // the twin is warmed with the requests the server was warmed with
    closedLoop(clients, warmSource, (_, q) => {
      twinSearch(twin, twinCache, q, -1L, None, fallbacks); true
    })
    fallbacks.set(0)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val gc0 = Main.gcMillis()
    val t0 = System.nanoTime()
    src.deadline = t0 + (measureS * 1e9).toLong
    val samples = closedLoop(clients, src, (i, q) => {
      val id = ids.incrementAndGet()
      val ok = trace.span(id, "http.request")(https(i).ok(q))
      twinSearch(twin, twinCache, q, id, Some(trace), fallbacks)
      ok
    })
    val elapsed = (System.nanoTime() - t0) / 1e9
    val gcMsPerS = (Main.gcMillis() - gc0) / elapsed
    counters.drain(spark)
    spark.sparkContext.removeSparkListener(counters)
    val out = Paths.get(".bench_build", "traces", s"${args.workload}-seed${args.seed}.jsonl")
    trace.write(out)
    say(s"trace: ${trace.all.size} spans written to $out")

    val spans = trace.all
    val n = math.max(1L, ids.get()).toDouble
    def meanMs(name: String): Double =
      spans.iterator.filter(_.name == name).map(_.durNs / 1e6).sum / n
    val byReq = spans.groupBy(_.req)
    val httpOverhead = byReq.values.iterator.map { ss =>
      ss.find(_.name == "http.request").map(_.durNs).getOrElse(0L) -
        ss.find(_.name == "api.search").map(_.durNs).getOrElse(0L)
    }.sum / 1e6 / n
    val twinAgg = counters.total(_.startsWith("pb-q-"))
    def layerMs(k: String): Double = twinAgg.layers.get(k).map(_(1).toDouble).getOrElse(0.0) / n
    val server = counters.total(_.startsWith("graft-http-"))
    val zeroJob = (1L to ids.get()).count(id => counters.jobsOf(s"pb-q-$id") == 0) / n
    val httpMs = spans.filter(_.name == "http.request").map(_.durNs / 1e6)
    val tracedP50 = if (httpMs.isEmpty) Double.NaN else Stats.median(httpMs)
    val tracedTp = samples.count(_.ok) / elapsed
    val u50 = untraced.getOrElse("p50_ms", Double.NaN)
    val uTp = untraced.getOrElse("throughput_per_s", Double.NaN)
    val lookups = serverCache.hits + serverCache.filteredHits + serverCache.misses
    val m = Map(
      "query.parse_us" -> meanMs("query.parse") * 1000,
      "serve.hits_ms" -> meanMs("serve.hits"),
      "serve.completions_ms" -> meanMs("serve.completions"),
      "serve.zero_job_frac" -> zeroJob,
      "serve.fallback_frac" -> fallbacks.get() / n,
      "serve.atom_lru_entries" -> LocalServe.cachedAtomCount(twin).toDouble,
      "serve.result_history_entries" -> LocalServe.cachedResultCount(twin).toDouble,
      "history.entries" -> serverCache.size.toDouble,
      "history.bytes" -> serverCache.cachedBytes.toDouble,
      "history.hit_frac" -> (if (lookups == 0) 0.0
        else (serverCache.hits + serverCache.filteredHits).toDouble / lookups),
      "reader.term_info_ms" -> layerMs("term_info"),
      "reader.prefix_range_ms" -> layerMs("prefix_range"),
      "reader.block_fetch_ms" -> layerMs("block_fetch"),
      "reader.block_bytes_read" ->
        twinAgg.layers.get("block_fetch").map(_(2).toDouble).getOrElse(0.0) / n,
      "eval.distributed_ms" -> layerMs("eval"),
      "excerpts.ms" -> meanMs("excerpts"),
      "api.search_ms" -> meanMs("api.search"),
      "render.json_us" -> meanMs("render.json") * 1000,
      "http.overhead_ms" -> httpOverhead,
      "spark.jobs_per_query" -> server.jobs / n,
      "spark.tasks_per_query" -> server.tasks / n,
      "spark.sched_delay_ms_per_query" -> server.schedDelayMs / n,
      "jvm.gc_ms_per_s" -> gcMsPerS,
      "trace.overhead_p50_pct" -> 100 * (tracedP50 - u50) / u50,
      "trace.overhead_throughput_pct" -> 100 * (tracedTp - uTp) / uTp)
    say(f"traced http p50 $tracedP50%.3f ms (untraced $u50%.3f), " +
      f"throughput $tracedTp%.1f/s (untraced $uTp%.1f/s)")
    (m, samples.size.toLong, samples.count(!_.ok).toLong)
  }

  /** One request through the public calls graft.api.Search.searchIndex
    * makes, in its order and with its arguments: hits through the
    * local/distributed seam (IndexExecutor.serveHits, split here to count
    * fallbacks), the query parse, excerpts and urls from the docs store,
    * completions when the last part is a prefix, and the JSON rendering
    * the server sends. PerfbenchSpec checks that the result equals
    * searchIndex's.
    */
  private[perfbench] def twinSearch(reader: IndexReader, cache: IndexQueryCache, q: String,
                                    id: Long, trace: Option[Trace],
                                    fallbacks: AtomicLong): SearchResult = {
    def span[A](name: String)(f: => A): A = trace.fold(f)(_.span(id, name)(f))
    val sc = reader.spark.sparkContext
    sc.setJobGroup(s"pb-q-$id", "perfbench twin request")
    try cache.borrow {
      span("api.search") {
        val (hitRows, hitSchema) = span("serve.hits") {
          val df = LocalServe.hits(reader, q, K, Params).getOrElse {
            fallbacks.incrementAndGet()
            IndexExecutor.hits(reader, q, K, Params, cache)
          }
          (df.collect(), df.schema)
        }
        val hitsDf = reader.spark.createDataFrame(java.util.Arrays.asList(hitRows: _*), hitSchema)
        val parsed = span("query.parse")(QueryParser.parse(q))
        val words = parsed.parts.map(_.atom).collect {
          case w: QueryParser.Word if !w.not => w
          case QueryParser.OrAtoms(alts) if alts.exists(_.isInstanceOf[QueryParser.Word]) =>
            alts.collectFirst { case w: QueryParser.Word => w }.get
        }
        val hits = span("excerpts") {
          val exact = words.filterNot(_.prefix).map(_.text)
          val prefixes = words.filter(_.prefix).map(_.text)
          val (ex, urls) = if (!reader.hasDocsStore) (Map.empty[Long, String], Map.empty[Long, String])
            else {
              val ex = LocalServe.excerptsAll(reader, hitsDf, exact, prefixes, 2, Params.excerptsPerHit)
                .getOrElse(Excerpts.generateAll(reader.docs, hitsDf, exact, prefixes, 2,
                  Params.excerptsPerHit))
                .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
              val urls = LocalServe.urls(reader, hitsDf).getOrElse(
                reader.docs.join(hitsDf.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
                  .select("doc_id", "url").collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
              (ex, urls)
            }
          hitRows.map(r => Hit(r.getLong(0), r.getDouble(1), ex.getOrElse(r.getLong(0), ""),
            urls.getOrElse(r.getLong(0), ""))).toSeq
        }
        val lastPrefix = parsed.parts.last.atom match {
          case w: QueryParser.Word => w.prefix
          case _ => false
        }
        val comps = if (!lastPrefix) Seq.empty else span("serve.completions") {
          IndexExecutor.serveCompletions(reader, q, K, Params, Some(cache)).collect()
            .map(r => Completion(r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
        }
        val result = SearchResult(q, hits, comps)
        span("render.json")(result.toJson)
        result
      }
    } finally sc.clearJobGroup()
  }
}
