package graft.tools

import graft.index.IndexReader
import org.apache.spark.sql.SparkSession

/** startCompletionServer analog (reference: StartCompletionServer.cpp /
  * CompletionServer.cpp:1597-1711): a minimal HTTP front on the
  * physical-path search facade, built on the JDK's embedded HttpServer --
  * no extra dependencies, the Spark session IS the backend.
  *
  * GET /?q=<query>[&h=<hits>][&c=<completions>][&f=<first hit>]
  *     [&er=<excerpt radius>][&en=<excerpts per hit>][&rd=<doc rank>]
  *     [&rw=<word rank>][&fd=<fuzzy damping>][&s=<4 agg chars>]
  *     [&n=<a..b>][&format=xml|json|jsonp][&callback=<fn>]
  * answers the reference-shaped JSON (`SearchResult.toJson`) by default,
  * the reference's XML wire format (`SearchResult.toXml`,
  * CompletionServer.cpp:1468-1594) under `format=xml`, and JSONP when
  * `callback=` is given. The parameter names and semantics are the
  * reference's (QueryParameters.cpp:290-305):
  * `f=` 0-based first hit (pagination window over the total order),
  * `rd=`/`rw=` doc/word rank-mode ints + optional 'a'/'d' order char,
  * `en=` excerpts per hit, `er=` excerpt radius, `fd=` fuzzy damping in
  * [0.01, 1], `s=` the four score-aggregation knobs (e.g. `s=SMSM`),
  * `n=a..b` the `..` neighbourhood override.
  * Queries run the FULL grammar off the block index. A query within the
  * driver's postings budget is answered in-process by
  * [[graft.query.LocalServe]] from its per-reader LRUs (atoms, result
  * pages, docs), with no Spark job. Only a distributed fallback past that
  * budget goes through the serving-session history
  * ([[graft.query.IndexQueryCache]]), where a typing stream of prefixes
  * extends cached relations instead of re-scanning blocks.
  *
  * Memory: the server holds the reader's resident vocabulary and these
  * bounded histories, not the index. A local request reads its blocks
  * from disk through the reader's point reads, a fallback through its
  * own pruned scan, and start-up reads no block file.
  *
  * Replies go out with TCP_NODELAY. The JDK server writes a reply's headers
  * and body as two TCP segments; under Nagle's algorithm the body waits
  * for the client's delayed ACK of the headers, about 40 ms on Linux, on
  * every keep-alive reply -- longer than a warm keystroke's whole work.
  * The switch is the JVM-wide system property
  * `sun.net.httpserver.nodelay`, which the JDK reads once, when its first
  * HttpServer is set up; this object sets it on initialization, before
  * [[start]] creates a server. Every JDK HttpServer of the process answers
  * with TCP_NODELAY from then on.
  */
object CompletionServer {

  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Request-handler threads (reference: StartCompletionServer `-m`
    * threads, thread-per-request forking): concurrent autocomplete
    * keystrokes must not serialize behind one slow query. The history is
    * written for concurrency (lock-free miss path); Spark schedules the
    * per-query jobs fairly across threads.
    */
  val DefaultHandlerThreads = 8

  /** Default query timeout (reference: `--query-timeout`/`-o`, 5000 ms,
    * Globals.cpp:24; shipped apps use 2000 ms, applications/Makefile:80).
    */
  val DefaultQueryTimeoutMs = 5000L

  /** JVM-global request ids: cancelJobGroupAndFutureJobs marks a group id
    * cancelled from then on, so ids must never repeat across server
    * instances sharing one SparkContext (a per-server counter would make
    * a later server's first request inherit an earlier server's cancel).
    */
  private val reqCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Start a server on `port` (0 = ephemeral); returns the bound server.
    * One Spark session serves all requests across a small handler pool.
    *
    * `queryTimeoutMs` is the reference's query timeout: each request runs
    * its Spark jobs under a per-request job group, and a watchdog cancels
    * the group at the deadline -- the engine-level analog of the
    * reference's processQuery timeout checks (CompleterBase.cpp TIMEOUT
    * throws). A timed-out request answers 503 with a typed error; the
    * session itself stays healthy (job-group cancellation only fails THIS
    * request's jobs; shared cached relations re-materialize lazily on the
    * next request, Spark's partial-cache contract).
    *
    * `warmQueries` (reference `--warm-history-queries`/`-I`): each query
    * is answered once BEFORE the socket accepts requests, so the first
    * real keystrokes find warm caches. `keepQueries` (reference
    * `--keep-in-history-queries`/`-A`) are answered the same way with
    * history inserts pinned: a keep query that falls back to the
    * distributed path keeps its relations in the history under LRU/byte
    * pressure; one served locally lands in [[graft.query.LocalServe]]'s
    * LRUs, which pin nothing, and stays warm only until evicted.
    * `enableCors` (reference `--enable-cors`/`-O`) adds
    * `Access-Control-Allow-Origin: *` for browser frontends on other
    * origins. `normalizeWords` (reference `--normalize-words`/`-N`) makes
    * the w -> w|w:* normalization rewrite the server default, for indexes
    * built with norm variants.
    */
  def start(spark: SparkSession, indexDir: String, port: Int,
            handlerThreads: Int = DefaultHandlerThreads,
            queryTimeoutMs: Long = DefaultQueryTimeoutMs,
            warmQueries: Seq[String] = Nil,
            enableCors: Boolean = false,
            cache: graft.query.IndexQueryCache = new graft.query.IndexQueryCache(),
            keepQueries: Seq[String] = Nil,
            normalizeWords: Boolean = false)
      : com.sun.net.httpserver.HttpServer = {
    val reader = new IndexReader(spark, indexDir)
    // load the resident vocabulary before the first request; start-up
    // reads no block file (see the object doc)
    reader.vocabulary.size
    def preRun(qs: Seq[String], what: String): Unit = qs.foreach { q =>
      // a bad startup query must not keep the server from starting; warm
      // under the SERVER's params (normalize-words changes the parsed
      // atoms, hence the cache keys -- warming with default params on a
      // --normalize-words server would pin relations real traffic never
      // hits)
      scala.util.Try(
        graft.api.Search.searchIndex(reader, q, cache = Some(cache),
          params = graft.query.QueryParams.Default.copy(
            normalizeWords = normalizeWords))
      ).failed.foreach(e =>
        System.err.println(s"[completion-server] $what query '$q' failed: $e"))
    }
    cache.pinningInserts(preRun(keepQueries, "keep"))
    preRun(warmQueries, "warm")
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-http-watchdog"); t.setDaemon(true); t })
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      handlerThreads,
      (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    val CtJson = "application/json; charset=utf-8"
    val CtJsonp = "application/javascript; charset=utf-8"
    val CtXml = "text/xml; charset=utf-8"
    server.createContext("/", (exchange: com.sun.net.httpserver.HttpExchange) => {
      // (status, body, content type) -- ALL request processing stays inside
      // the try so malformed input (bad %-escape, non-numeric h=, n without
      // '..', bad s= chars, hostile callback) is a 400, never a dropped
      // connection or a fake 500
      val response: (Int, String, String) =
        try {
          val params = parseQueryString(
            Option(exchange.getRequestURI.getRawQuery).getOrElse(""))
          params.get("q") match {
            case None | Some("") => (400, """{"error":"missing q parameter"}""", CtJson)
            case Some(q) =>
              val k = params.get("h").map(_.toInt).getOrElse(10)
              val ck = params.get("c").map(_.toInt).getOrElse(10)
              val er = params.get("er").map(_.toInt).getOrElse(2)
              // server-level normalize-words default (reference -N /
              // --normalize-words): the w -> w|w:* rewrite resolving the
              // indexed norm variants; per-request params layer on top
              var qp = params.get("s")
                .map(graft.query.QueryParams.withAggChars(_))
                .getOrElse(graft.query.QueryParams.Default)
                .copy(normalizeWords = normalizeWords)
              params.get("n").foreach { n =>
                n.split("\\.\\.", 2) match {
                  case Array(a, b) => qp = qp.copy(window = Some((a.toInt, b.toInt)))
                  case _ => throw new IllegalArgumentException(s"bad n window: $n")
                }
              }
              // the rest of the reference request surface
              // (QueryParameters.cpp:290-305); QueryParams.require validates
              // ranges, the outer catch maps violations to 400
              params.get("f").foreach(f => qp = qp.copy(firstHit = f.toInt))
              params.get("en").foreach(en => qp = qp.copy(excerptsPerHit = en.toInt))
              params.get("rd").foreach(rd => qp = graft.query.QueryParams.withRankDocs(rd, qp))
              params.get("rw").foreach(rw => qp = graft.query.QueryParams.withRankWords(rw, qp))
              params.get("fd").foreach { fd =>
                // reference clamps into [0.01, 1.0] (QueryParameters.cpp:320)
                qp = qp.copy(fuzzyDamping = math.min(1.0, math.max(0.01, fd.toDouble)))
              }
              // JSONP callback restricted to identifier chars: the value is
              // reflected into an executable response, so anything else is
              // script injection
              val cb = params.get("callback")
              cb.foreach { c =>
                if (!c.matches("[A-Za-z0-9_$.]+"))
                  throw new IllegalArgumentException("invalid callback")
              }
              // `format=` response format (reference setResponseFormat:
              // XML / JSON / JSONP; QueryParameters.cpp:303). The reference
              // DEFAULT is XML; ours is JSON (the reference's format=json
              // mode) -- modern clients first, legacy XML on request.
              val format = params.get("format").getOrElse(
                if (cb.isDefined) "jsonp" else "json")
              if (!Set("xml", "json", "jsonp").contains(format))
                throw new IllegalArgumentException(s"unknown format: $format")
              if (format == "jsonp" && cb.isEmpty)
                throw new IllegalArgumentException("format=jsonp needs callback=")
              // per-request job group + watchdog cancel = the reference's
              // query timeout. setJobGroup is thread-local, so it scopes
              // exactly this handler thread's Spark jobs; cleared in
              // finally so pooled threads don't leak groups across requests
              val gid = s"graft-http-${reqCounter.incrementAndGet()}"
              val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
              spark.sparkContext.setJobGroup(gid, s"q=$q", interruptOnCancel = true)
              val cancel = watchdog.schedule(new Runnable {
                override def run(): Unit = {
                  timedOut.set(true)
                  // ...AndFutureJobs: jobs the request submits AFTER the
                  // deadline must fail too, or a multi-job query would keep
                  // burning executor time long past its timeout
                  spark.sparkContext.cancelJobGroupAndFutureJobs(
                    gid, s"query timeout after ${queryTimeoutMs}ms")
                }
              }, queryTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
              try {
                val result = graft.api.Search.searchIndex(
                  reader, q, k = k, completionsK = ck, excerptRadius = er,
                  cache = Some(cache), params = qp)
                format match {
                  case "xml" => (200, result.toXml(qp.firstHit), CtXml)
                  case "jsonp" => (200, s"${cb.get}(${result.toJson})", CtJsonp)
                  case _ => (200, result.toJson, CtJson)
                }
              } catch {
                // parse/require failures on the QUERY itself (unclosed join
                // block, empty part, bad grammar) are client input errors
                case e: IllegalArgumentException =>
                  (400, s"""{"error":"bad request: ${e.getClass.getSimpleName}"}""", CtJson)
                case _: Throwable if timedOut.get() =>
                  // the watchdog cancelled this request's job group; the
                  // reference answers a typed timeout error, not a fault
                  (503, s"""{"error":"query timeout after ${queryTimeoutMs}ms"}""", CtJson)
                case e: Throwable => // backend fault, not client input
                  (500, s"""{"error":"${e.getClass.getSimpleName}"}""", CtJson)
              } finally {
                cancel.cancel(false)
                spark.sparkContext.clearJobGroup()
              }
          }
        } catch {
          case e: Throwable => // anything thrown by input handling
            (400, s"""{"error":"bad request: ${e.getClass.getSimpleName}"}""", CtJson)
        }
      val bytes = response._2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", response._3)
      if (enableCors) // reference --enable-cors (CompletionServer.cpp)
        exchange.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
      exchange.sendResponseHeaders(response._1, bytes.length)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    })
    server.start()
    server
  }

  private[graft] def parseQueryString(raw: String): Map[String, String] = {
    def dec(s: String) =
      java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)
    raw.split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.substring(0, i), kv.substring(i + 1))
      dec(k) -> dec(v) // keys decode too: /?%71=spark is q=spark
    }.toMap
  }
}

/** CLI entry: `CompletionServerMain <indexDir> [port] [threads] [timeoutMs]
  * [--cors] [--warm <file>] [--keep <file>]` (defaults 8181, 8, 5000 --
  * `threads` is the reference's `-m` handler-thread count, `timeoutMs` its
  * `-o` query timeout, `--cors` its `-O`, `--warm` its `-I`
  * warm-history-queries file, `--keep` its `-A` keep-in-history-queries
  * file, `--normalize-words` its `-N`; files: one query per line, `#`
  * comments).
  */
object CompletionServerMain {
  private def queriesFile(f: String): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def main(args: Array[String]): Unit = {
    val Array(indexDir, rest @ _*) = args: @unchecked
    val enableCors = rest.contains("--cors")
    val normalizeWords = rest.contains("--normalize-words")
    def fileOpt(flag: String): Option[String] =
      rest.sliding(2).collectFirst { case Seq(`flag`, f) => f }
    val warmQueries = fileOpt("--warm").toSeq.flatMap(queriesFile)
    val keepQueries = fileOpt("--keep").toSeq.flatMap(queriesFile)
    val positional = {
      // drop flag tokens and their operands before positional parsing
      val b = rest.toBuffer
      b -= "--cors"
      b -= "--normalize-words"
      for (flag <- Seq("--warm", "--keep")) {
        val i = b.indexOf(flag)
        if (i >= 0) b.remove(i, math.min(2, b.length - i))
      }
      b.toSeq
    }
    val port = positional.headOption.map(_.toInt).getOrElse(8181)
    val threads = positional.lift(1).map(_.toInt)
      .getOrElse(CompletionServer.DefaultHandlerThreads)
    val timeoutMs = positional.lift(2).map(_.toLong)
      .getOrElse(CompletionServer.DefaultQueryTimeoutMs)
    val spark = Cli.session("graft-completionServer")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val server = CompletionServer.start(spark, indexDir, port, threads,
      timeoutMs, warmQueries, enableCors, keepQueries = keepQueries,
      normalizeWords = normalizeWords)
    println(s"graft completion server listening on port " +
      s"${server.getAddress.getPort} ($threads handler threads, " +
      s"query timeout ${timeoutMs}ms, ${warmQueries.size} warm + " +
      s"${keepQueries.size} keep queries" +
      s"${if (enableCors) ", CORS" else ""}; GET /?q=<query>&h=10&c=10)")
    Thread.currentThread().join() // serve until killed
  }
}
