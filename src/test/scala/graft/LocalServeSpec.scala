package graft

import graft.index.{IndexBuilder, IndexReader}
import graft.query.{IndexExecutor, LocalServe, QueryParams}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-resident grammar path must be bit-identical to the
  * distributed Eval plans over EVERY grammar shape and knob -- the serving
  * seam's contract -- and must run ZERO Spark jobs warm.
  */
class LocalServeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // tf variety, shared prefixes, phrase/near structure, synonym pair
  lazy val corpus = Seq(
    (1L, "aachen aal aalglatt aargau aal"),
    (2L, "aachen aalglatt aal pad pad pad pad"),
    (3L, "babbeln baby babyboom babylonisch aachen"),
    (4L, "babbeln baby babyboom baby baby"),
    (5L, "merge aal aachen aargau merge"),
    (6L, "join aal zebra aachen join join"),
    (7L, "aal aachen aal aachen aal pad"),
    (8L, "zebra pad pad aachen aal aalglatt aargau")
  ).toDF("doc_id", "text")

  lazy val reader: IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_localserve").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 1, blockSize = 4)
    IndexBuilder.buildDocsStore(spark,
      corpus.withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("http://u/"), $"doc_id")), dir)
    new IndexReader(spark, dir)
  }

  private def hitsRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  private def complRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Double, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq

  private val shapes = Seq(
    "aachen", "aachen aargau", "aachen -aargau", "aargau|babylonisch",
    "ba*", "aal--aargau", "aal.aalglatt", "aal..aalglatt", "aachen=aachen",
    "aachan~", "aal|aachan~", "merge^", "babbeln.baby.babyboom", "aachen.,,.aal",
    "aal -zebra aachen", "aachen -nosuchword", "nosuchword",
    "aal aalglatt.aargau") // window chaining after a plain AND

  test("every grammar shape: local path serves it and equals the distributed plan") {
    shapes.foreach { q =>
      val local = LocalServe.hits(reader, q, 10, QueryParams.Default)
      assert(local.isDefined, s"expected the local path to serve: $q")
      assert(hitsRows(local.get) === hitsRows(IndexExecutor.topK(reader, q, 10)),
        s"local vs distributed mismatch for query: $q")
    }
  }

  test("score algebra / request knobs: paths identical") {
    def both(q: String, p: QueryParams): Unit = {
      val local = LocalServe.hits(reader, q, 10, p)
      assert(local.isDefined, s"expected local serve: $q / $p")
      assert(hitsRows(local.get) === hitsRows(IndexExecutor.hits(reader, q, 10, p)),
        s"query: $q params: $p")
    }
    both("aachen aal", QueryParams(partsAgg = QueryParams.Max))
    both("aa*", QueryParams(completionsAgg = QueryParams.Max))
    both("aal", QueryParams(sameCompletionAgg = QueryParams.Max))
    both("aal.aalglatt", QueryParams(partsAgg = QueryParams.SumWithBonus))
    both("aal..aalglatt", QueryParams(partsAgg = QueryParams.SumWithBonus))
    both("aal..aalglatt", QueryParams(window = Some((-2, 2))))
    both("aachen aal*", QueryParams(bestMatchBonus = 4.0))
    both("aachan~", QueryParams(fuzzyDamping = 0.5))
    both("aachen", QueryParams(normalizeWords = true))
    both("aachen aal", QueryParams(rankDocs = "doc"))
    both("aachen aal", QueryParams(rankDocs = "doc", sortDocsAsc = Some(false)))
    both("aal", QueryParams(rankDocs = "score", sortDocsAsc = Some(true)))
    both("aal aachen", QueryParams(firstHit = 2))
    both("aal", QueryParams(firstHit = 3))
  }

  test("completions: paths identical across word-side knobs and rank modes") {
    def both(q: String, p: QueryParams): Unit = {
      val local = LocalServe.completions(reader, q, 10, p)
      assert(local.isDefined, s"expected local serve: $q / $p")
      assert(complRows(local.get) ===
        complRows(IndexExecutor.completions(reader, q, 10, p)),
        s"query: $q params: $p")
    }
    both("aachen aa*", QueryParams.Default)
    both("ba*", QueryParams.Default)
    both("aachen aa*", QueryParams(wordSameDocAgg = QueryParams.Max))
    both("aachen aa*", QueryParams(wordDiffDocsAgg = QueryParams.Max))
    both("aachen aa*", QueryParams(rankWords = "dc"))
    both("aachen aa*", QueryParams(rankWords = "oc"))
    both("aachen aa*", QueryParams(rankWords = "word"))
    both("aachen aa*", QueryParams(rankWords = "word", sortWordsAsc = Some(false)))
    both("aal -zebra aa*", QueryParams.Default)
  }

  test("join blocks and a fuzzy best-match serve locally") {
    // join blocks joined the local grammar: chained, leading, n-ary
    for (q <- Seq("[aachen aa*#merge aa*]", "aal [aa*#aal*]",
        "[aa*#aal*] zebra", "[aa*#aal*#aal aa*]")) {
      val local = LocalServe.hits(reader, q, 10, QueryParams.Default)
      assert(local.isDefined, s"expected local serve for join block: $q")
      assert(hitsRows(local.get) === hitsRows(IndexExecutor.topK(reader, q, 10)),
        s"local vs distributed mismatch for: $q")
    }
    // the closest word of a fuzzy atom resolves from the resident
    // vocabulary: a fuzzy best-match serves locally, cold with no job
    val fp = QueryParams(bestMatchBonus = 2.0)
    val cold = coldReader()
    var fuzzy: Option[Seq[org.apache.spark.sql.Row]] = None
    val (jobs, _, executions) = watch { fuzzy = LocalServe.hitRows(cold, "aachen aachan~", 10, fp) }
    assert(fuzzy.isDefined, "a fuzzy best-match must serve locally")
    assert(jobs === 0 && executions === 0, s"cold fuzzy best-match ran $jobs jobs")
    assert(fuzzy.get.map(row => (row.getLong(0), row.getDouble(1))) ===
      hitsRows(IndexExecutor.topK(reader, "aachen aachan~", 10, fp)))
    // completions over a trailing join block raise the grammar's refusal
    // in-process, as the distributed path does
    intercept[IllegalArgumentException](
      LocalServe.completions(reader, "aal [aa*#aal*]", 10, QueryParams.Default))
    // the serve facade answers both seams identically to the explicit path
    assert(hitsRows(IndexExecutor.serveHits(reader, "[aachen aa*#merge aa*]", 10))
      === hitsRows(IndexExecutor.topK(reader, "[aachen aa*#merge aa*]", 10)))
    assert(hitsRows(IndexExecutor.serveHits(reader, "aachen aachan~", 10,
      QueryParams(bestMatchBonus = 2.0), None))
      === hitsRows(IndexExecutor.topK(reader, "aachen aachan~", 10,
        QueryParams(bestMatchBonus = 2.0))))
  }

  test("prefix atom with several of its terms per doc: term-order sums, Sum/Max parity with a best match and a later window") {
    // raw scores: each doc's contributions summed in ascending term order,
    // bit for bit -- the order the atom stores its rows in. 80 docs of 3-7
    // of a prefix's words, tf 1-4: sums whose order shows in the last bits
    val rnd = new scala.util.Random(71)
    val words = Seq("qa", "qab", "qac", "qad", "qae", "qaf", "qag")
    val mixed = (1L to 80L).map { d =>
      (d, rnd.shuffle(words).take(3 + rnd.nextInt(5))
        .flatMap(w => Seq.fill(1 + rnd.nextInt(4))(w)).mkString(" ") + " filler" * rnd.nextInt(9))
    }.toDF("doc_id", "text")
    val mixDir = java.nio.file.Files.createTempDirectory("graft_localserve_mix").toString
    IndexBuilder.build(spark, mixed, mixDir, numShards = 2, blockSize = 4)
    val mix = new IndexReader(spark, mixDir)
    val atom = graft.query.QueryParser.parse("qa*", false).parts.head.atom
    val byDoc = new graft.query.IndexAtomSource(mix).atomScored(atom)
      .select("doc_id", "term", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._2).map(_._3).toSeq }
    val want = byDoc.map { case (d, cs) => d -> cs.reduceLeft(_ + _) }
    // the fixture tells summation orders apart: reversed and rotated
    assert(byDoc.exists { case (d, cs) => cs.reverse.reduceLeft(_ + _) != want(d) })
    assert(byDoc.exists { case (d, cs) => (cs.tail :+ cs.head).reduceLeft(_ + _) != want(d) })
    val (docs, raw) = LocalServe.rawDocScores(mix, "qa*", QueryParams.Default).get
    assert(docs.toSeq === want.keys.toSeq.sorted)
    docs.zip(raw).foreach { case (d, s) =>
      assert(java.lang.Double.doubleToLongBits(s) === java.lang.Double.doubleToLongBits(want(d)),
        s"doc $d: $s vs ${want(d)}")
    }
    // parity: the prefix as the best-match part, and chained into a window
    val queries = Seq("aal*", "aachen aal*", "aa*..aargau", "aa*..aargau aal*", "aachen.aal*")
    for (a <- Seq(QueryParams.Sum, QueryParams.Max); b <- Seq(QueryParams.Sum, QueryParams.Max)) {
      val p = QueryParams(sameCompletionAgg = a, completionsAgg = b, wordSameDocAgg = a,
        wordDiffDocsAgg = b, bestMatchBonus = 3.0)
      queries.foreach { q =>
        val local = LocalServe.hits(reader, q, 10, p)
        assert(local.isDefined, s"expected local serve: $q / $p")
        assert(hitsRows(local.get) === hitsRows(IndexExecutor.hits(reader, q, 10, p)),
          s"query: $q params: $p")
        val compl = LocalServe.completions(reader, q, 10, p)
        assert(compl.isDefined, s"expected local completions: $q / $p")
        assert(complRows(compl.get) === complRows(IndexExecutor.completions(reader, q, 10, p)),
          s"completions of: $q params: $p")
      }
    }
    // the bonus lands: "aal" docs outscore the same query without it
    val plain = hitsRows(LocalServe.hits(reader, "aal*", 10, QueryParams.Default).get).toMap
    val bonus = hitsRows(LocalServe.hits(reader, "aal*", 10,
      QueryParams(bestMatchBonus = 3.0)).get).toMap
    assert(bonus.keySet === plain.keySet && bonus.forall { case (d, s) => s > plain(d) })
  }

  test("k = 0 and page-past-the-end serve empty pages like the distributed path") {
    for (p <- Seq(QueryParams(firstHit = 0), QueryParams(firstHit = 5),
        QueryParams(rankDocs = "doc"))) {
      val local = LocalServe.hits(reader, "aachen aal", 0, p)
      assert(local.isDefined)
      assert(hitsRows(local.get) === hitsRows(IndexExecutor.hits(reader, "aachen aal", 0, p)))
    }
    val past = LocalServe.hits(reader, "aachen aal", 10, QueryParams(firstHit = 10000))
    assert(past.isDefined && hitsRows(past.get).isEmpty)
  }

  test("serveHits equals the distributed Eval plans on the bench shapes") {
    // the bench QuerySet routes keyword/OR/prefix through serveHits (the
    // client surface); the distributed plans (IndexExecutor.topK) must
    // agree exactly
    for (q <- Seq("aachen", "aachen|aal|merge", "aa*", "ba*"))
      assert(hitsRows(IndexExecutor.serveHits(reader, q, 10)) ===
        hitsRows(IndexExecutor.topK(reader, q, 10)), q)
  }

  test("whole-result history: repeats hit the page cache, keyed by params") {
    val q = "aachen aal aalglatt"
    val a = hitsRows(LocalServe.hits(reader, q, 10, QueryParams.Default).get)
    val n1 = LocalServe.cachedResultCount(reader)
    assert(n1 > 0)
    val b = hitsRows(LocalServe.hits(reader, q, 10, QueryParams.Default).get)
    assert(a === b)
    assert(LocalServe.cachedResultCount(reader) === n1,
      "a repeat must not add a history entry")
    // a different parameterization is a DIFFERENT history row (reference:
    // History re-computes on incompatible parameters)
    val p2 = QueryParams(firstHit = 1)
    val paged = hitsRows(LocalServe.hits(reader, q, 10, p2).get)
    assert(LocalServe.cachedResultCount(reader) === n1 + 1)
    assert(paged === hitsRows(IndexExecutor.hits(reader, q, 10, p2)))
  }

  test("concurrent mixed queries through the local path stay correct") {
    val qs = shapes.filterNot(_.contains("~")) // keep the pool cheap
    val expected = qs.map(q => q -> hitsRows(IndexExecutor.topK(reader, q, 10))).toMap
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map { t =>
      new Thread(() => {
        try {
          for (i <- 0 until 40) {
            val q = qs((i + t) % qs.length)
            val got = hitsRows(LocalServe.hits(reader, q, 10, QueryParams.Default).get)
            if (got != expected(q)) errors.add(s"mismatch for $q on thread $t")
          }
        } catch { case e: Throwable => errors.add(s"thread $t: $e") }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
  }

  test("local excerpt generation is identical to the distributed Excerpts plans") {
    import graft.query.{Excerpts, LocalServe => LS}
    // unicode + '^' multi-part + punctuation separators + multi-window
    val texts = Seq(
      (100L, "Aachen is OLD; aal, aalglatt! (aargau) STRASSE Über aal"),
      (101L, "beethoven^ludwig wrote music aal beethoven^x aal aal aal"),
      (102L, "no matching words here at all"),
      (103L, "aal " + (1 to 30).map(i => s"w$i").mkString(" ") + " aalglatt end"))
    val docsDf = texts.toDF("doc_id", "text")
    for ((exact, prefixes) <- Seq(
        (Seq("aal", "strasse"), Seq("aar")),
        (Seq("ludwig"), Seq("beet")),
        (Seq.empty[String], Seq("aal")));
        (er, en) <- Seq((2, 3), (1, 1), (3, 5))) {
      val hits = texts.map(_._1).map(Tuple1(_)).toDF("doc_id")
      val dist = Excerpts.generateAll(docsDf, hits, exact, prefixes, er, en)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.foreach { case (id, text) =>
        assert(LS.generateAllLocal(text, exact, prefixes, er, en) === dist(id),
          s"doc $id exact=$exact prefixes=$prefixes er=$er en=$en")
      }
    }
  }

  test("full search (hits + completions + excerpts + urls) serves warm with ZERO jobs") {
    import graft.api.Search
    def run() = Search.searchIndex(reader, "aachen aa*", 5)
    val warm = run() // cold pass populates atom + docs LRUs
    assert(warm.hits.nonEmpty && warm.hits.forall(h =>
      h.url.nonEmpty && h.excerpt.contains("<hl>")))
    assert(warm.completions.nonEmpty)
    assert(graft.query.LocalServe.cachedDocCount(reader) > 0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // Dataset actions (collect/count/...) fire a QueryExecutionListener
    // even over a LocalRelation: each one is analysis, planning and an
    // SQL-execution event the warm row path must not pay
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        actions.add(funcName)
    }
    Thread.sleep(500) // the cold pass's events leave the async bus first
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val again = run()
      assert(again.toJson === warm.toJson, "warm result must be identical")
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() === 0, "warm full search must run no Spark jobs")
      assert(actions.isEmpty, s"warm full search must run no Dataset actions: $actions")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("fallback search executes the hits plan once; excerpts/urls add no jobs") {
    import graft.api.Search
    // an over-budget atom is a documented local-serve fallback: the hits
    // come back from the DISTRIBUTED plan even warm (the last part is no
    // prefix, so the search computes no completions)
    val reader = new IndexReader(spark, OverBudgetIndex.dir)
    val fp = QueryParams(bestMatchBonus = 2.0)
    val q = "h* wort"
    assert(LocalServe.hits(reader, q, 5, fp).isEmpty,
      "precondition: this query must take the distributed fallback")
    val cold = Search.searchIndex(reader, q, 5, params = fp)
    assert(cold.hits.nonEmpty && cold.hits.forall(h =>
      h.url.nonEmpty && h.excerpt.contains("<hl>wort</hl>")))
    def countJobs(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { f; Thread.sleep(500) } // listener bus is async
      finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }
    // warm docs LRU + warm atom history on both paths first
    val warm = Search.searchIndex(reader, q, 5, params = fp)
    assert(warm.toJson === cold.toJson)
    val hitsOnly = countJobs(
      graft.query.IndexExecutor.serveHits(reader, q, 5, fp, None).collect())
    val full = countJobs(assert(
      Search.searchIndex(reader, q, 5, params = fp).toJson === cold.toJson))
    // the full search = ONE execution of the hits plan; excerpt + url
    // serving reads the driver docs LRU, never re-runs the plan or joins
    assert(full <= hitsOnly,
      s"full search ran $full jobs vs $hitsOnly for the bare hits plan")
  }

  /** Jobs started, SQL executions that scan the dictionary but no blocks
    * (dictionary lookups), and SQL executions of any kind, while `f` runs.
    */
  private def watch(f: => Unit): (Int, Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val lookups = new java.util.concurrent.atomic.AtomicInteger()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def see(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
        executions.incrementAndGet()
        val plan = qe.executedPlan.toString
        if (plan.contains("/dictionary") && !plan.contains("/blocks")) lookups.incrementAndGet()
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = see(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = see(qe)
    }
    Thread.sleep(500) // earlier events leave the async bus first
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try { f; Thread.sleep(500) } // listener bus is async
    finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    (jobs.get(), lookups.get(), executions.get())
  }

  /** A fresh reader over a fresh COPY of the index: no cache keyed by the
    * reader or its directory holds anything; the vocabulary is loaded and
    * an unrelated hits-only query pays the reader's metadata jobs (stats),
    * so what a later watch measures is the request alone. Its docs LRU is
    * empty.
    */
  private def coldReader(): IndexReader = {
    val src = java.nio.file.Paths.get(reader.dir)
    val copy = java.nio.file.Files.createTempDirectory("graft_localserve_cold")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach(p => if (p != src)
      java.nio.file.Files.copy(p, copy.resolve(src.relativize(p))))
    finally walk.close()
    val r = new IndexReader(spark, copy.toString)
    r.vocabulary.size
    LocalServe.hits(r, "zebra", 5, QueryParams.Default).get.collect()
    assert(LocalServe.cachedDocCount(r) === 0)
    r
  }

  test("cold multi-atom query fetches all cold atoms with ZERO Spark jobs") {
    // candidates resolve in-process from the resident vocabulary and the
    // postings of ALL cold atoms arrive via one driver-side point read of
    // the block files: no job whatever the shape
    for (q <- Seq("aachen aal aargau", "aachen ba*", "aargau|babylonisch aal",
        "aal--aargau", "[aachen aa*#merge aa*]", "aachen aachan~", "aal|aachan~")) {
      val r = coldReader()
      val expected = hitsRows(IndexExecutor.topK(reader, q, 5))
      val (jobs, _, _) = watch {
        assert(hitsRows(LocalServe.hits(r, q, 5, QueryParams.Default).get) === expected)
      }
      assert(jobs === 0, s"cold query: $q")
    }
  }

  test("cold full search over docs not in the docs LRU runs ZERO jobs and ZERO SQL executions") {
    import graft.api.Search
    // hits, completions, excerpts and urls: postings and docs both arrive
    // by point reads, and the row path runs no Dataset action
    for (q <- Seq("aachen aa*", "babbeln ba*", "zebra pad")) {
      val expected = Search.searchIndex(reader, q, 5)
      assert(expected.hits.nonEmpty && expected.hits.forall(_.url.nonEmpty), q)
      val r = coldReader()
      val (jobs, _, executions) = watch {
        assert(Search.searchIndex(r, q, 5).toJson === expected.toJson, q)
      }
      assert(LocalServe.cachedDocCount(r) > 0, "the docs came from the docs store")
      assert(jobs === 0 && executions === 0,
        s"cold full search ran $jobs jobs, $executions SQL executions: $q")
    }
  }

  test("an over-budget prefix falls back without a dictionary lookup") {
    // `h*` matches 270,000 postings, past IndexReader.MaxLocalPostingsPerQuery
    val r = new IndexReader(spark, OverBudgetIndex.dir)
    val hRuns = graft.query.IndexAtomSource.residentRanges(r.vocabulary,
      graft.query.QueryParser.Word("h", prefix = true))
    assert(LocalServe.postingVolume(r.vocabulary, hRuns, Long.MaxValue) ===
      OverBudgetIndex.PrefixPostings)
    LocalServe.hits(r, "wort", 5, QueryParams.Default).get.collect()
    val q = "wort h*"
    val (jobs, lookups, _) = watch {
      assert(LocalServe.hits(r, q, 5, QueryParams.Default).isEmpty,
        "an over-budget atom must fall back")
    }
    assert(jobs === 0 && lookups === 0,
      s"the fallback decision ran $jobs jobs, $lookups dictionary lookups")
    assert(LocalServe.fallbackCount(r) === 1)
    val expected = hitsRows(IndexExecutor.topK(r, q, 5))
    val (_, fallbackLookups, _) = watch {
      assert(hitsRows(IndexExecutor.serveHits(r, q, 5)) === expected)
    }
    assert(fallbackLookups === 0, "the distributed fallback ran a dictionary lookup")
    // ten atoms of 27,000 postings each: every one within the budget, the
    // query past it
    val ten = (0 to 9).map(d => s"h$d*").mkString(" ")
    val fellBack = LocalServe.fallbackCount(r)
    assert(LocalServe.hits(r, ten, 5, QueryParams.Default).isEmpty)
    assert(LocalServe.fallbackCount(r) === fellBack + 1)
    assert(LocalServe.hits(r, "wort h0*", 5, QueryParams.Default).isDefined)
  }

  test("a hull-sized candidate set serves locally with ZERO jobs and ZERO SQL executions") {
    // 5,000 terms under `h`, past IndexAtomSource.MaxExactIds, which bounds
    // only the distributed plans; 5,050 postings fit the volume guard
    val dir = java.nio.file.Files.createTempDirectory("graft_localserve_hull").toString
    val docs = (0 until 50).map(i => (i.toLong, "wort " +
      (0 until 100).map(j => f"h${i * 100 + j}%015d").mkString(" "))).toDF("doc_id", "text")
    IndexBuilder.build(spark, docs, dir, numShards = 1)
    val r = new IndexReader(spark, dir)
    r.vocabulary.size
    LocalServe.hits(r, "wort", 5, QueryParams.Default).get.collect()
    val q = "wort h*"
    var hits: Option[Seq[org.apache.spark.sql.Row]] = None
    var completions: Option[Seq[org.apache.spark.sql.Row]] = None
    val (jobs, _, executions) = watch {
      hits = LocalServe.hitRows(r, q, 10, QueryParams.Default)
      completions = LocalServe.completionRows(r, q, 10, QueryParams.Default)
    }
    assert(hits.isDefined && completions.isDefined, "a hull-sized candidate set must serve locally")
    assert(jobs === 0 && executions === 0,
      s"the local answer ran $jobs jobs, $executions SQL executions")
    assert(LocalServe.fallbackCount(r) === 0)
    assert(hits.get.map(row => (row.getLong(0), row.getDouble(1))) ===
      hitsRows(IndexExecutor.topK(r, q, 10)))
    assert(completions.get.map(row =>
      (row.getString(0), row.getDouble(1), row.getLong(2), row.getLong(3))) ===
      complRows(IndexExecutor.completions(r, q, 10)))
    // a fuzzy atom with all 5,000 terms within its 4 edits serves the same
    // way: its candidates come from the resident vocabulary
    val fq = "wort h000000000000000~"
    var fuzzy: Option[Seq[org.apache.spark.sql.Row]] = None
    val (fuzzyJobs, _, fuzzyExecutions) = watch {
      fuzzy = LocalServe.hitRows(r, fq, 10, QueryParams.Default)
    }
    assert(fuzzy.isDefined, "a hull-sized fuzzy atom must serve locally")
    assert(fuzzyJobs === 0 && fuzzyExecutions === 0,
      s"the local fuzzy answer ran $fuzzyJobs jobs, $fuzzyExecutions SQL executions")
    assert(LocalServe.fallbackCount(r) === 0)
    assert(fuzzy.get.map(row => (row.getLong(0), row.getDouble(1))) ===
      hitsRows(IndexExecutor.topK(r, fq, 10)))
  }

  test("volume guard: a budget-sized atom serves, budget + 1 falls back, long runs stop early") {
    import graft.index.Vocabulary
    import graft.query.IndexAtomSource
    import graft.query.QueryParser.Word
    import org.apache.spark.sql.functions.{col, format_string, lit}
    val budget = IndexReader.MaxLocalPostingsPerQuery
    // a synthetic dictionary, no index: a000..a255 hold exactly the budget
    // (256 x 1,024), b000..b256 one posting more, c000000..c299999 one
    // posting each
    val ab = (0 until 256).map(i => (i.toLong, f"a$i%03d", 1024L)) ++
      (0 to 256).map(i => (256L + i, f"b$i%03d", if (i == 256) 1L else 1024L))
    val cs = spark.range(300000).select((col("id") + 513).as("term_id"),
      format_string("c%06d", col("id")).as("term"), lit(1L).as("df"))
    val v = Vocabulary.load(ab.toDF("term_id", "term", "df").unionByName(cs))
    def runs(prefix: String): Seq[(Long, Long)] =
      IndexAtomSource.residentRanges(v, Word(prefix, prefix = true))
    assert(budget === 256L * 1024)
    assert(LocalServe.postingVolume(v, runs("a"), Long.MaxValue) === budget)
    assert(!LocalServe.overBudget(v, runs("a")), "exactly the budget: served locally")
    assert(LocalServe.postingVolume(v, runs("b"), Long.MaxValue) === budget + 1)
    assert(LocalServe.overBudget(v, runs("b")), "one posting past the budget: falls back")
    // 300,000 ids of df 1: the sum stops at the first id past the budget
    assert(LocalServe.overBudget(v, runs("c")))
    assert(LocalServe.postingVolume(v, runs("c"), budget) === budget + 1)
    assert(LocalServe.postingVolume(v, runs("c"), Long.MaxValue) === 300000L)
  }

  test("a request past the budget falls back before any block read") {
    // ten atoms of 27,000 postings each: every one within the budget, the
    // request past it -- decided from the vocabulary, so nothing is decoded
    // or cached for the distributed plans to repeat
    val r = new IndexReader(spark, OverBudgetIndex.dir)
    LocalServe.hits(r, "wort", 5, QueryParams.Default).get.collect()
    val rows = r.points.rowsMaterialized.get
    val held = LocalServe.cachedAtomCount(r)
    val ten = (0 to 9).map(d => s"h$d*").mkString(" ")
    assert(LocalServe.hits(r, ten, 5, QueryParams.Default).isEmpty)
    assert(r.points.rowsMaterialized.get === rows, "the fallback decoded postings")
    assert(LocalServe.cachedAtomCount(r) === held, "the fallback cached atoms")
  }

  test("the grammar's refusals raise in-process, as the distributed path's do") {
    // 63 join-block sides: one past the distributed side bitmask
    val wide = Seq.fill(63)("aal").mkString("[", "#", "]")
    intercept[IllegalArgumentException](IndexExecutor.topK(reader, wide, 10))
    intercept[IllegalArgumentException](LocalServe.hits(reader, wide, 10, QueryParams.Default))
    val sixtyTwo = Seq.fill(62)("aal").mkString("[", "#", "]")
    assert(LocalServe.hits(reader, sixtyTwo, 10, QueryParams.Default).isDefined)
    // a query that starts with NOT
    intercept[IllegalArgumentException](IndexExecutor.topK(reader, "-aal aachen", 10))
    intercept[IllegalArgumentException](
      LocalServe.hits(reader, "-aal aachen", 10, QueryParams.Default))
  }

  test("positions-off index: a window next to a join block serves locally as same-doc AND") {
    val dir = java.nio.file.Files.createTempDirectory("graft_localserve_nopos").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 1, blockSize = 4, storePositions = false)
    val r = new IndexReader(spark, dir)
    r.vocabulary.size
    LocalServe.hits(r, "zebra", 5, QueryParams.Default).get.collect()
    for (q <- Seq("[aa*#aal*].zebra", "[aa*#aal*]..pad", "aal..[aa*#aal*]")) {
      val expected = hitsRows(IndexExecutor.topK(r, q, 10))
      assert(expected.nonEmpty, q)
      var local: Option[Seq[org.apache.spark.sql.Row]] = None
      val (jobs, _, _) = watch { local = LocalServe.hitRows(r, q, 10, QueryParams.Default) }
      assert(local.isDefined, s"expected local serve: $q")
      assert(jobs === 0, s"$q ran $jobs jobs")
      assert(local.get.map(row => (row.getLong(0), row.getDouble(1))) === expected, q)
    }
    // a window between two word parts still refuses on both paths
    intercept[IllegalArgumentException](IndexExecutor.topK(r, "aal.aachen", 10))
    intercept[IllegalArgumentException](LocalServe.hits(r, "aal.aachen", 10, QueryParams.Default))
  }

  test("completions order terms as Spark does: by UTF-8 bytes, not UTF-16 units") {
    // U+FB01 is EF AC 81 in UTF-8 but one unit 0xFB01 in UTF-16; U+1F600
    // is F0 9F 98 80 but the surrogate pair D83D DE00: the two orders
    // disagree. Both terms lie in the same docs, so every score ties.
    val text = "x\uFB01 x\uD83D\uDE00"
    val tied = Seq((1L, text), (2L, s"$text y")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_localserve_utf8").toString
    IndexBuilder.build(spark, tied, dir, numShards = 1)
    val r = new IndexReader(spark, dir)
    for ((p, k) <- Seq((QueryParams.Default, 1), (QueryParams.Default, 2),
        (QueryParams(rankWords = "word"), 2),
        (QueryParams(rankWords = "word", sortWordsAsc = Some(false)), 2))) {
      val local = LocalServe.completions(r, "x*", k, p)
      assert(local.isDefined)
      assert(complRows(local.get) === complRows(IndexExecutor.completions(r, "x*", k, p)),
        s"k=$k params: $p")
    }
    assert(complRows(LocalServe.completions(r, "x*", 1, QueryParams.Default).get)
      .map(_._1) === Seq("x\uFB01"))
  }

  test("one vocabulary scan per fuzzy word per request") {
    val v = reader.vocabulary
    val atom = graft.query.QueryParser.parse("aachan~", false).parts.head.atom
    // the distributed resolution: the single-term probe, the candidate
    // runs and the best-match word share one pass
    val src = new graft.query.IndexAtomSource(reader)
    val before = v.editScans.get
    src.singleTerm(atom)
    src.atomScored(atom)
    assert(src.bestMatchWord(atom) === Some("aachen"))
    assert(v.editScans.get - before === 1)
    // a cold local fuzzy atom with a best-match bonus scans once
    val cold = coldReader()
    val coldBefore = cold.vocabulary.editScans.get
    assert(LocalServe.hits(cold, "aachen aachan~", 10, QueryParams(bestMatchBonus = 2.0)).isDefined)
    assert(cold.vocabulary.editScans.get - coldBefore === 1)
  }

  test("warm grammar queries run ZERO Spark jobs") {
    val warmQueries = Seq("aachen aal*", "aal.aalglatt", "aachen -aargau",
      "aargau|babylonisch", "babbeln.baby.babyboom")
    warmQueries.foreach(q =>
      LocalServe.hits(reader, q, 10, QueryParams.Default).get.collect())
    LocalServe.completions(reader, "aachen aa*", 10, QueryParams.Default)
      .get.collect()
    assert(LocalServe.cachedAtomCount(reader) > 0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      warmQueries.foreach(q =>
        LocalServe.hits(reader, q, 10, QueryParams.Default).get.collect())
      LocalServe.completions(reader, "aachen aa*", 10, QueryParams.Default)
        .get.collect()
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() === 0, "warm local grammar serving must run no Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
