package graft.tools

import graft.{Bench, SparkEntry}
import graft.index.{IndexBuilder, IndexReader}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** The one measuring main next to [[graft.Bench]], on Bench's own session
  * ([[graft.Bench.session]]). Each mode prints its result lines as it goes
  * and returns them. Environment as Bench reads it: `SPARK_GRAFT_SF_DIR`
  * (default sf0.1), `SPARK_GRAFT_CPUS` (default 4), `SPARK_GRAFT_REPL`
  * (corpus replication of the queries / build / serve index, default 10).
  *
  *   sbt "runMain graft.tools.Measure gates [<prefix>...] [--plans <dir>]"
  *     each `SparkEntry.queries` gate whose name starts with a prefix (all
  *     without one), 3 runs into the noop sink (run 1 cold): build /
  *     optimize / physical / exec ms, jobs, stages, tasks and one line per
  *     stage; last line `{"<gate>":[build + exec s per run]}`. `--plans`
  *     writes every plan run 1 executed (eager checkpoints included, final
  *     adaptive form) to `<dir>/<gate>.txt`.
  *   sbt "runMain graft.tools.Measure queries [reps]"
  *     Bench's query index: reader-open and first-cold-query ms, per
  *     [[graft.Bench.QuerySet]] query min / median / max over `reps`
  *     (default 9) warm runs with jobs / stages / tasks per run, and
  *     NATIVE / GRAMMAR p50 / p95.
  *   sbt "runMain graft.tools.Measure build [rounds]"
  *     docs/s of `rounds` (default 4) builds; `SPARK_GRAFT_BUILD_TIMING=1`
  *     adds IndexBuilder's own `BUILD_PHASE` lines.
  *   sbt "runMain graft.tools.Measure serve"
  *     Bench's query index behind [[CompletionServer]], 192 queries over
  *     HTTP at each of 1 / 4 / 16 / 32 clients, a query never sent twice:
  *     qps, p50, p95, errors.
  */
object Measure {

  private val Usage =
    "usage: Measure gates [<prefix>...] [--plans <dir>] | queries [reps] | build [rounds] | serve"

  def main(args: Array[String]): Unit = {
    val run: (SparkSession, String, Int) => Seq[String] = args.toSeq match {
      case "gates" +: rest =>
        val plansDir = rest.sliding(2).collectFirst { case Seq("--plans", d) => d }
        val prefixes = rest.filterNot(a => a == "--plans" || plansDir.contains(a))
        (spark, sfDir, _) => gates(spark, sfDir, prefixes, plansDir = plansDir)
      case Seq("queries", reps @ _*) if reps.size <= 1 =>
        (spark, sfDir, repl) => queries(spark, sfDir, repl, reps.headOption.fold(9)(_.toInt))
      case Seq("build", rounds @ _*) if rounds.size <= 1 =>
        (spark, sfDir, repl) => build(spark, sfDir, repl, rounds.headOption.fold(4)(_.toInt))
      case Seq("serve") => serve(_, _, _)
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "10").toInt
    val spark = Bench.session()
    try run(spark, sfDir, repl)
    finally scala.util.Try(spark.stop())
  }

  /** Result lines, printed as they are added. */
  private final class Report {
    val lines = ArrayBuffer.empty[String]
    def +=(line: String): Unit = { println(line); lines += line }
  }

  private def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Jobs, stages and tasks per job group, one line per completed stage.
    * [[run]] runs a block under a job group; [[drain]] returns once the
    * listener bus has delivered every event posted before it: it runs a
    * marker job and waits for the marker's start event, which the bus
    * delivers after all earlier ones. The marker job counts for no group.
    */
  private final class GroupCounts(spark: SparkSession) extends SparkListener {
    final class Counts {
      var jobs, stages, tasks = 0
      val stageLines = ArrayBuffer.empty[String]
    }
    private val Marker = "measure:marker"
    private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Counts]()
    private val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val markersSeen = new java.util.concurrent.atomic.AtomicLong()
    private var markersSent = 0L

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          if (g == Marker) markersSeen.incrementAndGet()
          else {
            val c = byGroup.computeIfAbsent(g, _ => new Counts)
            c.jobs += 1
            j.stageIds.foreach(groupOfStage.put(_, g))
          }
        }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      Option(groupOfStage.remove(i.stageId)).foreach { g =>
        val c = byGroup.get(g)
        c.stages += 1
        c.tasks += i.numTasks
        val dur = for (a <- i.submissionTime; b <- i.completionTime) yield b - a
        c.stageLines += f"    stage ${i.stageId}%4d ${i.numTasks}%4dt ${dur.getOrElse(-1L)}%6d ms  ${i.name.take(60)}"
      }
    }

    def run[A](group: String)(f: => A): A = {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
    }

    def drain(): Unit = {
      markersSent += 1
      run(Marker)(spark.sparkContext.parallelize(Seq(0), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markersSeen.get < markersSent) {
        require(System.nanoTime() < deadline, "the listener bus did not drain in 30 s")
        Thread.sleep(1)
      }
    }

    def apply(group: String): Counts = byGroup.getOrDefault(group, new Counts)
  }

  private def withListener[L <: SparkListener, A](spark: SparkSession, l: L)(f: L => A): A = {
    spark.sparkContext.addSparkListener(l)
    try f(l) finally spark.sparkContext.removeSparkListener(l)
  }

  /** Gate mode (see the object doc); `repeats` runs per gate. */
  def gates(spark: SparkSession, sfDir: String, prefixes: Seq[String],
            repeats: Int = 3, plansDir: Option[String] = None): Seq[String] = {
    val out = new Report
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    plansDir.foreach { d =>
      new java.io.File(d).mkdirs()
      spark.listenerManager.register(planListener)
    }
    Bench.absorbSessionCosts(spark, sfDir)
    val seconds = ArrayBuffer.empty[(String, Seq[Double])]
    try withListener(spark, new GroupCounts(spark)) { counts =>
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }
        .foreach { case (name, fn) =>
          seconds += name -> (1 to repeats).map { run =>
            val group = s"measure:$name:$run"
            executed.clear()
            val (tBuild, tOptimize, tPhysical, tExec) = counts.run(group) {
              val (df, tBuild) = ms(fn(spark, sfDir))
              val qe = df.queryExecution
              val (_, tOptimize) = ms(qe.optimizedPlan)
              val (_, tPhysical) = ms(qe.executedPlan)
              // noop sink: computes every column of every row with no
              // output cost; count() would let Catalyst prune columns
              val (_, tExec) = ms(df.write.format("noop").mode("overwrite").save())
              (tBuild, tOptimize, tPhysical, tExec)
            }
            counts.drain()
            val c = counts(group)
            out += f"[gate] $name run=$run build=$tBuild%.0f optimize=$tOptimize%.0f " +
              f"physical=$tPhysical%.0f exec(noop)=$tExec%.0f ms | " +
              s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}"
            c.stageLines.foreach(out += _)
            if (run == 1) plansDir.foreach { d =>
              val plans = new StringBuilder
              executed.forEach { case (funcName, qe) =>
                plans ++= s"\n========== $name: $funcName ==========\n"
                plans ++= qe.explainString(ExplainMode.fromString("formatted")) + "\n"
              }
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(d, s"$name.txt"), plans.toString)
            }
            (tBuild + tExec) / 1000
          }
        }
    } finally plansDir.foreach(_ => spark.listenerManager.unregister(planListener))
    out += seconds.map { case (name, ts) =>
      "\"" + name + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    out.lines.toSeq
  }

  /** Bench's query index over the `repl`-times replicated corpus, built
    * as [[graft.Bench.buildAndMeasure]] builds it; `f` runs under Bench's
    * query-phase settings (no AQE, 8 shuffle partitions), which are undone
    * afterwards, and the index is deleted.
    */
  private def withBenchIndex[A](spark: SparkSession, sfDir: String, repl: Int)
                               (f: (String, Long) => A): A = {
    val corpus = Bench.replicatedCorpus(spark, sfDir, repl).cache()
    val nDocs = corpus.count()
    val dir = Bench.scratchDir("graft_measure_ix")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      IndexBuilder.build(spark, corpus, dir, numShards = 1)
      corpus.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      f(dir, nDocs)
    } finally {
      corpus.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  /** Query mode (see the object doc); `reps` warm runs per query. */
  def queries(spark: SparkSession, sfDir: String, repl: Int, reps: Int): Seq[String] = {
    val out = new Report
    withBenchIndex(spark, sfDir, repl) { (dir, nDocs) =>
      withListener(spark, new GroupCounts(spark)) { counts =>
        val (reader, openMs) = ms { val r = new IndexReader(spark, dir); r.vocabulary.size; r }
        val (firstName, firstQuery) = Bench.QuerySet.head
        val (_, firstMs) = ms(firstQuery(reader).collect())
        out += f"[queries] n_docs=$nDocs reader_open=$openMs%.1f ms " +
          f"first_cold_query($firstName)=$firstMs%.1f ms"
        Bench.QuerySet.foreach { case (_, q) => q(reader).collect() } // untimed warm pass
        // the groups run as separate blocks, as in Bench: interleaving
        // them puts the grammar queries' GC pauses into native latencies
        val (grammarSet, nativeSet) =
          Bench.QuerySet.partition(e => Bench.GrammarQueries.contains(e._1))
        for ((tag, set) <- Seq("NATIVE" -> nativeSet, "GRAMMAR" -> grammarSet)) {
          val lat = set.map(_._1 -> ArrayBuffer.empty[Double]).toMap
          for (_ <- 1 to reps; (name, q) <- set)
            lat(name) += counts.run(s"measure:$name")(ms(q(reader).collect())._2)
          counts.drain()
          for ((name, _) <- set) {
            val xs = lat(name).toSeq.sorted
            val c = counts(s"measure:$name")
            out += f"[query] $name%-14s min=${xs.head}%.1f med=${Bench.percentile(xs, 0.5)}%.1f " +
              f"max=${xs.last}%.1f ms | jobs=${c.jobs.toDouble / reps}%.1f " +
              f"stages=${c.stages.toDouble / reps}%.1f tasks=${c.tasks.toDouble / reps}%.1f"
          }
          val all = lat.values.flatten.toSeq
          out += f"[queries] $tag p50=${Bench.percentile(all, 0.5)}%.1f ms " +
            f"p95=${Bench.percentile(all, 0.95)}%.1f ms over ${all.size} runs"
        }
      }
    }
    out.lines.toSeq
  }

  /** Build mode (see the object doc). */
  def build(spark: SparkSession, sfDir: String, repl: Int, rounds: Int): Seq[String] = {
    val out = new Report
    val corpus = Bench.replicatedCorpus(spark, sfDir, repl).cache()
    try {
      val nDocs = corpus.count()
      for (round <- 1 to rounds) {
        // a repeated build must re-run the tokenize stage
        graft.core.AnalysisCacheReset.reset()
        val dir = Bench.scratchDir("graft_measure_build")
        try {
          val (_, t) = ms(IndexBuilder.build(spark, corpus, dir, numShards = 1))
          out += f"[build] round=$round n_docs=$nDocs ${t / 1000}%.2f s ${nDocs / (t / 1000)}%.0f docs/s"
        } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    } finally corpus.unpersist()
    out.lines.toSeq
  }

  /** Serve mode (see the object doc). The pool holds distinct queries from
    * the index's own dictionary (exact words, 3-letter prefixes and AND
    * pairs, round-robin): a warm slice of [[ServeWarm]] queries, sent over
    * HTTP before the ladder, then one disjoint slice of `total` per rung,
    * split across its clients (strong scaling: qps = total / wall). No
    * rung meets the server's result history, so each times execution.
    */
  def serve(spark: SparkSession, sfDir: String, repl: Int,
            clients: Seq[Int] = Seq(1, 4, 16, 32), total: Int = 192): Seq[String] = {
    val out = new Report
    withBenchIndex(spark, sfDir, repl) { (dir, _) =>
      val words = new IndexReader(spark, dir).dictionary
        .filter(!col("term").contains(":"))
        .orderBy(col("term").asc)
        .limit(600).select(col("term")).collect().map(_.getString(0)).toSeq
      val prefixes = words.map(w => w.substring(0, math.min(3, w.length)) + "*").distinct
      val pairs = for (a <- words; b <- words if a < b) yield s"$a $b"
      val shapes = Seq(words, prefixes, pairs)
      val size = ServeWarm + total * clients.length
      val pool: IndexedSeq[String] = Iterator.from(0)
        .map(i => shapes(i % shapes.length).lift(i / shapes.length))
        .take(3 * (words.length + prefixes.length + pairs.length))
        .flatten.distinct.take(size).toIndexedSeq
      require(pool.length == size, s"pool not distinct enough: ${pool.length}/$size")
      val server = CompletionServer.start(spark, dir, port = 0, handlerThreads = 32)
      // reads the whole reply; a 4xx / 5xx reply throws
      def get(q: String): Unit = {
        val reply = scala.io.Source.fromURL(s"http://127.0.0.1:${server.getAddress.getPort}/" +
          s"?q=${java.net.URLEncoder.encode(q, "UTF-8")}&h=10", "UTF-8")
        try reply.mkString finally reply.close()
      }
      try {
        // warms the server's own request path (JIT, reader memos)
        pool.take(ServeWarm).foreach(get)
        for ((n, slice) <- clients.zip(pool.drop(ServeWarm).grouped(total))) {
          val next = new java.util.concurrent.atomic.AtomicInteger(0)
          val errors = new java.util.concurrent.atomic.AtomicInteger(0)
          val lats = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
          val (_, wallMs) = ms {
            val threads = (1 to n).map(_ => new Thread(() => {
              var i = next.getAndIncrement()
              while (i < total) {
                val (_, t) = ms {
                  try get(slice(i))
                  catch { case _: Exception => errors.incrementAndGet() }
                }
                lats.add(t)
                i = next.getAndIncrement()
              }
            }))
            threads.foreach(_.start())
            threads.foreach(_.join())
          }
          val xs = scala.jdk.CollectionConverters.CollectionHasAsScala(lats).asScala.toSeq
          out += f"[serve] clients=$n%2d qps=${total / (wallMs / 1000)}%.1f wall=${wallMs / 1000}%.1f s " +
            f"p50=${Bench.percentile(xs, 0.5)}%.1f ms p95=${Bench.percentile(xs, 0.95)}%.1f ms " +
            s"errors=${errors.get}"
        }
      } finally server.stop(0)
    }
    out.lines.toSeq
  }

  /** Queries [[serve]] sends before its ladder. */
  private val ServeWarm = 4
}
