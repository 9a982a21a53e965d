package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry point (started by run.py):
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Prints `[perfbench] ...` lines describing the inputs, the settings and
  * every metric, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
  * untraced, the per-layer metrics traced). Exits 1 when an output check
  * fails.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** End-to-end metrics, the same three on every workload (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "p50_ms" -> "ms", "tail_ms" -> "ms")

  /** Per-layer metrics of the traced run (name, unit). A workload that does
    * not call a layer reports 0 for it.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "query.parse_us" -> "us",
    "serve.hits_ms" -> "ms", "serve.completions_ms" -> "ms",
    "serve.zero_job_frac" -> "ratio", "serve.fallback_frac" -> "ratio",
    "serve.atom_lru_entries" -> "count", "serve.result_history_entries" -> "count",
    "history.entries" -> "count", "history.bytes" -> "B", "history.hit_frac" -> "ratio",
    "reader.term_info_ms" -> "ms", "reader.prefix_range_ms" -> "ms",
    "reader.block_fetch_ms" -> "ms", "reader.block_bytes_read" -> "B",
    "eval.distributed_ms" -> "ms",
    "excerpts.ms" -> "ms", "api.search_ms" -> "ms", "render.json_us" -> "us",
    "http.overhead_ms" -> "ms",
    "spark.jobs_per_query" -> "count", "spark.tasks_per_query" -> "count",
    "spark.sched_delay_ms_per_query" -> "ms",
    "build.tokenize_s" -> "s", "build.jobs" -> "count", "build.shuffle_write_mb" -> "MB",
    "build.task_skew" -> "ratio", "build.postings" -> "count",
    "build.bytes_per_posting" -> "B", "build.index_bytes_per_text_byte" -> "ratio",
    "ops.jaccard_pairs_s" -> "s", "ops.clusters_s" -> "s", "ops.keepset_s" -> "s",
    "ops.lsh_pairs_s" -> "s", "ops.substr_spans_s" -> "s",
    "ops.peak_task_mem_mb" -> "MB", "ops.lsh_candidate_precision" -> "ratio",
    "ops.shuffle_write_mb" -> "MB",
    "jvm.gc_ms_per_s" -> "ms/s", "jvm.heap_retained_mb" -> "MB",
    "trace.overhead_p50_pct" -> "%", "trace.overhead_throughput_pct" -> "%")

  val Workloads = Seq("serve_typing", "serve_miss", "ops_dedup")

  /** What a workload hands back: the check outcome, operation counts and
    * the metrics it measured, by name.
    */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val runDir = Paths.get(".bench_build", s"run-${ProcessHandle.current().pid()}")
      .toAbsolutePath
    Files.createDirectories(runDir)
    val spark = session(nproc)
    val result =
      try {
        settings(spark, nproc)
        args.workload match {
          case "serve_typing" => Serving.run(spark, args, runDir, typing = true)
          case "serve_miss" => Serving.run(spark, args, runDir, typing = false)
          case "ops_dedup" => OpsDedup.run(spark, args, runDir)
        }
      } finally {
        spark.stop()
        deleteTree(runDir)
      }
    val catalog = if (args.trace) PerLayer else EndToEnd
    val failFrac = result.failed.toDouble / math.max(1L, result.attempted)
    say(f"fail_frac ${failFrac}%.6f (${result.failed} of ${result.attempted} operations)")
    catalog.foreach { case (n, u) =>
      say(f"metric $n%-32s ${result.metrics.getOrElse(n, 0.0)}%14.6f $u")
    }
    val ms = catalog.map { case (n, u) =>
      val v = result.metrics.getOrElse(n, 0.0)
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }
    println(s"""{"correct":${result.correct},"attempted":${result.attempted},""" +
      s""""failed":${result.failed},"metrics":{${ms.mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!Workloads.contains(w)) usage(s"unknown workload $w")
    val t = need("trace")
    if (t != "0" && t != "1") usage("--trace must be 0 or 1")
    val secs = need("seconds").toInt
    if (secs < 1) usage("--seconds must be at least 1")
    Args(w, need("seed").toLong, secs, t == "1")
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workloads.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  def say(s: String): Unit = println(s"[perfbench] $s")

  /** The session the engine's own mains use (graft.tools.Cli.session),
    * with the core count taken from the machine.
    */
  private def session(nproc: Int): SparkSession = {
    val s = SparkSession.builder().appName("graft-perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def settings(spark: SparkSession, nproc: Int): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    say(s"settings nproc=$nproc spark=${spark.version} master=${spark.sparkContext.master} " +
      Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone", "spark.ui.enabled")
        .map(k => s"$k=${spark.conf.getOption(k).getOrElse("-")}").mkString(" "))
    say(s"settings jvm=${System.getProperty("java.version")} " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory() >> 20} " +
      s"gc=${(0 until gcs.size).map(gcs.get(_).getName).mkString(",")} " +
      s"args=${rt.getInputArguments.toArray.filterNot(_.toString.startsWith("--add-opens")).mkString(" ")}")
  }

  // ---- helpers shared by the workloads -----------------------------------

  /** Generated texts as the five-column web-page table core.WebCorpus
    * produces (plus doc_id), written as parquet and read back so the engine
    * reads a file-backed relation.
    */
  def webCorpus(spark: SparkSession, texts: Array[String], dir: Path): DataFrame = {
    import spark.implicits._
    texts.indices.map(i => (i.toLong, texts(i))).toDF("doc_id", "text")
      .select(
        concat(lit("https://bench.example/doc/"), col("doc_id")).as("url"),
        timestamp_seconds(unix_timestamp(to_timestamp(lit(graft.core.WebCorpus.Epoch))) +
          col("doc_id")).as("warc_ts"),
        encode(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")),
          "UTF-8").as("html"),
        col("text"), lit("en").as("lang"), col("doc_id"))
      .write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** Run `f` with its Spark jobs under job group `g`. */
  def withGroup[A](spark: SparkSession, g: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(g, g)
    try f finally spark.sparkContext.clearJobGroup()
  }

  def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Run `f`, printing how long it took. */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally say(f"phase $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Set-ups per run; setup_s is their median. */
  val SetupRepeats = 3

  /** Median of `n` timed set-ups; `once` returns what the last one built. */
  def setups[A](n: Int)(once: Boolean => A): (Double, A) = {
    var last: Option[A] = None
    val ts = (1 to n).map { i =>
      val t0 = System.nanoTime()
      val a = once(i == n)
      last = Some(a)
      (System.nanoTime() - t0) / 1e9
    }
    say(f"setup ${ts.map(t => f"$t%.3f").mkString(" ")} s (median ${Stats.median(ts)}%.3f)")
    (Stats.median(ts), last.get)
  }

  /** Spark driver heap still reachable after a full collection, in MB. */
  def heapRetainedMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMillis(): Long = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    (0 until gcs.size).map(gcs.get(_).getCollectionTime).sum
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_))
        .filter(f => !f.getFileName.toString.endsWith(".crc"))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** p50 and tail latency; the throughput is printed only (see README). */
  def latencyMetrics(latMs: Seq[Double], seconds: Double, items: Double,
                     what: String): Map[String, Double] = {
    val (tp, tv) = Stats.tail(latMs)
    say(f"latency p50 ${Stats.median(latMs)}%.3f ms, p$tp%.1f $tv%.3f ms over ${latMs.size} $what; " +
      f"throughput ${items / seconds}%.2f/s")
    Map("p50_ms" -> Stats.median(latMs), "tail_ms" -> tv, "throughput_per_s" -> items / seconds)
  }
}
