package graft.perfbench

import graft.ops.Dedup
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import Main.say

/** The ops_dedup workload: the timed operation is one cold pass of the
  * near-duplicate functions of graft.ops.Dedup over a corpus with planted
  * near-duplicates and boilerplate footers. A batch job pays its plans'
  * JIT and code generation on every run, and the cold pass outlasts a
  * run's seconds several times over, so a run times exactly one pass and
  * its tail_ms equals its p50_ms. In a traced run the counters are
  * attached only to a third pass, after an untraced warm one.
  */
object OpsDedup {

  val DedupDocs = 1500
  val MedianLen = 90
  val VocabSize = 40000
  val DupRate = 0.08
  val Threshold = 0.5

  /** Read the corpus parquet into a cached relation (the set-up measured
    * three times; cached data is dropped before each).
    */
  private def load(spark: SparkSession, dir: Path): DataFrame = {
    spark.catalog.clearCache()
    val df = spark.read.parquet(dir.toString).cache()
    df.count()
    df
  }

  // ---- ops_dedup ----------------------------------------------------------------

  /** What one dedup pass produced, kept for the output check. */
  final case class DedupOut(pairs: Array[(Long, Long, Double)], clusters: Map[Long, Long],
                            keep: Long, lsh: Array[(Long, Long)], spans: Long)

  def run(spark: SparkSession, args: Main.Args, dir: Path): Main.Result = {
    import spark.implicits._
    val v = Gen.vocab(args.seed, VocabSize)
    val d = Gen.dupCorpus(args.seed, v, DedupDocs, MedianLen, DupRate)
    Main.webCorpus(spark, d.texts, dir.resolve("corpus"))
    say(s"input docs=${d.texts.length} planted_pairs=${d.planted.size} " +
      s"fingerprint=${Gen.fingerprint(d.texts.iterator ++ d.planted.iterator.map(_.toString))}")
    val (setupS, docs) = Main.setups(Main.SetupRepeats)(_ => load(spark, dir.resolve("corpus")))
    val timing = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def step[A](name: String)(f: => A): A = Main.withGroup(spark, s"pb-ops-$name") {
      val t0 = System.nanoTime()
      try f finally timing(name) += (System.nanoTime() - t0) / 1e9
    }
    var last: DedupOut = null
    def pass(): Unit = {
      val pairs = step("jaccard_pairs")(Dedup.jaccardPairs(docs, threshold = Threshold).collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val clusters = step("clusters")(Dedup.duplicateClusters(
        pairs.map(p => (p._1, p._2)).toSeq.toDF("a", "b")).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val keep = step("keepset")(Dedup.nearDupKeepSet(docs).count())
      val lsh = step("lsh_pairs")(Dedup.lshCandidatePairs(docs).collect())
        .map(r => (r.getLong(0), r.getLong(1)))
      val spans = step("substr_spans")(Dedup.duplicatedSpans(docs).count())
      last = DedupOut(pairs, clusters, keep, lsh, spans)
    }
    val gc0 = Main.gcMillis()
    val passS = Main.timeS(pass())
    val gcMsPerS = (Main.gcMillis() - gc0) / passS
    val heap = Main.heapRetainedMb()
    var metrics = Main.latencyMetrics(Seq(passS * 1000), passS, d.texts.length, "passes") ++
      Map("setup_s" -> setupS, "jvm.heap_retained_mb" -> heap, "jvm.gc_ms_per_s" -> gcMsPerS)
    say(f"dedup ${d.texts.length / passS}%.1f docs/s over one cold pass; " +
      s"${last.pairs.length} pairs, ${last.clusters.values.toSet.size} clusters, " +
      s"keep ${last.keep}, ${last.lsh.length} lsh candidates, ${last.spans} spans")

    val truth = new Truth(d.texts)
    val bad = checkDedup(truth, d.planted, last)
    if (args.trace) {
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      // overhead: a warm untraced pass against a warm traced one
      val baseMs = Main.timeS(pass()) * 1000
      timing.clear()
      val gcT = Main.gcMillis()
      val t0 = System.nanoTime()
      pass()
      val tracedMs = (System.nanoTime() - t0) / 1e6
      val gcRate = (Main.gcMillis() - gcT) / (tracedMs / 1000)
      counters.drain(spark)
      spark.sparkContext.removeSparkListener(counters)
      val o = counters.total(_.startsWith("pb-ops-"))
      val truePairs = last.lsh.count { case (a, b) => truth.jaccard(a, b) >= Threshold }
      metrics ++= Map(
        "ops.jaccard_pairs_s" -> timing("jaccard_pairs"),
        "ops.clusters_s" -> timing("clusters"),
        "ops.keepset_s" -> timing("keepset"),
        "ops.lsh_pairs_s" -> timing("lsh_pairs"),
        "ops.substr_spans_s" -> timing("substr_spans"),
        "ops.peak_task_mem_mb" -> o.peakTaskMemBytes / 1048576.0,
        "ops.lsh_candidate_precision" ->
          (if (last.lsh.isEmpty) 0.0 else truePairs.toDouble / last.lsh.length),
        "ops.shuffle_write_mb" -> o.shuffleWriteBytes / 1048576.0,
        "jvm.gc_ms_per_s" -> gcRate,
        "trace.overhead_p50_pct" -> 100 * (tracedMs - baseMs) / baseMs)
    }
    Main.Result(bad == 0, 2L, if (bad == 0) 0L else 1L, metrics)
  }

  /** Benchmark-side shingle sets under the same df cap jaccardPairs applies
    * (shingles in more than `maxShingleDf` docs are dropped).
    */
  final class Truth(texts: Array[String], maxShingleDf: Long = 1000L) {
    private val raw = texts.map(t => Gen.shingles(t.toLowerCase.split("[. ]+").filter(_.nonEmpty), 5))
    private val df = {
      val m = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
      raw.foreach(_.foreach(s => m(s) += 1))
      m
    }
    private val sets = raw.map(_.filter(df(_) <= maxShingleDf))
    def jaccard(a: Long, b: Long): Double = Gen.jaccard(sets(a.toInt), sets(b.toInt))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Every reported pair's Jaccard is re-computed in the benchmark and must
    * equal the reported value and pass the threshold; every planted pair
    * must be reported and share a cluster.
    */
  private def checkDedup(truth: Truth, planted: Seq[(Long, Long)], o: DedupOut): Int = {
    val wrong = o.pairs.filter { case (a, b, j) =>
      val t = round4(truth.jaccard(a, b)); t != j || t < Threshold
    }
    val reported = o.pairs.map(p => (p._1, p._2)).toSet
    val missed = planted.filterNot(reported.contains)
    val split = planted.filter { case (a, b) => o.clusters.get(a).isEmpty || o.clusters.get(a) != o.clusters.get(b) }
    say(s"check: ${o.pairs.length} pairs re-verified (${wrong.length} wrong), " +
      s"${planted.size - missed.size}/${planted.size} planted pairs recalled, ${split.size} split")
    if (wrong.nonEmpty || missed.nonEmpty || split.nonEmpty)
      say(s"CHECK FAILED wrong=${wrong.take(5).toSeq} missed=${missed.take(5)} split=${split.take(5)}")
    wrong.length + missed.size + split.size
  }
}
