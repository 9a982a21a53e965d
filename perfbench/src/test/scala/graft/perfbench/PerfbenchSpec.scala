package graft.perfbench

import graft.api.Search
import graft.index.{IndexBuilder, IndexReader}
import graft.query.{IndexAtomSource, IndexQueryCache}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private def inputs(seed: Long): String = {
    val v = Gen.vocab(seed, 5000)
    val c = Gen.corpus(seed, v, 300, 40)
    val pool = Gen.typingPool(seed, v, 8, 1000)
    val miss = Gen.missStream(seed, c, 200, 500)
    val dup = Gen.dupCorpus(seed, v, 200, 40, 0.1)
    Gen.fingerprint((0 until c.nDocs).iterator.map(c.text) ++
      pool.iterator.map(_.mkString(" ")) ++ miss.iterator ++ dup.texts.iterator ++
      dup.planted.iterator.map(_.toString))
  }

  test("the same seed gives identical inputs, another seed different ones") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("the miss stream never repeats a query and keeps its shape cycle") {
    val v = Gen.vocab(3, 5000)
    val c = Gen.corpus(3, v, 300, 40)
    val qs = Gen.missStream(3, c, 500, 500)
    assert(qs.distinct.length == qs.length)
    assert(qs.grouped(20).forall(_.count(_.startsWith("[")) == 2))
  }

  test("planted near-duplicates clear the Jaccard threshold") {
    val v = Gen.vocab(5, 5000)
    val d = Gen.dupCorpus(5, v, 300, 60, 0.1)
    assert(d.planted.nonEmpty)
    d.planted.foreach { case (a, b) =>
      val sa = Gen.shingles(d.texts(a.toInt).split(" "), 5)
      val sb = Gen.shingles(d.texts(b.toInt).split(" "), 5)
      assert(Gen.jaccard(sa, sb) >= 0.6)
    }
  }

  test("the tail percentile is the highest with at least ten samples beyond it") {
    def beyond(xs: Seq[Double], v: Double) = xs.count(_ > v)
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred) == ((90.0, 90.0)))
    assert(beyond(hundred, 90.0) == 10)
    // 500 samples: p98 is the 490th value, ten above it
    val five = (1 to 500).map(_.toDouble)
    assert(Stats.tail(five) == ((98.0, 490.0)))
    // enough samples: capped at p99
    val many = (1 to 5000).map(_.toDouble)
    assert(Stats.tail(many) == ((99.0, 4950.0)))
    assert(beyond(many, 4950.0) >= 10)
    // too few samples for any percentile: the maximum
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((100.0, 3.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("span self time is the duration minus the covered child intervals") {
    val p = Span(1, -1, 1, "parent", 0, 100)
    val kids = Seq(Span(2, 1, 1, "a", 10, 30), Span(3, 1, 1, "b", 20, 50),
      Span(4, 1, 1, "c", 90, 120))
    // covered: [10, 50) and [90, 100) = 50
    assert(Span.selfNs(p, kids) == 50)
    assert(Span.selfNs(p, Nil) == 100)
  }

  test("the recorder nests spans of one thread under their caller") {
    val t = new Trace
    t.span(9, "outer") { t.span(9, "inner")(Thread.sleep(2)) }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(t.all.forall(_.req == 9))
    assert(t.selfTimes(byName("outer").id) <= byName("outer").durNs - byName("inner").durNs)
  }

  test("SQL executions are sorted into reader layers by the relation they scan") {
    assert(SparkCounters.classify("FileScan parquet [term_id] Location: [file:/i/dictionary] " +
      "PushedFilters: [StringStartsWith(term,ab)] StartsWith(term, ab)") == "prefix_range")
    assert(SparkCounters.classify("FileScan parquet Location: [file:/i/dictionary]") == "term_info")
    assert(SparkCounters.classify("Project FileScan parquet Location: [file:/i/blocks]") == "block_fetch")
    assert(SparkCounters.classify("HashAggregate FileScan Location: [file:/i/blocks]") == "eval")
    assert(SparkCounters.classify("FileScan parquet Location: [file:/i/docs]") == "docs_fetch")
  }

  test("BENCHMARK.json lists exactly the workloads and metrics the benchmark prints") {
    val f = new java.io.File("../BENCHMARK.json")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    import scala.jdk.CollectionConverters._
    def names(k: String) = root.path(k).elements().asScala.map(_.path("name").asText()).toSeq
    def units(k: String) = root.path(k).elements().asScala
      .map(n => n.path("name").asText() -> n.path("unit").asText()).toSeq
    assert(names("workloads") == Main.Workloads)
    assert(units("end_to_end") == Main.EndToEnd)
    assert(units("per_layer") == Main.PerLayer)
  }

  test("the traced twin answers every request shape exactly as api.Search.searchIndex") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("perfbench-spec")
    try {
      val v = Gen.vocab(11, 40000)
      val c = Gen.corpus(11, v, 200, 40)
      // one document of the whole vocabulary puts the fallback shape's
      // one-letter prefix past LocalServe's candidate cap
      val texts = Array.tabulate(c.nDocs)(c.text) :+ v.words.mkString(" ")
      val corpus = Main.webCorpus(spark, texts, dir.resolve("corpus"))
      val idx = dir.resolve("index").toString
      IndexBuilder.build(spark, corpus, idx, numShards = 1)
      IndexBuilder.buildDocsStore(spark, corpus, idx)
      // the stream's words are mostly rare on 200 documents; OR of head
      // words gives OR hits whose excerpts the alternatives decide
      val qs = Gen.missStream(11, c, Gen.MissCycle, IndexAtomSource.MaxExactIds).toSeq ++
        Gen.keystrokes(Seq(v.words(3), v.words(40))) ++
        Seq(s"${v.words(5)}|${v.words(6)} ${v.words(0)}", s"${v.words(1)} ${v.words(7)}|${v.words(9)}")
      val twin = new IndexReader(spark, idx)
      val twinCache = new IndexQueryCache()
      val reader = new IndexReader(spark, idx)
      val cache = new IndexQueryCache()
      val fallbacks = new AtomicLong()
      qs.foreach { q =>
        assert(Serving.twinSearch(twin, twinCache, q, -1L, None, fallbacks) ==
          Search.searchIndex(reader, q, Serving.K, Serving.K, 2, Some(cache), Serving.Params), q)
      }
      assert(fallbacks.get() > 0)
    } finally {
      spark.stop()
      Main.deleteTree(dir)
    }
  }
}
