package graft

import graft.tools.Measure
import org.scalatest.funsuite.AnyFunSuite

/** Each `Measure` mode once, at its smallest size, over sf0.001: the
  * result lines each mode promises are there and well formed.
  */
class MeasureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val Num = """\d+(?:\.\d+)?"""

  private def assumeData(): Unit =
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(), s"$sfDir not present")

  test("gates: phase split, job counts, per-stage lines, JSON line and executed plans") {
    assumeData()
    val plans = java.nio.file.Files.createTempDirectory("graft_measure_plans")
    val lines = Measure.gates(spark, sfDir, Seq("dd_jaccard_pairs"), repeats = 1,
      plansDir = Some(plans.toString))
    val run = lines.find(_.startsWith("[gate] dd_jaccard_pairs run=1 ")).get
    assert(run.matches(s"""\\[gate\\] dd_jaccard_pairs run=1 build=$Num optimize=$Num """ +
      s"""physical=$Num exec\\(noop\\)=$Num ms \\| jobs=(\\d+) stages=(\\d+) tasks=(\\d+)"""), run)
    val jobs = """jobs=(\d+) stages=(\d+)""".r.findFirstMatchIn(run).get
    assert(jobs.group(1).toInt > 0)
    assert(lines.count(_.startsWith("    stage ")) === jobs.group(2).toInt)
    assert(lines.last.matches(s"""\\{"dd_jaccard_pairs":\\[$Num\\]\\}"""), lines.last)
    // the eager localCheckpoint made while the DataFrame is built runs a
    // plan of its own before the noop write: more than one plan is written
    val dump = java.nio.file.Files.readString(plans.resolve("dd_jaccard_pairs.txt"))
    assert("========== dd_jaccard_pairs: ".r.findAllMatchIn(dump).size > 1, dump.take(2000))
    org.apache.commons.io.FileUtils.deleteQuietly(plans.toFile)
  }

  test("queries: reader open, first cold query, per-query lines, NATIVE / GRAMMAR percentiles") {
    assumeData()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val lines = Measure.queries(spark, sfDir, repl = 1, reps = 1)
    assert(lines.head.matches(s"""\\[queries\\] n_docs=\\d+ reader_open=$Num ms """ +
      s"""first_cold_query\\(kw:spark\\)=$Num ms"""), lines.head)
    val perQuery = lines.filter(_.startsWith("[query] "))
    assert(perQuery.map(_.split("\\s+")(1)) === Bench.QuerySet.map(_._1)
      .sortBy(n => Bench.GrammarQueries.contains(n)))
    perQuery.foreach(l => assert(l.matches(s"""\\[query\\] \\S+ +min=$Num med=$Num max=$Num ms """ +
      s"""\\| jobs=$Num stages=$Num tasks=$Num"""), l))
    for (tag <- Seq("NATIVE", "GRAMMAR"))
      assert(lines.exists(_.matches(s"""\\[queries\\] $tag p50=$Num ms p95=$Num ms over \\d+ runs""")), tag)
    // the query-phase settings are undone for the session's later users
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === shuffle)
  }

  test("build: one round, docs/s") {
    assumeData()
    val lines = Measure.build(spark, sfDir, repl = 1, rounds = 1)
    assert(lines.size === 1)
    assert(lines.head.matches(s"""\\[build\\] round=1 n_docs=\\d+ $Num s $Num docs/s"""), lines.head)
  }

  test("serve: a 1-client rung over HTTP answers every query") {
    assumeData()
    val lines = Measure.serve(spark, sfDir, repl = 1, clients = Seq(1), total = 6)
    assert(lines.size === 1)
    assert(lines.head.matches(s"""\\[serve\\] clients= 1 qps=$Num wall=$Num s p50=$Num ms """ +
      s"""p95=$Num ms errors=0"""), lines.head)
  }
}
