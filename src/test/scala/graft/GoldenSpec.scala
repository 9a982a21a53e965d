package graft

import graft.core.WebCorpus
import graft.index.{IndexBuilder, IndexReader}
import graft.query.{Executor, IndexExecutor}
import org.scalatest.funsuite.AnyFunSuite

/** Rank-identity gate (north rule): the distributed engine -- the grammar
  * evaluator over the corpus and over the physical block index, and block-max
  * WAND -- must reproduce the committed golden files produced by the
  * sequential obviously-correct scorer (tools.GenerateGoldens) exactly:
  * same docIds, same 4-dp BM25 scores, same order.
  */
class GoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val corpus = WebCorpus.fromDocuments(spark, sfDir)
  lazy val reader: IndexReader = {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_ix").toString
    IndexBuilder.build(spark, corpus, dir, numShards = 2)
    new IndexReader(spark, dir)
  }

  private def golden(name: String): Seq[String] =
    scala.io.Source.fromResource(s"goldens/$name.tsv").getLines().filter(_.nonEmpty).toSeq

  private def fmt(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => s"${r.getLong(0)}\t${r.getDouble(1)}").toSeq

  /** Query -> golden for every committed hits golden the grammar can ask. */
  private val hitGoldens = Seq(
    "spark" -> "or_spark",
    "spark|hash" -> "or_spark_hash",
    "spark join" -> "and_spark_join",
    "st*" -> "prefix_st",
    "b*" -> "prefix_b")

  private def fmtCompletions(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect()
      .map(r => s"${r.getString(0)}\t${r.getDouble(1)}\t${r.getLong(2)}\t${r.getLong(3)}").toSeq

  test("logical engine is rank-identical to the sequential scorer") {
    for ((q, g) <- hitGoldens)
      assert(fmt(Executor.topK(corpus, q, 10)) === golden(g), q)
  }

  test("physical index (incl. WAND pruning) is rank-identical") {
    for ((q, g) <- hitGoldens)
      assert(fmt(IndexExecutor.topK(reader, q, 10)) === golden(g), q)
    assert(fmt(reader.topKOrWand(Seq("spark", "hash", "merge"), 10)) ===
      golden("or_spark_hash_merge"))
  }

  test("query-grammar executor is rank-identical") {
    // the 3-term OR golden that WAND pins, through the grammar on both sources
    assert(fmt(Executor.topK(corpus, "spark|hash|merge", 10)) === golden("or_spark_hash_merge"))
    assert(fmt(IndexExecutor.topK(reader, "spark|hash|merge", 10)) ===
      golden("or_spark_hash_merge"))
  }

  test("completions are rank-identical") {
    assert(fmtCompletions(Executor.completions(corpus, "s*", 10)) === golden("completions_s"))
    assert(fmtCompletions(IndexExecutor.completions(reader, "s*", 10)) ===
      golden("completions_s"))
  }
}
