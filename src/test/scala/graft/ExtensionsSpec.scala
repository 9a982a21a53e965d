package graft

import graft.core.WebCorpus
import graft.index.IndexBuilder
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The custom Generator registered through SparkSessionExtensions must be
  * usable from plain SQL (LATERAL VIEW), matching the Scala decode path.
  */
class ExtensionsSpec extends AnyFunSuite {

  /** The shared test session may already exist (suite ordering), in which
    * case withExtensions would be silently ignored -- register on the live
    * session instead, which is also what a shell user with an existing
    * session must do.
    */
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    GraftExtensions.register(s)
    s
  }

  test("graft_postings_decode works from SQL (default pfor index, codec arg)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ext_ix").toString
    val corpus = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, corpus, dir, numShards = 1)
    spark.read.parquet(s"$dir/blocks").createOrReplaceTempView("blocks")
    val viaSql = spark.sql(
      """SELECT term_id, p.doc_id, p.tf
        |FROM blocks
        |LATERAL VIEW graft_postings_decode(n_docs, doc_deltas, tfs, dls, 'pfor') p
        |""".stripMargin)
    val viaScala = new graft.index.IndexReader(spark, dir)
    val a = viaSql.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = viaScala.decode(viaScala.blocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b && a.nonEmpty)
  }

  test("codec-less SQL call decodes varint blocks (back-compat form)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ext_ix_v").toString
    val corpus = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, corpus, dir, numShards = 1, doclistCodec = "varint")
    spark.read.parquet(s"$dir/blocks").createOrReplaceTempView("blocks_v")
    val viaSql = spark.sql(
      """SELECT term_id, p.doc_id, p.tf
        |FROM blocks_v
        |LATERAL VIEW graft_postings_decode(n_docs, doc_deltas, tfs, dls) p
        |""".stripMargin)
    val viaScala = new graft.index.IndexReader(spark, dir)
    val a = viaSql.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = viaScala.decode(viaScala.blocks)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b && a.nonEmpty)
  }
}
