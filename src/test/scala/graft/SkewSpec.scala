package graft

import graft.core.Analysis
import graft.index.{IndexBuilder, IndexReader}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Head-term skew handling: the reference truncates monster posting lists
  * (maxBlockVolume, Globals.cpp:27-33); we must NOT lose postings. The
  * range partitioning on (term_id, doc_id) splits a dominating term across
  * partitions, producing multiple blocks, and the manifest records the
  * resulting skew ratio.
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a dominating term is split across blocks with nothing lost") {
    // 2000 docs, every one contains "the"; tail terms are rare
    val docs = (0L until 2000L).map { i =>
      (i, s"the the the rare$i")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    val manifest = IndexBuilder.build(spark, docs, dir,
      numShards = 1, blockSize = 512, buildPartitions = 8)

    val reader = new IndexReader(spark, dir)
    val theId = reader.dictionary.filter(col("term") === "the")
      .head().getAs[Long]("term_id")
    val theBlocks = reader.blocks.filter(col("term_id") === theId)
    // 2000 docs x tf=3 -> 6000 postings, 512/block -> many blocks
    assert(theBlocks.count() >= 10)
    // lossless: decoded postings for "the" = 2000 docs, total tf = 6000
    val dec = reader.decode(theBlocks)
    assert(dec.count() === 2000)
    assert(dec.agg(sum(col("tf"))).head().getLong(0) === 6000)
    // doc ranges of consecutive blocks don't overlap within a partition sort
    val metas = theBlocks.select(col("first_doc_id"), col("last_doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    metas.sliding(2).foreach {
      case Array((_, lastA), (firstB, _)) => assert(lastA < firstB)
      case _ =>
    }
    // manifest records the skew ratio lineage metric
    val skew = manifest.filter(col("status") === "built")
      .head().getAs[Double]("skew_ratio")
    assert(skew >= 1.0)
  }
}
