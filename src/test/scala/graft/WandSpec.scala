package graft

import graft.index.{IndexBuilder, IndexReader}
import graft.query.{IndexExecutor, LocalServe, QueryParams}
import org.scalatest.funsuite.AnyFunSuite

/** Block-max WAND must (a) actually prune blocks on a skewed corpus and
  * (b) stay exact while doing so.
  */
class WandSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pruning fires on low-upper-bound blocks and stays exact") {
    // 10 short docs rich in the rare term "gold"; 100 medium filler docs;
    // 900 long filler docs whose tf-part (and so block-max) is tiny.
    // The gold docs are the SHORTEST, so the filler block containing them
    // has the strictly highest block_max_tfpart -- phase 1 deterministically
    // picks it, regardless of block metadata collect order.
    val pad = (1 to 200).map(i => s"pad$i").mkString(" ")
    val docs = (
      (0L until 10L).map(i => (i, "gold gold gold gold filler")) ++
      (10L until 110L).map(i => (i, "filler quick note extra word")) ++
      (110L until 1000L).map(i => (i, s"filler $pad"))
    ).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("graft_wand").toString
    IndexBuilder.build(spark, docs, dir, numShards = 1, blockSize = 64,
      buildPartitions = 8)
    // wandMinBlocks = 1 forces the two-phase path for this test
    val reader = new IndexReader(spark, dir, wandMinBlocks = 1)

    val (wandDf, total, scanned) = reader.topKOrWandStats(Seq("gold", "filler"), 5)
    val wand = wandDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = IndexExecutor.topK(reader, "gold|filler", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    assert(total > 10)
    assert(scanned < total, s"expected pruning: scanned=$scanned total=$total")
    assert(wand === full)
    // the gold-rich docs dominate the top-5
    assert(wand.map(_._1).forall(_ < 10L))
  }

  test("head term spanning hundreds of blocks prunes with bounded driver state") {
    // A skewed index: the head term 'web' occurs in all 3,000 docs and,
    // with blockSize=8, spans several hundred blocks. WAND must complete
    // and prune: per-term aggregates (not per-block rows) go to the driver
    // and survival is a broadcast-threshold predicate, so block count can
    // grow without growing driver state or the plan's expression tree.
    // gold docs carry tf(web)=3 at tiny dl, so the top docs' web
    // contribution clears the 1e-4 rounding margin above the long-doc
    // blocks' upper bound -- pruning must be decisive, not knife-edge
    val pad = (1 to 50).map(i => s"pad$i").mkString(" ")
    val docs = (
      (0L until 10L).map(i => (i, "gold gold web web web")) ++
      (10L until 3000L).map(i => (i, s"web $pad"))
    ).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("graft_wand_skew").toString
    IndexBuilder.build(spark, docs, dir, numShards = 1, blockSize = 8,
      buildPartitions = 8)
    val reader = new IndexReader(spark, dir, wandMinBlocks = 1)

    val (wandDf, total, scanned) = reader.topKOrWandStats(Seq("gold", "web"), 5)
    val wand = wandDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = IndexExecutor.topK(reader, "gold|web", 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    assert(total > 300, s"skew fixture should span >300 blocks, got $total")
    assert(scanned < total / 2, s"expected heavy pruning: scanned=$scanned total=$total")
    assert(wand === full)
    assert(wand.map(_._1).forall(_ < 10L))
  }

  test("driver-resident serving path: identical results, zero jobs when warm") {
    val docs = (
      (0L until 10L).map(i => (i, "gold silver web mining")) ++
      (10L until 400L).map(i => (i, s"web page number$i content words"))
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_serve").toString
    IndexBuilder.build(spark, docs, dir, numShards = 1, blockSize = 32,
      buildPartitions = 4)
    val reader = new IndexReader(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // parity: the serving facade (IndexExecutor.serveHits -> LocalServe)
    // serves single keyword, OR and prefix locally and equals the
    // distributed Eval plans exactly (same scores at 4dp, same total order)
    for (q <- Seq("gold", "gold|web", "silver|mining|web", "numbe*", "go*"))
      assert(LocalServe.hits(reader, q, 10, QueryParams.Default).isDefined, q)
    for (q <- Seq("gold", "gold|web", "silver|mining|web", "numbe*", "go*",
        "nosuchword", "gold|nosuchword"))
      assert(rows(IndexExecutor.serveHits(reader, q, 10)) ===
        rows(IndexExecutor.topK(reader, q, 10)), q)
    // unknown terms: no hits alone, nothing added as an OR alternative
    assert(rows(IndexExecutor.serveHits(reader, "nosuchword", 10)).isEmpty)
    assert(rows(IndexExecutor.serveHits(reader, "gold|nosuchword", 10)) ===
      rows(IndexExecutor.topK(reader, "gold", 10)))

    // warm = ZERO Spark jobs: the atoms are driver-resident, so both a
    // repeated page and a new page (k = 5) over them run none
    assert(LocalServe.cachedAtomCount(reader) > 0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (k <- Seq(10, 5)) {
        rows(IndexExecutor.serveHits(reader, "gold|web", k))
        rows(IndexExecutor.serveHits(reader, "go*", k))
      }
      Thread.sleep(500) // listener bus is async
      assert(jobs.get() === 0, "warm serve must run no Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
