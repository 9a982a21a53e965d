package graft

import graft.index.{IndexBuilder, IndexReader}
import graft.query.{LocalServe, QueryParams}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The driver-side point reader must return exactly the rows of the Spark
  * relations it replaces on the serving paths -- `blocksForIdRuns(runs)`
  * and `docs.filter(doc_id IN ids)` -- byte for byte, over every layout a
  * reader serves (sharded, delta shards, compacted with crash debris), and
  * must throw where the files are gone or corrupt.
  */
class PointReaderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val vocab = (0 until 300).map(i => f"w$i%03d") ++ Seq("über", "ﬁx", "😀x")

  /** `n` docs from id `from`, Zipf-ish over the vocabulary; docs with ids
    * at or past `narrowFrom` use only the first 120 words, so the upper
    * shard of a 2-shard build has no dir for the high buckets. Every
    * seventh doc has no url.
    */
  private def corpus(seed: Int, from: Long, n: Int, narrowFrom: Long = Long.MaxValue) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val id = from + i
      val span = if (id >= narrowFrom) 120 else vocab.length
      val words = Seq.fill(3 + rnd.nextInt(25))(vocab(
        math.min(span - 1, (span * math.pow(rnd.nextDouble(), 2.5)).toInt)))
      (id, words.mkString(" "), if (i % 7 == 3) None else Some(s"http://d/$id"))
    }.toDF("doc_id", "text", "url")
  }

  private def build(dir: String, shards: Int, cuts: Seq[String] = Nil): Unit = {
    val c = corpus(7, 0L, 240, narrowFrom = 120L)
    IndexBuilder.build(spark, c.drop("url"), dir, numShards = shards, blockSize = 4,
      bucketSize = 16, prefixBoundaries = cuts)
    IndexBuilder.buildDocsStore(spark, c, dir)
  }

  private def hex(b: Array[Byte]): String =
    if (b == null) "null" else b.map(x => f"$x%02x").mkString

  private def sparkBlocks(r: IndexReader, runs: Seq[(Long, Long)], pos: Boolean): Seq[String] =
    r.blocksForIdRuns(runs).select((Seq("term_id", "first_doc_id", "n_docs", "doc_deltas",
        "tfs", "dls") ++ (if (pos) Seq("positions") else Nil)).map(col): _*)
      .collect().map { x =>
        s"${x.getLong(0)},${x.getLong(1)},${x.getInt(2)}," +
          (3 until x.length).map(i => hex(x.getAs[Array[Byte]](i))).mkString(",")
      }.toSeq.sorted

  private def pointBlocks(r: IndexReader, runs: Seq[(Long, Long)], pos: Boolean): Seq[String] =
    r.points.blocks(runs, pos).map { s =>
      s"${s.termId},${s.firstDocId},${s.nDocs}," +
        (Seq(s.docDeltas, s.tfs, s.dls) ++ (if (pos) Seq(s.positions) else Nil))
          .map(hex).mkString(",")
    }.toSeq.sorted

  /** Randomized run sets over (and past) the vocabulary: single ids,
    * short runs, runs spanning several buckets, overlapping runs.
    */
  private def checkBlocks(r: IndexReader, seed: Int, trials: Int = 40): Unit = {
    val rnd = new scala.util.Random(seed)
    val top = r.vocabulary.size + 40
    for (t <- 0 until trials) {
      val runs = Seq.fill(1 + rnd.nextInt(5)) {
        val lo = rnd.nextInt(top).toLong
        val len = rnd.nextInt(4) match {
          case 0 => 0
          case 1 => rnd.nextInt(5)
          case 2 => 16 + rnd.nextInt(60) // several buckets
          case _ => rnd.nextInt(16)
        }
        (lo, lo + len)
      }
      val pos = t % 2 == 0
      val want = sparkBlocks(r, runs, pos)
      assert(pointBlocks(r, runs, pos) === want, s"runs $runs positions $pos")
    }
  }

  private def checkDocs(r: IndexReader, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    for (_ <- 0 until 15) {
      // absent ids (negative, past the last doc) ride along with present ones
      val ids = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(280).toLong - 20)
      val want = r.docs.filter(col("doc_id").isin(ids: _*))
        .select("doc_id", "url", "text").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq.sortBy(_._1)
      assert(r.points.docs(ids).toSeq.sortBy(_._1) === want, s"ids $ids")
    }
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def copyTree(src: String): String = {
    val s = java.nio.file.Paths.get(src)
    val copy = java.nio.file.Files.createTempDirectory("graft_points_copy")
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach(p => if (p != s) java.nio.file.Files.copy(p, copy.resolve(s.relativize(p))))
    finally walk.close()
    copy.toString
  }

  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    finally walk.close()
  }

  private lazy val twoShard: String = { val d = tmp("graft_points_2s"); build(d, 2); d }

  test("2-shard index: blocks and docs equal the Spark relations byte for byte") {
    val r = new IndexReader(spark, twoShard)
    assert(IndexReader.shardCensus(spark, twoShard).visible.size === 2)
    checkBlocks(r, 11)
    checkDocs(r, 12)
    // an empty id set and runs wholly past the vocabulary read nothing
    assert(r.points.docs(Nil).isEmpty)
    val past = (r.vocabulary.size + 100L, r.vocabulary.size + 400L)
    assert(r.points.blocks(Seq(past), withPositions = true).isEmpty)
    assert(sparkBlocks(r, Seq(past), pos = true).isEmpty)
  }

  test("prefix-boundary buckets: blocks equal the Spark relation") {
    val d = tmp("graft_points_cuts")
    build(d, 1, cuts = Seq("w05", "w1", "w13", "w2", "ü"))
    val r = new IndexReader(spark, d)
    assert(r.prefixCuts.isDefined)
    checkBlocks(r, 21)
  }

  test("streaming delta shard, then compaction with crash debris: equal, hidden shards never opened") {
    val dir = copyTree(twoShard)
    StreamingIndexer.appendBatch(spark, corpus(31, 240L, 20).drop("url"), dir, "stream-0")
    StreamingIndexer.appendBatch(spark, corpus(32, 260L, 20).drop("url"), dir, "stream-1")
    val withDeltas = new IndexReader(spark, dir)
    assert(IndexReader.shardCensus(spark, dir).visible.sorted ===
      Seq("0", "1", "stream-0", "stream-1"))
    checkBlocks(withDeltas, 41)

    assert(IndexBuilder.compact(spark, dir) === Some("compact-0"))
    // crash debris: an uncommitted compact shard with a torn file, and a
    // re-delivered MERGED delta shard (hidden by the compaction log) whose
    // files are then overwritten with garbage -- opening either throws
    val torn = java.nio.file.Paths.get(s"$dir/blocks/shard=compact-9/bucket=0")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-00000.parquet"), Array.fill[Byte](64)(0x5a))
    StreamingIndexer.appendBatch(spark, corpus(31, 240L, 20).drop("url"), dir, "stream-0")
    val redelivered = dataFiles(s"$dir/blocks/shard=stream-0")
    assert(redelivered.nonEmpty)
    redelivered.foreach { p =>
      java.nio.file.Files.write(p, Array.fill[Byte](128)(0x33))
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    val census = IndexReader.shardCensus(spark, dir)
    assert(census.visible.sorted === Seq("0", "1", "compact-0"))
    assert(census.hidden.sorted === Seq("compact-9", "stream-0"))
    val compacted = new IndexReader(spark, dir)
    checkBlocks(compacted, 42)
  }

  test("empty and underscore/dot-prefixed files are skipped like Spark's listing") {
    val dir = copyTree(twoShard)
    val bucket = java.nio.file.Paths.get(s"$dir/blocks/shard=0/bucket=0")
    java.nio.file.Files.write(bucket.resolve("part-99999-empty.parquet"), Array.emptyByteArray)
    java.nio.file.Files.write(bucket.resolve("_ignored.parquet"), Array.fill[Byte](64)(1))
    java.nio.file.Files.write(bucket.resolve(".hidden.parquet"), Array.fill[Byte](64)(1))
    val r = new IndexReader(spark, dir)
    checkBlocks(r, 51, trials = 10)
  }

  test("a deleted block file under a live reader makes a cold local request throw") {
    val dir = copyTree(twoShard)
    val r = new IndexReader(spark, dir)
    // the reader is live: its first request listed and footered bucket 0
    assert(LocalServe.hits(r, "w001", 5, QueryParams.Default).isDefined)
    val bucket0 = dataFiles(s"$dir/blocks/shard=0/bucket=0")
    assert(bucket0.nonEmpty)
    bucket0.foreach(java.nio.file.Files.delete)
    // w002 shares bucket 0 and has postings in shard 0, and is still cold
    val e = intercept[Exception](LocalServe.hits(r, "w002", 5, QueryParams.Default))
    assert(causes(e).exists(_.isInstanceOf[java.io.FileNotFoundException]), e.toString)
  }

  test("a truncated block file makes a cold local request throw, never answer empty") {
    val dir = copyTree(twoShard)
    // cut every bucket-0 file of shard 0 to half its length (and drop its
    // checksum, so the Parquet layer itself sees the truncated bytes)
    dataFiles(s"$dir/blocks/shard=0/bucket=0").foreach { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      java.nio.file.Files.write(p, bytes.take(bytes.length / 2))
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    val r = new IndexReader(spark, dir)
    intercept[Exception](LocalServe.hits(r, "w001", 5, QueryParams.Default))
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
}
