package graft

import graft.index.{IndexBuilder, IndexReader, PointReader}
import graft.query.{LocalServe, QueryParams}
import graft.streaming.StreamingIndexer
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
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

  // ---- docs store: page-addressed point reads ----

  /** 600 docs in 4 input partitions of 150 contiguous ids (as ingest's
    * `zipWithIndex` ids give), texts of 5-104 words, every seventh url
    * missing.
    */
  private lazy val docsCorpus = {
    val rnd = new scala.util.Random(61)
    spark.sparkContext.parallelize((0 until 600).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(100))(vocab(rnd.nextInt(vocab.length))).mkString(" "),
        if (i % 7 == 3) None else Some(s"http://d/$i"))
    }, 4).toDF("doc_id", "text", "url")
  }

  private def docsOnly(dir: String): PointReader =
    new PointReader(spark.sessionState.newHadoopConf(), Nil, s"$dir/docs", (b: Long) => b)

  /** One docs-store data file: its doc ids in file order and, per row
    * group, the row count of every page of every column (offset index).
    */
  private case class DocsFile(ids: Seq[Long], pageRows: Seq[Int])

  private def docsFiles(dir: String): Seq[DocsFile] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(s"$dir/docs").map { p =>
      val path = new org.apache.hadoop.fs.Path(p.toUri)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      val pageRows = try reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.toSeq.flatMap { c =>
          val oi = reader.readOffsetIndex(c)
          assert(oi != null, s"$p: no offset index for ${c.getPath}")
          (0 until oi.getPageCount).map(i =>
            (oi.getLastRowIndex(i, b.getRowCount) - oi.getFirstRowIndex(i) + 1).toInt)
        }
      } finally reader.close()
      DocsFile(spark.read.parquet(p.toString).select("doc_id").as[Long].collect().toSeq,
        pageRows)
    }
  }

  private def sparkDocs(dir: String, ids: Seq[Long]): Seq[(Long, String, String)] =
    spark.read.parquet(s"$dir/docs").filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "url", "text").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSeq.sortBy(_._1)

  /** Id sets at the pages' edges of `files` (each page's first and last
    * row, one id per page), with duplicates, absent ids (negative, past
    * the end), randomized sets and the empty set.
    */
  private def edgeIdSets(files: Seq[DocsFile]): Seq[Seq[Long]] = {
    val cap = IndexBuilder.DocsPageRows
    val firsts = files.flatMap(f => f.ids.indices.by(cap).map(f.ids(_)))
    val lasts = files.flatMap(f => f.ids.indices.drop(cap - 1).by(cap).map(f.ids(_)) :+ f.ids.last)
    val all = files.flatMap(_.ids)
    val rnd = new scala.util.Random(62)
    Seq(firsts, lasts, firsts ++ lasts, firsts.take(3) ++ firsts.take(3) ++ lasts.take(2),
      Seq(-1L, -40L, all.max + 1, all.max + 500), Seq(all.min, -1L, all.max, all.max + 1),
      Seq.empty[Long]) ++
      Seq.fill(12)(Seq.fill(1 + rnd.nextInt(20))(rnd.nextInt(all.length + 40).toLong - 20))
  }

  private lazy val pagedDocs: String = {
    val d = tmp("graft_points_docs")
    IndexBuilder.buildDocsStore(spark, docsCorpus, d)
    d
  }

  test("docs store layout: doc_id ascends per file, pages capped, rows = corpus projection, no Exchange") {
    val d = tmp("graft_points_docs_layout")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    // contiguous id ranges, each out of id order inside
    val corpus = docsCorpus.sortWithinPartitions(col("text"))
    Thread.sleep(500) // earlier events leave the async bus first
    spark.listenerManager.register(listener)
    try { IndexBuilder.buildDocsStore(spark, corpus, d); Thread.sleep(500) }
    finally spark.listenerManager.unregister(listener)
    val writes = plans.asScala.filter(_.contains("InsertIntoHadoopFsRelation")).toSeq
    assert(writes.size === 1, plans.asScala.mkString("\n"))
    assert(writes.head.contains("Sort [doc_id") && !writes.head.contains("Exchange"),
      writes.head)

    val files = docsFiles(d)
    assert(files.size === 4)
    val cap = IndexBuilder.DocsPageRows
    files.foreach { f =>
      assert(f.ids === f.ids.sorted, "doc_id must ascend within a docs file")
      assert(f.pageRows.forall(_ <= cap), f.pageRows)
      // every column chunk is cut into full pages: ceil(rows / cap) each
      assert(f.pageRows.size === 3 * ((f.ids.length + cap - 1) / cap), f.pageRows)
    }
    val rows = spark.read.parquet(s"$d/docs").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("url"), r.getAs[String]("text")))
    val want = docsCorpus.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("url"), r.getAs[String]("text")))
    assert(rows.sortBy(_._1).toSeq === want.sortBy(_._1).toSeq)
  }

  test("docs point reads equal docs.filter(isin) at page edges, on a paged and a legacy store") {
    val pagedFiles = docsFiles(pagedDocs)
    assert(pagedFiles.forall(_.pageRows.size > 3), "the store must span several pages per file")
    val legacy = tmp("graft_points_docs_legacy")
    // the store as written before the page-addressed layout: a plain
    // write of the projection, rows in no id order, one page per column
    // chunk
    val rnd = new scala.util.Random(63)
    val shuffled = rnd.shuffle(docsCorpus.collect().toSeq)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("url"), r.getAs[String]("text")))
    shuffled.toDF("doc_id", "url", "text").repartition(3)
      .write.parquet(s"$legacy/docs")
    val legacyFiles = docsFiles(legacy)
    assert(legacyFiles.exists(f => f.ids !== f.ids.sorted))
    assert(legacyFiles.forall(_.pageRows.size === 3), "one page per column chunk")
    val paged = docsOnly(pagedDocs)
    val old = docsOnly(legacy)
    edgeIdSets(pagedFiles).foreach { ids =>
      val want = sparkDocs(pagedDocs, ids)
      assert(paged.docs(ids).toSeq.sortBy(_._1) === want, s"ids $ids")
      assert(sparkDocs(legacy, ids) === want)
      assert(old.docs(ids).toSeq.sortBy(_._1) === want, s"legacy store, ids $ids")
    }
  }

  test("a docs point read materializes at most one capped page per file whose range holds an id") {
    val files = docsFiles(pagedDocs)
    val cap = IndexBuilder.DocsPageRows
    val points = docsOnly(pagedDocs)
    def cost(ids: Seq[Long]): Long = {
      val before = points.rowsMaterialized.get()
      points.docs(ids)
      points.rowsMaterialized.get() - before
    }
    def admitting(id: Long): Int = files.count(f => f.ids.min <= id && id <= f.ids.max)
    val all = files.flatMap(_.ids)
    val probes = Seq(all.min, all.max, -5L, all.max + 9) ++
      files.flatMap(f => Seq(f.ids.head, f.ids(f.ids.length / 2), f.ids.last))
    probes.foreach { id =>
      val n = cost(Seq(id))
      assert(n <= cap.toLong * admitting(id), s"id $id materialized $n rows")
    }
    // the first and last ids of one file: two pages, not the file
    files.foreach { f =>
      val n = cost(Seq(f.ids.head, f.ids.last))
      assert(n <= 2L * cap && n < f.ids.length, s"edge ids of a ${f.ids.length}-row file: $n rows")
    }
  }

  test("key-first decode: optional columns holding nulls, null keys included, equal the Spark rows") {
    val d = tmp("graft_points_nulls")
    // nulls in every column, interleaved with kept and skipped rows
    val rows = (0 until 300).map { i =>
      (if (i % 13 == 5) None else Some(i.toLong),
        if (i % 3 == 1) None else Some(s"http://n/$i"),
        if (i % 5 == 2) None else Some(Seq.fill(1 + i % 9)(vocab(i % vocab.length)).mkString(" ")))
    }
    spark.sparkContext.parallelize(rows, 3).toDF("doc_id", "url", "text")
      .sortWithinPartitions("doc_id").write.option("parquet.page.row.count.limit", "16")
      .parquet(s"$d/docs")
    val points = docsOnly(d)
    val rnd = new scala.util.Random(64)
    val idSets = Seq((0L until 300L).toSeq, (0L until 300L by 2).toSeq, Seq(5L, 18L, 31L, 2L, 7L)) ++
      Seq.fill(10)(Seq.fill(1 + rnd.nextInt(30))(rnd.nextInt(320).toLong - 10))
    idSets.foreach { ids =>
      val want = sparkDocs(d, ids)
      assert(want.exists(_._2 == null) || ids.size < 10)
      assert(points.docs(ids).toSeq.sortBy(_._1) === want, s"ids $ids")
    }
  }

  test("page indexes are read once per epoch: a second cold read of the same files reads none") {
    val files = docsFiles(pagedDocs)
    val conf = spark.sessionState.newHadoopConf()
    def at(epoch: Long) = new PointReader(conf, Nil, s"$pagedDocs/docs", (b: Long) => b, epoch)
    val firsts = files.map(_.ids.head)
    val middles = files.map(f => f.ids(f.ids.length / 2))
    val epoch = System.nanoTime()
    val first = at(epoch)
    assert(first.docs(firsts).length === firsts.size)
    val read = first.indexReads.get()
    assert(read >= files.size * 2, "one offset index per column and the key's column index")
    // cold ids, same files: every page is located from the memo
    assert(first.docs(middles).toSeq.sortBy(_._1) === sparkDocs(pagedDocs, middles))
    assert(first.indexReads.get() === read)
    // another reader of the same epoch shares the memo
    val same = at(epoch)
    assert(same.docs(middles).toSeq.sortBy(_._1) === sparkDocs(pagedDocs, middles))
    assert(same.indexReads.get() === 0)
    // a new epoch reads them again
    val next = at(epoch + 1)
    assert(next.docs(middles).toSeq.sortBy(_._1) === sparkDocs(pagedDocs, middles))
    assert(next.indexReads.get() === read)
  }
}
