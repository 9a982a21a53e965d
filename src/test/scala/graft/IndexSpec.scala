package graft

import graft.core.{Analysis, WebCorpus}
import graft.index.{IndexBuilder, IndexReader, MetricsCheck}
import graft.query.{Eval, Executor, IndexAtomSource, IndexExecutor}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical index build + read gates: lossless round-trip, pruned prefix
  * scan, WAND == full scoring, resumability (HYBIndexTest analog).
  */
class IndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ix_test").toString
    val corpus = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, corpus, d, numShards = 2, blockSize = 256)
    d
  }
  lazy val reader = new IndexReader(spark, dir)
  lazy val corpus = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")

  test("decode(all blocks) == logical doc-term relation") {
    val decoded = reader.decode(reader.blocks)
      .join(reader.dictionary.select(col("term_id"), col("term")), "term_id")
      .select(col("doc_id"), col("term"), col("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val logical = Analysis.docTerms(corpus)
      .select(col("doc_id"), col("term"), col("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(decoded === logical)
  }

  test("positions survive the codec round-trip") {
    val dec = reader.decodeWithPositions(reader.blocks)
      .join(reader.dictionary.select(col("term_id"), col("term")), "term_id")
      .select(col("doc_id"), col("term"), col("positions"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2).toSeq)).toSet
    val logical = Analysis.docTerms(corpus)
      .select(col("doc_id"), col("term"), col("positions"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2).toSeq)).toSet
    assert(dec === logical)
  }

  test("blocks respect the size cap and doc-sorted invariant") {
    val metas = reader.blocks
      .select(col("term_id"), col("first_doc_id"), col("last_doc_id"), col("n_postings"))
      .collect()
    assert(metas.forall(r => r.getLong(1) <= r.getLong(2)))
    // cut at 256 postings: no block except possibly one-doc blocks exceeds it
    assert(metas.forall(_.getLong(3) <= 256 * 2))
  }

  test("prefix scan via pruned range equals dictionary filter") {
    val Some(run) = reader.prefixRange("s")
    val viaRange = reader.decode(reader.blocksForIdRuns(Seq(run)))
      .select(col("term_id")).distinct().collect().map(_.getLong(0)).toSet
    val viaDict = reader.dictionary.filter(col("term").startsWith("s"))
      .collect().map(_.getAs[Long]("term_id")).toSet
    assert(viaRange === viaDict)
  }

  test("WAND top-k is rank-identical to full scoring and to the logical engine") {
    val terms = Seq("spark", "hash", "merge")
    val wand = reader.topKOrWand(terms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = IndexExecutor.topK(reader, terms.mkString("|"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val logical = Executor.topK(corpus, terms.mkString("|"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand === full)
    assert(wand === logical)
  }

  test("build is resumable: second run skips completed shards") {
    val manifest2 = IndexBuilder.build(spark, corpus, dir, numShards = 2, blockSize = 256)
    val statuses = manifest2.select(col("status")).collect().map(_.getString(0)).toSeq
    assert(statuses === Seq("skipped_already_built", "skipped_already_built"))
  }

  test("custom bucketSize round-trips through stats (queries stay correct)") {
    val d = java.nio.file.Files.createTempDirectory("graft_ix_bsz").toString
    IndexBuilder.build(spark, corpus, d, numShards = 1, bucketSize = 7)
    val r = new IndexReader(spark, d)
    assert(r.bucketSize === 7L)
    // pruned scans must use the persisted width, not the default
    val viaRange = r.decode(r.blocksForIdRuns(Seq((0L, 1000L)))).count()
    val all = r.decode(r.blocks).count()
    assert(viaRange === all)
    val hits = IndexExecutor.topK(r, "spark join", 10).count()
    assert(hits > 0)
  }

  test("BY_PREFIXES block formation: boundary buckets, pruning and queries intact") {
    val d = java.nio.file.Files.createTempDirectory("graft_ix_bp").toString
    IndexBuilder.build(spark, corpus, d, numShards = 1, blockSize = 256,
      prefixBoundaries = Seq("g", "s"))
    val r = new IndexReader(spark, d)
    assert(r.prefixCuts.isDefined && r.prefixCuts.get.length === 2)
    // bucket = number of boundaries <= term: exactly groups {0: < g, 1: [g, s), 2: >= s}
    val byBucket = r.blocks
      .join(r.dictionary.select(col("term_id"), col("term")), "term_id")
      // partition discovery may infer the bucket dir column as int
      .select(col("bucket").cast("long"), col("term")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(byBucket.keySet === Set(0L, 1L, 2L))
    assert(byBucket(0L).forall(_ < "g"))
    assert(byBucket(1L).forall(t => t >= "g" && t < "s"))
    assert(byBucket(2L).forall(_ >= "s"))
    // reader arithmetic follows the boundaries: the s* prefix range prunes
    // to bucket 2 only, and results equal the fixed-width-bucket index
    val Some((lo, hi)) = r.prefixRange("s")
    assert(r.bucketOf(lo) === 2L && r.bucketOf(hi) === 2L)
    val a = IndexExecutor.topK(r, "s*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val b = IndexExecutor.topK(reader, "s*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(a === b)
    val ga = graft.query.IndexExecutor.topK(r, "spark st*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val gb = graft.query.IndexExecutor.topK(reader, "spark st*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(ga === gb)
  }

  test("BY_PREFIX_SIZE: boundaries are the vocab's length-k prefixes; results intact") {
    val bs = IndexBuilder.prefixSizeBoundaries(
      graft.core.Analysis.docTerms(corpus).toDF(), k = 2)
    // sorted, distinct, and exactly the vocabulary's length-2 prefixes
    assert(bs === bs.sorted && bs.distinct === bs)
    val expect = graft.core.Analysis.docTerms(corpus).toDF()
      .select(substring(col("term"), 1, 2)).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(bs === expect)
    val d = java.nio.file.Files.createTempDirectory("graft_ix_bps").toString
    IndexBuilder.build(spark, corpus, d, numShards = 1, blockSize = 256,
      prefixBoundaries = bs)
    val r = new IndexReader(spark, d)
    val a = IndexExecutor.topK(r, "s*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val b = IndexExecutor.topK(reader, "s*", 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(a === b)
  }

  test("positions-off index: doc-level results identical, tiny positionlists, phrase refuses") {
    val d = java.nio.file.Files.createTempDirectory("graft_ix_nopos").toString
    IndexBuilder.build(spark, corpus, d, numShards = 1, blockSize = 256,
      storePositions = false)
    val r = new IndexReader(spark, d)
    assert(!r.hasPositions)
    // WAND / AND / completions byte-identical to the full index
    val a = r.topKOrWand(Seq("spark", "hash"), 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val b = reader.topKOrWand(Seq("spark", "hash"), 10).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(a === b)
    val ca = IndexExecutor.completions(r, "s*", 10).collect().map(_.toSeq).toSeq
    val cb = IndexExecutor.completions(reader, "s*", 10).collect().map(_.toSeq).toSeq
    assert(ca === cb)
    // positionlists shrink to near-nothing (zero gaps under the gap codec)
    def posBytes(rd: IndexReader): Long = rd.blocks
      .agg(sum(length(col("positions")))).head().getLong(0)
    assert(posBytes(r) < posBytes(reader) / 4)
    // windowed / phrase queries refuse instead of answering wrongly
    intercept[IllegalArgumentException](
      Eval.windowMatchCounts(new IndexAtomSource(r), "batch", "batch", 1, 1))
    intercept[IllegalArgumentException](
      IndexExecutor.topK(r, "batch.batch", 10).collect())
    // the serving seam raises the same refusal in-process, no fallback
    import graft.query.{LocalServe, QueryParams}
    intercept[IllegalArgumentException](
      LocalServe.hits(r, "batch.batch", 10, QueryParams.Default))
    assert(LocalServe.fallbackCount(r) === 0)
  }

  test("every block codec serves identical postings, positions and top-k") {
    // reference index `dir` uses the default codec (pfor); compare every
    // other family against it
    for (codec <- Seq("varint", "gamma", "rice", "simple8b")) {
      val d = java.nio.file.Files.createTempDirectory(s"graft_ix_$codec").toString
      IndexBuilder.build(spark, corpus, d, numShards = 1, blockSize = 256,
        doclistCodec = codec)
      val r = new IndexReader(spark, d)
      assert(r.doclistCodec === graft.index.Codec.idOf(codec))
      val dec = r.decodeWithPositions(r.blocks)
        .select(col("term_id"), col("doc_id"), col("tf"), col("positions"))
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getSeq[Int](3).toSeq)).toSet
      val ref = reader.decodeWithPositions(reader.blocks)
        .select(col("term_id"), col("doc_id"), col("tf"), col("positions"))
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getSeq[Int](3).toSeq)).toSet
      assert(dec === ref, s"codec $codec decode mismatch")
      val wand = r.topKOrWand(Seq("spark", "hash", "merge"), 10).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val base = reader.topKOrWand(Seq("spark", "hash", "merge"), 10).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      assert(wand === base, s"codec $codec wand mismatch")
    }
  }

  test("resumed build keeps the committed codec even if the caller changes it") {
    val d = java.nio.file.Files.createTempDirectory("graft_ix_keepcodec").toString
    IndexBuilder.build(spark, corpus, d, numShards = 1, doclistCodec = "gamma")
    // second call asks for pfor; the committed stats say gamma and win
    IndexBuilder.build(spark, corpus, d, numShards = 1, doclistCodec = "pfor")
    val r = new IndexReader(spark, d)
    assert(r.doclistCodec === graft.index.Codec.Gamma)
    assert(r.decode(r.blocks).count() > 0)
  }

  test("lineage metrics exist per build partition") {
    val m = spark.read.parquet(s"$dir/metrics")
    assert(m.count() > 0)
    assert(m.columns.toSet.contains("n_postings"))
    val total = m.agg(sum(col("n_postings"))).head().getLong(0)
    val expected = Analysis.stats(corpus).n_postings
    assert(total === expected)
  }

  test("build metrics consistency check holds and catches any sum off by one") {
    val check = MetricsCheck.of(reader)
    assert(check.violations.isEmpty, check.violations.toString)
    assert(check.partitionPostings === Analysis.stats(corpus).n_postings)
    assert(check.shardBlocks.size === 2 && check.skewRatios.size === 2)
    def plusOne(m: Map[String, Long], k: String): Map[String, Long] = m.updated(k, m(k) + 1)
    val broken = Seq(
      check.copy(partitionPostings = check.partitionPostings + 1),
      check.copy(decodedPostings = check.decodedPostings + 1),
      check.copy(statsPostings = check.statsPostings + 1),
      check.copy(decodedWordPostings = check.decodedWordPostings - 1)) ++
      check.shardBlocks.keys.toSeq.flatMap(s => Seq(
        check.copy(shardBlocks = plusOne(check.shardBlocks, s)),
        check.copy(blockRows = plusOne(check.blockRows, s)),
        check.copy(skewRatios = check.skewRatios.updated(s, 0.999))))
    broken.foreach(b => assert(b.violations.size === 1, b.toString))
  }
}
