package graft

import graft.core.WebCorpus
import graft.index.{IndexBuilder, IndexReader}
import graft.query.IndexExecutor
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Near-real-time index updates: stream new docs -> appended block shards
  * -> immediately visible to the same IndexReader path.
  */
class StreamingIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed documents become queryable without a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ix").toString
    val base = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, base, dir, numShards = 1)

    val before = new IndexReader(spark, dir)
    val Some(run) = before.prefixRange("spark")
    val nBefore = before.decode(before.blocksForIdRuns(Seq(run))).count()

    // two streamed micro-batches of new docs using existing vocabulary
    val maxDoc = base.agg(max(col("doc_id"))).head().getLong(0)
    val newDocs = Seq(
      (maxDoc + 1, "spark spark merge window"),
      (maxDoc + 2, "spark join batch"),
      (maxDoc + 3, "totallynewterm spark")).toDF("doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    newDocs.write.mode("overwrite").parquet(srcDir)

    val q = StreamingIndexer.start(spark, srcDir, newDocs.schema, dir, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val after = new IndexReader(spark, dir)
    val decoded = after.decode(after.blocksForIdRuns(Seq(run)))
    assert(decoded.count() === nBefore + 3) // 3 new docs contain "spark"
    val topDocs = IndexExecutor.topK(after, "spark", 100).collect().map(_.getLong(0)).toSet
    assert(topDocs.contains(maxDoc + 1) && topDocs.contains(maxDoc + 2) && topDocs.contains(maxDoc + 3))
    // unseen term is skipped until the next batch rebuild (documented drift)
    assert(after.dictionary.filter(col("term") === "totallynewterm").count() === 0)

    // drift lineage aggregates across shards: partition discovery supplies
    // the shard column (rows carry only the count, no conflicting column)
    val drift = spark.read.parquet(s"$dir/drift")
    assert(drift.columns.toSet === Set("dropped_doc_terms", "shard"))
    assert(drift.agg(sum(col("dropped_doc_terms"))).head().getLong(0) === 1L)
  }

  test("compaction folds delta shards, preserves every result, survives crash debris") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_ix").toString
    val base = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, base, dir, numShards = 1)
    val maxDoc = base.agg(max(col("doc_id"))).head().getLong(0)
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark spark merge window")).toDF("doc_id", "text"), dir, "stream-0")
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 2, "spark join batch")).toDF("doc_id", "text"), dir, "stream-1")
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 3, "merge stream")).toDF("doc_id", "text"), dir, "stream-2")

    def snapshot(): (Seq[(Long, Long, Long)], Seq[(Long, Double)]) = {
      val r = new IndexReader(spark, dir)
      val dec = r.decode(r.blocks).select(col("term_id"), col("doc_id"), col("tf"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted
      val top = IndexExecutor.topK(r, "spark|merge", 20)
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      (dec, top)
    }
    val before = snapshot()

    assert(IndexBuilder.compact(spark, dir) === Some("compact-0"))
    val census1 = IndexReader.shardCensus(spark, dir)
    assert(census1.visible.sorted === Seq("0", "compact-0"))
    assert(census1.present.sorted === Seq("0", "compact-0")) // merged dirs GC'd
    assert(snapshot() === before)

    // one remaining delta -> nothing worth folding
    assert(IndexBuilder.compact(spark, dir) === None)

    // crash debris: a half-written compact shard with a TORN file must be
    // invisible (no commit) and must not even be footered by the reader
    val torn = java.nio.file.Paths.get(s"$dir/blocks/shard=compact-9/bucket=0")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-00000.parquet"),
      Array.fill[Byte](64)(0x5a))
    assert(snapshot() === before)

    // streaming re-delivery of a MERGED shard: the commit log wins, the
    // re-created dir stays invisible -- exactly-once is preserved
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark spark merge window")).toDF("doc_id", "text"), dir, "stream-0")
    assert(snapshot() === before)

    // a NEW delta + the old compact shard fold again (chained compaction)
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 4, "spark stream")).toDF("doc_id", "text"), dir, "stream-3")
    assert(IndexBuilder.compact(spark, dir) === Some("compact-1"))
    val after = snapshot()
    assert(after._1.size === before._1.size + 2) // spark + stream postings
    val r2 = new IndexReader(spark, dir)
    assert(IndexExecutor.topK(r2, "spark", 100).collect().map(_.getLong(0)).toSet
      .contains(maxDoc + 4))

    // a full REBUILD at the path is a new index generation: the stale
    // compaction log and delta shards are reset (they would otherwise hide
    // freshly re-appended deltas forever); streamed postings re-enter via
    // the streaming checkpoint's idempotent re-delivery, not the rebuild
    IndexBuilder.build(spark, base, dir, numShards = 1)
    val census2 = IndexReader.shardCensus(spark, dir)
    assert(census2.present === Seq("0"))
    assert(census2.nextCompactId === 0L)
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark spark merge window")).toDF("doc_id", "text"), dir, "stream-0")
    assert(IndexReader.shardCensus(spark, dir).visible.sorted === Seq("0", "stream-0"))
  }

  test("appends bump the index epoch; shared caches cannot serve pre-append postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_epoch_ix").toString
    val base = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, base, dir, numShards = 1)
    val maxDoc = base.agg(max(col("doc_id"))).head().getLong(0)

    val r0 = new IndexReader(spark, dir)
    // warm the process history under the pre-append epoch (the stale key)
    val hits0 = graft.query.IndexExecutor.topK(r0, "spark", 10000)
      .collect().map(_.getLong(0)).toSet
    assert(!hits0.contains(maxDoc + 1))

    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark epoch probe")).toDF("doc_id", "text"),
      dir, "stream-epoch-test")

    // the appended shard changes the reader identity: a dictionary-only
    // epoch would let the (dir, epoch, atom) cache serve the PRE-append
    // relation to the post-append reader
    val r1 = new IndexReader(spark, dir)
    assert(r1.indexEpoch !== r0.indexEpoch)
    // unchanged layout -> readers agree on the epoch (shared-cache hits
    // between readers depend on it)
    assert(new IndexReader(spark, dir).indexEpoch === r1.indexEpoch)

    val hits1 = graft.query.IndexExecutor.topK(r1, "spark", 10000)
      .collect().map(_.getLong(0)).toSet
    assert(hits1.contains(maxDoc + 1),
      "post-append reader served stale cached postings")

    // compaction changes the visible layout too -- epoch must follow
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 2, "spark epoch probe two")).toDF("doc_id", "text"),
      dir, "stream-epoch-test-2")
    assert(IndexBuilder.compact(spark, dir).nonEmpty)
    val r2 = new IndexReader(spark, dir)
    assert(r2.indexEpoch !== r1.indexEpoch)
    assert(graft.query.IndexExecutor.topK(r2, "spark", 10000)
      .collect().map(_.getLong(0)).toSet.contains(maxDoc + 2))
  }

  test("delta shards follow the batch index's committed codec") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_codec").toString
    val base = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    // non-default codec: the delta shard must follow the COMMITTED codec,
    // not the build-time default
    IndexBuilder.build(spark, base, dir, numShards = 1, doclistCodec = "gamma")
    val maxDoc = base.agg(max(col("doc_id"))).head().getLong(0)
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark merge stream")).toDF("doc_id", "text"),
      dir, "stream-codec-test")
    // the appended shard's bytes decode correctly under the index codec --
    // a default-encoded shard would decode to garbage or throw
    val r = new IndexReader(spark, dir)
    assert(r.doclistCodec === graft.index.Codec.Gamma)
    val hits = IndexExecutor.topK(r, "spark", 10000).collect().map(_.getLong(0)).toSet
    assert(hits.contains(maxDoc + 1))
  }

  test("delta shards follow the batch index's BY_PREFIXES buckets, whatever the directory's scheme") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_bp").toString
    val base = Seq((1L, "apple banana spark"), (2L, "graph spark stream"), (3L, "zebra hash merge"))
      .toDF("doc_id", "text")
    IndexBuilder.build(spark, base, dir, numShards = 1, prefixBoundaries = Seq("g", "s"))
    val maxDoc = 3L
    val r0 = new IndexReader(spark, dir)
    val id = r0.vocabulary.idOf("spark").toLong
    // the boundary bucket differs from the id-width one: a delta shard
    // bucketed by width would sit where the readers never look
    assert(r0.bucketOf(id) === 2L)
    assert(id / r0.bucketSize !== 2L)
    // the delta writer addresses the index by URI, as on a cluster FS
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark delta probe")).toDF("doc_id", "text"),
      s"file:$dir", "stream-bp")
    val r = new IndexReader(spark, dir)
    assert(IndexExecutor.topK(r, "spark", 10000).collect().map(_.getLong(0))
      .contains(maxDoc + 1), "the distributed plans missed the delta posting")
    val local = graft.query.LocalServe.hitRows(r, "spark", 10000, graft.query.QueryParams.Default)
    assert(local.isDefined && local.get.map(_.getLong(0)).contains(maxDoc + 1),
      "the driver path missed the delta posting")
  }

  test("merged-shard sidecar: sentinel-validated, torn copies fall back to the parquet commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_ix").toString
    val base = WebCorpus.fromDocuments(spark, "/root/testdata/sf0.001")
    IndexBuilder.build(spark, base, dir, numShards = 1)
    val maxDoc = base.agg(max(col("doc_id"))).head().getLong(0)
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 1, "spark merge")).toDF("doc_id", "text"), dir, "stream-0")
    StreamingIndexer.appendBatch(spark,
      Seq((maxDoc + 2, "spark join")).toDF("doc_id", "text"), dir, "stream-1")
    assert(IndexBuilder.compact(spark, dir) === Some("compact-0"))

    val commitDir = s"$dir/compactions/commit=0"
    val sidecar = java.nio.file.Paths.get(commitDir, "_merged.txt")
    // the committed sidecar exists, underscore-prefixed (Spark's parquet
    // listing skips it: the commit dir stays a clean parquet directory),
    // sentinel-terminated, and the fast path reads it
    assert(java.nio.file.Files.exists(sidecar))
    val lines = java.nio.file.Files.readAllLines(sidecar)
    assert(lines.get(lines.size - 1) === "#end")
    val expected = Seq("stream-0", "stream-1")
    // the memo key carries the sidecar's (mtime, length), so mutating or
    // deleting the sidecar below invalidates it without any explicit bust
    def freshMerged(): Seq[String] =
      IndexReader.mergedShardsOf(spark, commitDir).sorted
    assert(freshMerged() === expected)

    // TORN sidecar (crash mid-write would leave a prefix; simulate by
    // truncating past the sentinel): the reader must NOT trust the
    // shorter list -- it falls back to the parquet commit and still
    // hides every merged shard
    java.nio.file.Files.writeString(sidecar, "stream-0\n") // no sentinel
    assert(freshMerged() === expected)
    // and the commit dir is still readable as plain parquet despite the
    // (now invalid) sidecar sitting in it
    assert(spark.read.parquet(commitDir).select("merged_shard")
      .collect().map(_.getString(0)).toSet === expected.toSet)

    // sidecar deleted entirely (pre-sidecar crash window): same fallback
    java.nio.file.Files.delete(sidecar)
    assert(freshMerged() === expected)

    // end-to-end: with the torn-then-deleted sidecar history, the census
    // still hides merged shards -- no duplicate postings
    assert(IndexReader.shardCensus(spark, dir).visible.sorted
      === Seq("0", "compact-0"))
  }
}
