package graft.index

import graft.core.Analysis
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One compressed posting block: all postings of one term whose docIds fall
  * in [first_doc_id, last_doc_id], sorted by docId, delta-encoded with the
  * index's codec (stats/doclist_codec; PForDelta by default, [[Codec]]).
  *
  * HYB-block analog (reference HYBIndex.cpp:32-229 writeCurrentBlock):
  * where the reference cuts blocks by word-range boundaries, we cut by
  * (term, docId-range) -- the range-partitioned sorted shuffle splits a
  * head term's postings across partitions, which IS the skew salting the
  * north rule demands (the reference instead truncates via maxBlockVolume,
  * Globals.cpp:27-33 -- we must not).
  *
  * block_max_tfpart = max over docs of the BM25 tf-part
  * tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl)); multiplied by the term's idf it
  * bounds any doc's score contribution from this block (block-max WAND
  * metadata).
  */
case class PostingBlock(
    term_id: Long,
    bucket: Long,
    first_doc_id: Long,
    last_doc_id: Long,
    n_docs: Int,
    doc_deltas: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    positions: Array[Byte],
    n_postings: Long,
    block_max_tfpart: Double,
    build_partition: Int)

/** Per-build-partition lineage/metrics row (north rule: postings/sec,
  * bytes, skew ratio recorded per task).
  */
case class PartitionMetrics(
    shard: Int,
    partition_id: Int,
    n_terms: Long,
    n_blocks: Long,
    n_postings: Long,
    bytes_encoded: Long,
    elapsed_ms: Long)

/** Distributed index build: corpus -> dictionary + stats + posting-block
  * segments, written as parquet directories (standing in for Iceberg
  * tables -- no Iceberg runtime in this sandbox; the layout maps 1:1 to an
  * Iceberg table partitioned by `bucket` with a sort order on term_id).
  *
  * Pipeline (reference analog: parse -> sort(1) -> buildIndex,
  * applications/Makefile:313-320 + HYBIndex.cpp:231-560, re-expressed as
  * one Spark lineage):
  *   1. docTerms: narrow tokenize+local-aggregate pass (no shuffle)
  *   2. dictionary: distinct-term sort -> dense lexicographic term ids
  *   3. term-id join (broadcast when vocab is small, shuffle otherwise)
  *   4. repartitionByRange(term_id, doc_id) + sortWithinPartitions
  *      == the external sort; range split on BOTH keys salts head terms
  *   5. mapPartitions: stream sorted runs, cut blocks of <= blockSize
  *      postings, delta-varint encode, compute block-max
  *   6. write parquet partitioned by bucket (term_id / bucketSize) ->
  *      partition pruning for term-range queries
  *
  * Resumability: the build is sharded by docId range; each shard is an
  * independent job writing `blocks/shard=<i>` with parquet's atomic
  * _SUCCESS marker. `build` skips shards whose _SUCCESS exists, so a
  * killed build resumes where it stopped; the manifest parquet records
  * lineage per shard.
  */
object IndexBuilder {

  val DefaultBlockSize = 65536 // postings per block (reference default 200k, Globals.cpp:8)
  val DefaultBucketSize = 1024 // term ids per output partition dir
  /** PForDelta by default: measured at bench scale ~35% smaller and ~2x
    * faster to decode than LEB128 varint (BENCH.md codec table); also the
    * north rule's named option. Existing indexes keep their committed
    * codec via stats/doclist_codec.
    */
  val DefaultDoclistCodec = "pfor"

  def indexPath(dir: String, part: String): String = s"$dir/$part"

  /** Env-gated phase timing (SPARK_GRAFT_BUILD_TIMING=1): prints
    * `BUILD_PHASE <name> <sec>` per phase -- the fixed per-phase driver
    * cost is the Amdahl term of small benchmark builds.
    */
  private def timed[A](name: String)(f: => A): A = {
    if (!sys.env.contains("SPARK_GRAFT_BUILD_TIMING")) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"BUILD_PHASE $name%-20s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
  }

  /** Full build. Returns the manifest DataFrame.
    *
    * facetFields: metadata columns of the corpus emitted as artificial
    * `:facet:<field>:<value>` words INTO the index (the reference's key
    * unification: all metadata lives in the same HYB blocks, CsvParser.h:
    * 107-154), so facet counting/filtering is served from the blocks like
    * any prefix query. The reserved `:`-prefixed terms sort before every
    * text term, keeping their blocks in separate buckets (prunable).
    *
    * extraDocTerms: any additional doc-term rows to encode (ordering/filter
    * words, custom namespaces) -- must have the DocTerm shape with
    * tf == positions.length per row.
    */
  def build(
      spark: SparkSession,
      corpus: DataFrame,
      outDir: String,
      numShards: Int = 1,
      blockSize: Int = DefaultBlockSize,
      bucketSize: Int = DefaultBucketSize,
      buildPartitions: Int = 0,
      facetFields: Seq[String] = Nil,
      extraDocTerms: Option[DataFrame] = None,
      normVariants: Boolean = false,
      /** BY_PREFIXES block formation (reference: HYBIndex.cpp:247-264,
        * boundary-prefix extraction applications/Makefile:231-278): when
        * non-empty, output partition dirs (`bucket`) follow these prefix
        * boundaries instead of fixed term-id width -- bucket = number of
        * boundaries lexicographically <= the term. A curated boundary set
        * aligns partition pruning with the corpus's real prefix-query
        * distribution; BY_VOLUME-style fixed-width buckets stay the
        * default. The boundary cut ids persist under `boundaries/` and the
        * reader switches its bucket arithmetic automatically.
        */
      prefixBoundaries: Seq[String] = Nil,
      /** Doclist/positionlist compression algorithm, one per index like the
        * reference's compile-time choice (codes.h:27-62): pfor (default),
        * varint, gamma, rice, simple8b or huffman -- see [[Codec]].
        * Persisted in
        * `stats/doclist_codec`; the reader dispatches automatically.
        */
      doclistCodec: String = DefaultDoclistCodec,
      /** false = positions-off index (the reference's positions-off words
        * file, WordsFile.h:44-62): every posting stores zero positions
        * (zero gaps cost ~0 bytes under any gap codec, so positionlists
        * all but vanish), doc-level queries (AND/OR/NOT, completions,
        * WAND, facets) are untouched, and the reader REFUSES windowed /
        * phrase queries instead of answering them wrongly.
        */
      storePositions: Boolean = true): DataFrame = {
    import spark.implicits._
    // One tokenizing pass, shared (persisted) across dictionary, stats and
    // every shard's encode stage; artificial rows union in as extra
    // doc-terms. normVariants additionally indexes the reference's
    // normalized-variant words (parser -s flag, CsvParser.cpp:120-131).
    val dt0 = Analysis.docTermsCached(corpus, normVariants)
    val extras = (if (facetFields.isEmpty) Nil
      else Seq(graft.core.Facets.facetRows(corpus, facetFields))) ++ extraDocTerms
    val dt = if (extras.isEmpty) dt0
      else extras.foldLeft(dt0.toDF())(_ unionByName _).as[graft.core.DocTerm]

    buildCore(spark, dt, () => timed("corpus_count")(corpus.count()),
      () => corpus.agg(max(col("doc_id"))).head().getLong(0),
      outDir, numShards, blockSize, bucketSize, buildPartitions,
      prefixBoundaries, doclistCodec, storePositions)
  }

  /** BY_PREFIX_SIZE block formation (the third reference mode,
    * HYBIndex.cpp:247-264, plus its boundary-prefix extraction step,
    * applications/Makefile:231-278: vocab -> length-k prefixes, sort -u):
    * the sorted distinct length-k prefixes of a term relation, ready for
    * `build(prefixBoundaries = ...)` -- every length-k prefix group gets
    * its own bucket. The collected list is prefix-alphabet-bounded
    * (driver-held exactly like the reference's boundary file).
    */
  def prefixSizeBoundaries(terms: DataFrame, k: Int): Seq[String] =
    terms.select(substring(col("term"), 1, k).as("p")).distinct()
      .orderBy(col("p")).collect().map(_.getString(0)).toSeq

  /** Build an index DIRECTLY from an ingest words relation -- the
    * [[graft.core.CsvIngest]] / [[graft.core.XmlIngest]] output shape
    * (doc_id, term, score, pos; pos = -1 for artificial words). This is
    * the reference's buildIndex path for CSV/XML databases (words file ->
    * HYB index, applications/Makefile:313-320): the full grammar,
    * facet/filter/ordering completions and the completion server then
    * serve a CSV/XML database with no corpus table at all.
    *
    * Conversion: occurrences group to (doc_id, term) postings (tf =
    * occurrence count, positions sorted, artificial pos -1 -> 0 as in
    * [[graft.core.Facets.facetRows]]); dl counts REAL tokens only, so
    * ':'-namespaced words never skew the BM25 length model. The per-field
    * ingest score is served by field-weighted ranking (`:field:` words),
    * not carried per posting.
    */
  def buildFromWords(
      spark: SparkSession,
      words: DataFrame,
      outDir: String,
      numShards: Int = 1,
      blockSize: Int = DefaultBlockSize,
      bucketSize: Int = DefaultBucketSize,
      buildPartitions: Int = 0,
      prefixBoundaries: Seq[String] = Nil,
      doclistCodec: String = DefaultDoclistCodec): DataFrame = {
    import spark.implicits._
    val dls = words.filter(col("pos") >= 0)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dt = words
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(greatest(col("pos"), lit(0)))).as("positions"))
      .join(dls, Seq("doc_id"), "left_outer")
      .select(col("doc_id").cast("long").as("doc_id"), col("term"),
        col("tf"), col("positions").cast("array<int>").as("positions"),
        coalesce(col("dl"), lit(0L)).as("dl"))
      .as[graft.core.DocTerm]
    buildCore(spark, dt,
      // n_docs = docs that carry any real token (the ingest emits one
      // words row per occurrence; doc 0 holds only :info: words)
      () => dls.count(),
      () => words.agg(max(col("doc_id").cast("long"))).head().getLong(0),
      outDir, numShards, blockSize, bucketSize, buildPartitions,
      prefixBoundaries, doclistCodec)
  }

  /** The shared build pipeline from a ready doc-term relation:
    * dictionary + stats + boundaries + sharded block encode + manifest.
    */
  private def buildCore(
      spark: SparkSession,
      dt: Dataset[graft.core.DocTerm],
      nDocsFn: () => Long,
      maxDocFn: () => Long,
      outDir: String,
      numShards: Int,
      blockSize: Int,
      bucketSize: Int,
      buildPartitions: Int,
      prefixBoundaries: Seq[String],
      doclistCodec: String,
      storePositions: Boolean = true): DataFrame = {
    import spark.implicits._
    Codec.idOf(doclistCodec) // validate before any work

    val fs = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(fs)

    // A full (re)build is a NEW index generation: it re-derives every
    // posting from the corpus, so delta shards and the compaction commit
    // log of any previous generation at this path are stale -- left in
    // place they would hide freshly appended deltas (the census treats a
    // committed merge as forever-invisible). Reset them before writing.
    {
      val hconf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(outDir)
      val hfs = root.getFileSystem(hconf)
      hfs.delete(new org.apache.hadoop.fs.Path(s"$outDir/compactions"), true)
      val blocksP = new org.apache.hadoop.fs.Path(s"$outDir/blocks")
      if (hfs.exists(blocksP))
        hfs.listStatus(blocksP).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("shard=stream-") || n.startsWith("shard=compact-"))
            hfs.delete(st.getPath, true)
        }
    }

    // under timing, force the shared tokenize pass separately so
    // dictionary_write shows only vocab-side cost
    if (sys.env.contains("SPARK_GRAFT_BUILD_TIMING"))
      timed("tokenize_materialize")(dt.toDF().count())

    // 1-2: dictionary + stats over the WHOLE corpus (shared by all shards;
    // term ids must be global). Idempotent: skip if already committed.
    val dictDone = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/dictionary/_SUCCESS"))
    if (!dictDone) {
      timed("dictionary_write") {
        Analysis.dictionary(dt).write.mode(SaveMode.Overwrite).parquet(s"$outDir/dictionary")
      }
      // stats: n_docs from the caller (corpus count / ingest doc count);
      // postings + vocab size from ONE vocab-sized agg over the freshly
      // written dictionary (every sequential driver job here is the Amdahl
      // serial term of the build -- see BENCH.md)
      val nd = nDocsFn()
      // n_postings / avgdl count REAL words only: artificial namespaces
      // (:facet: etc.) and normalized variants (norm:lower) carry ':'
      // (a tokenizer separator, so real words never do) and must not skew
      // the BM25 document-length model
      val npRow = timed("stats_agg")(spark.read.parquet(s"$outDir/dictionary")
        .agg(sum(when(!col("term").contains(":"), col("cf"))), count(lit(1))).head())
      val np = if (npRow.isNullAt(0)) 0L else npRow.getLong(0)
      Seq((nd, np, if (nd == 0) 0.0 else np.toDouble / nd, bucketSize.toLong,
          npRow.getLong(1), doclistCodec, storePositions))
        .toDF("n_docs", "n_postings", "avgdl", "bucket_size", "vocab_size",
          "doclist_codec", "store_positions")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
    }
    val dict = spark.read.parquet(s"$outDir/dictionary")

    // BY_PREFIXES boundaries -> cut term-ids (one vocab-sized agg job;
    // dense lexicographic ids make each boundary ONE min). Idempotent.
    val boundariesDone = IndexMeta.exists(spark, s"$outDir/boundaries/_SUCCESS")
    if (prefixBoundaries.nonEmpty && !boundariesDone) {
      val bs = prefixBoundaries.distinct.sorted
      val row = timed("boundary_cuts")(dict.select(
        bs.zipWithIndex.map { case (b, i) =>
          min(when(col("term") >= b, col("term_id"))).as(s"c$i")
        }: _*).head())
      val cuts = bs.indices.flatMap(i =>
        if (row.isNullAt(i)) None else Some((bs(i), row.getLong(i))))
      cuts.toDF("boundary", "cut_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/boundaries")
    }
    // the committed stats and cuts (the reader's and the delta writer's
    // [[IndexMeta]]): resumed builds MUST keep the committed codec,
    // whatever the caller passed -- shards of one index may never mix codecs
    val meta = new IndexMeta(spark, outDir)
    val vocabSize = meta.vocabSize.getOrElse(dict.count()) // pre-round-2 index layout

    // Shard by docId range: independent, resumable jobs. Single-shard
    // builds skip the max-doc-id scan entirely.
    val maxDoc = if (numShards == 1) Long.MaxValue - numShards
      else maxDocFn()
    val shardWidth = (maxDoc + numShards) / numShards
    val manifest = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long, Double, String)]

    for (shard <- 0 until numShards) {
      val shardDir = s"$outDir/blocks/shard=$shard"
      val done = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$shardDir/_SUCCESS"))
      if (done) {
        manifest += ((shard, -1L, -1L, -1L, -1L, 0.0, "skipped_already_built"))
      } else {
        val t0 = System.nanoTime()
        val lo = shard * shardWidth
        val hi = (shard + 1) * shardWidth - 1
        // positions-off: zero every position (tf framing intact; zero
        // gaps encode to near-nothing under any gap codec)
        val shardDt0 = dt.toDF().filter(col("doc_id").between(lo, hi))
        val shardDt = if (storePositions) shardDt0
          else shardDt0.withColumn("positions",
            expr("array_repeat(0, cast(tf as int))"))
        val blocks = buildShard(spark, shardDt, dict, vocabSize, meta.avgdl,
          blockSize, bucketFn(bucketSize.toLong, meta.prefixCuts), buildPartitions,
          meta.doclistCodec).persist()
        timed(s"shard${shard}_encode_write") {
          blocks.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(shardDir)
        }
        // per-partition lineage/metrics from the persisted blocks (no
        // re-read of what we just wrote)
        // per-partition lineage rows collected once (<= nPart rows), then
        // written from the driver -- one tiny job instead of agg + write
        val metricRows = timed(s"shard${shard}_metrics")(blocks.groupBy(col("build_partition"))
          .agg(count(lit(1)).as("n_blocks"), sum(col("n_postings")).as("n_postings"),
            sum(length(col("doc_deltas")) + length(col("tfs")) + length(col("dls")) +
              length(col("positions"))).as("bytes_encoded"))
          .collect()
          .map(r => (shard, r.getAs[Int]("build_partition"), r.getAs[Long]("n_blocks"),
            r.getAs[Long]("n_postings"), r.getAs[Long]("bytes_encoded"))))
        metricRows.toSeq
          .toDF("shard", "build_partition", "n_blocks", "n_postings", "bytes_encoded")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics/shard=$shard")
        blocks.unpersist()
        val elapsedMs = (System.nanoTime() - t0) / 1000000
        val nb = metricRows.map(_._3).sum
        val np = metricRows.map(_._4).sum
        val bytes = metricRows.map(_._5).sum
        // skew ratio (north rule lineage metric): max/mean postings per
        // build partition -- 1.0 = perfectly balanced shuffle
        val skew = if (metricRows.isEmpty) 0.0
          else metricRows.map(_._4).max.toDouble / (np.toDouble / metricRows.length)
        manifest += ((shard, nb, np, bytes, elapsedMs, skew, "built"))
      }
    }

    val m = manifest.toSeq.toDF("shard", "n_blocks", "n_postings", "bytes_encoded",
      "elapsed_ms", "skew_ratio", "status")
    m.write.mode(SaveMode.Overwrite).parquet(s"$outDir/manifest")
    m
  }

  /** Docs store (reference: buildDocsDB -> docs.DB used by the excerpts
    * generator): (doc_id, url, text) parquet next to the index, so excerpt
    * generation reads the index directory, never the corpus. A separate
    * step, like the reference's separate tool -- index builds that never
    * serve excerpts skip the write. Idempotent via the _SUCCESS marker.
    *
    * Laid out for point reads (the reference reads one docs.DB record at
    * a known offset): each file is sorted by `doc_id` and its pages hold
    * at most [[DocsPageRows]] rows, so a [[PointReader.docs]] read decodes
    * the few pages whose column-index range holds an id. The sort is
    * within partitions -- narrow, the text is never shuffled; ingest's
    * `zipWithIndex` ids make input partitions contiguous id ranges, so
    * footer statistics skip whole files too. A store written before this
    * layout answers identically, reading every page of every file its
    * footer admits; delete its `docs/` dir and rerun this to rebuild it.
    */
  def buildDocsStore(spark: SparkSession, corpus: DataFrame, outDir: String): Unit = {
    val done = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$outDir/docs/_SUCCESS"))
    if (!done) {
      val cols = corpus.columns.toSet
      val base = corpus.select(col("doc_id").cast("long").as("doc_id"),
        (if (cols.contains("url")) col("url") else lit("")).as("url"),
        col("text"))
      // the row check interval must not exceed the cap, or pages run past it
      base.sortWithinPartitions(col("doc_id")).write.mode(SaveMode.Overwrite)
        .option("parquet.page.row.count.limit", DocsPageRows.toString)
        .option("parquet.page.size.row.check.min", DocsPageRows.toString)
        .parquet(s"$outDir/docs")
    }
  }

  /** Rows per docs-store page: what one excerpt miss decodes per file.
    * 16/32/64-row pages read 10 ids in 3.3/3.4/4.2 ms p50 on a 3,000-doc
    * store (4-core host); an unpaged store took 10-15 ms.
    */
  val DocsPageRows: Int = 32

  /** Minor compaction of delta shards (LSM-style): merge every VISIBLE
    * `stream-*` / `compact-*` shard into one new batch-shaped
    * `compact-<n>` shard. The base `shard=<i>` shards are untouched, so
    * the cost is proportional to the accumulated DELTA size only -- at
    * production scale the streaming appends are folded continuously while
    * the base is re-sharded rarely (a full rebuild). Query results are
    * IDENTICAL before and after by construction (same postings, same
    * codec, same bucket layout), so serving caches keyed on the index
    * epoch stay valid.
    *
    * Crash-safe by metadata commit, not by operation ordering: the merged
    * shard is written FIRST but stays invisible to readers until the
    * commit dir (`compactions/commit=<n>`, rows (new_shard,
    * merged_shard)) lands with its _SUCCESS ([[IndexReader.shardCensus]]).
    * A crash before the commit leaves the old shards serving and the
    * half-written dir ignored (and overwritten by the retry, which reuses
    * the id); a crash after the commit leaves the merged dirs as garbage
    * that readers already skip -- the best-effort delete below is pure
    * space reclamation. A re-delivered streaming batch that re-creates a
    * merged `stream-<id>` dir is likewise invisible: the commit log wins,
    * preserving exactly-once.
    *
    * The reference has no analog -- its index is rebuilt offline
    * (applications/Makefile full-build targets); this is the
    * Spark-native lifecycle the streaming appends need.
    *
    * @return the new shard name, or None when fewer than two delta shards
    *         are visible (nothing worth folding).
    */
  def compact(spark: SparkSession, indexDir: String): Option[String] = {
    import spark.implicits._
    val census = IndexReader.shardCensus(spark, indexDir)
    val deltas = census.visible.filter(s =>
      s.startsWith("stream-") || s.startsWith("compact-"))
    if (deltas.size < 2) return None
    val meta = new IndexMeta(spark, indexDir)
    val blocks = spark.read.option("basePath", s"$indexDir/blocks")
      .parquet(deltas.map(s => s"$indexDir/blocks/shard=$s"): _*)
    val decoded = blocks.select(col("term_id"),
      PostingsDecode.postingsDecodeWithPositions(col("n_docs"), col("doc_deltas"),
        col("tfs"), col("dls"), col("positions"), meta.doclistCodec))
    val sorted = decoded
      .select(col("term_id"), col("doc_id"), col("tf"), col("positions"), col("dl"))
      .repartitionByRange(
        math.max(1, spark.sessionState.conf.numShufflePartitions / 4),
        col("term_id"), col("doc_id"))
      .sortWithinPartitions(col("term_id"), col("doc_id"))
      .as[(Long, Long, Long, Array[Int], Long)]
    val newName = s"compact-${census.nextCompactId}"
    encodeBlocks(sorted, meta.avgdl, DefaultBlockSize,
      bucketFn(meta.bucketSize, meta.prefixCuts), meta.doclistCodec)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$indexDir/blocks/shard=$newName")
    deltas.map(s => (newName, s)).toDF("new_shard", "merged_shard")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$indexDir/compactions/commit=${census.nextCompactId}")
    // Sidecar with the merged names, written AFTER the parquet commit: a
    // reader resolves shard visibility driver-side from this file (one
    // tiny FS read) instead of running a Spark job per reader
    // construction; the _SUCCESS-then-no-sidecar window (crash exactly
    // here, or a pre-sidecar index) falls back to the parquet read
    // (IndexReader.mergedShardsOf). Three durability points: (1) the name
    // is underscore-prefixed so Spark's parquet file listing skips it and
    // the commit dir stays a clean parquet directory for the fallback
    // read; (2) the write is temp-then-rename -- a crash mid-write leaves
    // only the temp file, never a truncated sidecar a reader would parse
    // as a valid shorter list (serving duplicate postings); (3) the last
    // line is a sentinel the reader requires, so even a non-atomic rename
    // on an exotic FS cannot expose a torn prefix as complete.
    val commitPath = s"$indexDir/compactions/commit=${census.nextCompactId}"
    val sidecarTmp = new org.apache.hadoop.fs.Path(
      s"$commitPath/.${IndexReader.MergedSidecarName}.tmp")
    try {
      val sidecar = new org.apache.hadoop.fs.Path(
        s"$commitPath/${IndexReader.MergedSidecarName}")
      val sfs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = sfs.create(sidecarTmp, true)
      try out.write(
        (deltas :+ IndexReader.MergedSidecarSentinel).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      sfs.delete(sidecar, false) // rename refuses to overwrite on RawLocalFS
      if (!sfs.rename(sidecarTmp, sidecar)) sfs.delete(sidecarTmp, false)
    } catch { case scala.util.control.NonFatal(_) =>
      try sidecarTmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(sidecarTmp, false)
      catch { case _: Throwable => () }
    }
    // GC: merged dirs are invisible from here on; reclaim space best-effort
    val fsPath = new org.apache.hadoop.fs.Path(s"$indexDir/blocks")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    deltas.foreach { s =>
      try fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/blocks/shard=$s"), true)
      catch { case _: Throwable => () }
    }
    Some(newName)
  }

  /** Encode one shard's posting blocks from the (already tokenized)
    * doc-term relation.
    */
  private def buildShard(
      spark: SparkSession,
      shardDt: DataFrame,
      dict: DataFrame,
      vocabSize: Long,
      avgdl: Double,
      blockSize: Int,
      bucketOf: Long => Long,
      buildPartitions: Int,
      codecId: Int): Dataset[PostingBlock] = {
    import spark.implicits._

    // term-id join: broadcast the dictionary when small; at web scale
    // (vocab >> 1M) this becomes a shuffle join and AQE sizes it.
    val dictSmall = vocabSize <= 1000000
    val d = dict.select(col("term"), col("term_id"))
    val joined = shardDt.join(if (dictSmall) broadcast(d) else d, "term")
      .select(col("term_id").cast("long"), col("doc_id"), col("tf"), col("positions"), col("dl"))

    val nPart = if (buildPartitions > 0) buildPartitions
      else spark.sessionState.conf.numShufflePartitions
    // The sorted shuffle == external sort(1). Range partitioning on
    // (term_id, doc_id) splits head terms across partitions (skew salting).
    val sorted = joined
      .repartitionByRange(nPart, col("term_id"), col("doc_id"))
      .sortWithinPartitions(col("term_id"), col("doc_id"))
      .as[(Long, Long, Long, Array[Int], Long)]

    encodeBlocks(sorted, avgdl, blockSize, bucketOf, codecId)
  }

  /** bucket assignment: fixed term-id width (BY_VOLUME-style default) or
    * boundary-prefix cut ids (BY_PREFIXES -- bucket = number of cuts <=
    * term_id, an upper-bound binary search over the tiny sorted cut
    * array). Serializable: captured by the encode mapPartitions closure.
    */
  private[graft] def bucketFn(bucketSize: Long, cutIds: Option[Array[Long]]): Long => Long =
    cutIds match {
      case Some(cuts) => (id: Long) => upperBound(cuts, id).toLong
      case None => (id: Long) => id / bucketSize
    }

  /** Number of elements of sorted `a` that are <= v (duplicate-safe). */
  private[graft] def upperBound(a: Array[Long], v: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (a(m) <= v) lo = m + 1 else hi = m
    }
    lo
  }

  /** Stream per-partition sorted (term_id, doc_id, tf, positions, dl) runs
    * into encoded posting blocks of <= blockSize postings. The ONE block
    * encoder: the batch shards and the streaming delta shards
    * ([[graft.streaming.StreamingIndexer]]) both call it, so codec/framing
    * changes cannot drift between the two write paths.
    */
  private[graft] def encodeBlocks(
      sorted: Dataset[(Long, Long, Long, Array[Int], Long)],
      avgdl: Double, blockSize: Int, bucketOf: Long => Long,
      codecId: Int = Codec.Varint): Dataset[PostingBlock] = {
    import sorted.sparkSession.implicits._
    val k1 = Analysis.K1
    val b = Analysis.B
    sorted.mapPartitions { it =>
      val partId = org.apache.spark.TaskContext.getPartitionId()
      new Iterator[PostingBlock] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): PostingBlock = {
          val termId = buf.head._1
          val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
          val tfs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val dls = scala.collection.mutable.ArrayBuffer.empty[Long]
          val poss = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
          var nPost = 0L
          var maxTfPart = 0.0
          while (buf.hasNext && buf.head._1 == termId && nPost < blockSize) {
            val (_, docId, tf, positions, dl) = buf.next()
            docIds += docId; tfs += tf; dls += dl; poss += positions
            nPost += tf
            val tfPart = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
            if (tfPart > maxTfPart) maxTfPart = tfPart
          }
          PostingBlock(
            term_id = termId,
            bucket = bucketOf(termId),
            first_doc_id = docIds.head,
            last_doc_id = docIds.last,
            n_docs = docIds.length,
            doc_deltas = Codec.encodeDeltas(codecId, docIds.toArray),
            tfs = Codec.encodeLongs(codecId, tfs.toArray),
            dls = Codec.encodeLongs(codecId, dls.toArray),
            positions = Codec.encodePositions(codecId, poss.toArray),
            n_postings = nPost,
            block_max_tfpart = maxTfPart,
            build_partition = partId)
        }
      }
    }
  }
}
