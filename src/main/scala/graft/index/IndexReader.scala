package graft.index

import graft.core.{Analysis, Lru}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-side access to a built index directory.
  *
  * Pruning mirrors the reference's block locate (HYBCompleter.cpp:661-746,
  * binary search on boundary word ids): a term-range predicate
  * `term_id BETWEEN lo AND hi` plus `bucket BETWEEN lo/B AND hi/B` hits
  * parquet partition-dir pruning and row-group min/max skipping -- only
  * the blocks overlapping the range are read.
  *
  * WAND: batch-shaped block-max pruning. Blocks carry
  * block_max_tfpart; contribution bound of block b of term t is
  * ub(b) = idf(t) * block_max_tfpart(b). With theta = a lower bound on the
  * final k-th score, a block can be skipped iff
  * ub(b) + sum over other query terms t' of (max ub of t'-blocks
  * OVERLAPPING b's docId range) < theta: any doc with its t-postings in b
  * has total score below theta, so dropping the block can neither remove a
  * true top-k doc nor promote a false one (partial scores only shrink).
  * The overlap restriction is what cursor-based BM-WAND gets from aligning
  * cursors on docId; here it is a docId-grid join over block metadata,
  * fully distributed. theta comes from exactly scoring the densest block
  * per term (phase 1).
  *
  * Memory: like the reference, which keeps only its vocabulary and a
  * bounded history in RAM and reads a word range's blocks from disk
  * (HYBCompleter.cpp:661-746), a reader holds one copy of the index in
  * memory -- the resident [[vocabulary]]. [[dictionary]] and [[blocks]]
  * are plain pruned Parquet reads that nothing caches; the serving paths
  * read blocks through [[points]], the distributed plans through
  * [[blocks]], and only the query history ([[graft.query.IndexQueryCache]])
  * persists the atom relations it decodes.
  */
class IndexReader(val spark: SparkSession, val dir: String,
                  /** below this block count, two-phase WAND costs more
                    * driver round trips than it saves */
                  wandMinBlocks: Int = 64) extends Serializable {
  import spark.implicits._

  /** docId-grid resolution for the WAND overlap bound: each query term
    * contributes at most this many (cell, ub) rows, independent of its
    * block count.
    */
  val WandGridCells = 1024L

  /** ONE shard-visibility snapshot per reader: the epoch and the blocks
    * relation BOTH derive from it, so a reader can never carry a
    * pre-append epoch while serving post-append postings (two independent
    * FS snapshots could interleave with a landing shard).
    */
  private lazy val censusSnapshot = IndexReader.shardCensus(spark, dir)

  /** Identity of the built index this reader was opened against: the
    * dictionary commit's mtime COMBINED with the VISIBLE shard layout from
    * [[censusSnapshot]]. Memoization keyed by (dir, epoch) cannot serve
    * stale values after a rebuild into the same directory (mtime changes),
    * and -- because streaming delta shards and compactions change the
    * visible postings WITHOUT touching the dictionary commit -- a
    * process-wide cache shared across readers cannot serve pre-append
    * postings to a new reader that sees the appended shard. Visibility
    * (not raw dir contents) is the right identity: crash debris and
    * re-delivered merged shards leave results unchanged and keep the
    * epoch, so warm entries survive them. Names are sorted: two readers
    * over an unchanged layout MUST agree on the epoch or every
    * shared-cache lookup misses. The dictionary mtime reads through the
    * Hadoop FileSystem API -- java.io.File answers 0 for hdfs://s3a://
    * paths, which would freeze the epoch across rebuilds on exactly the
    * production stores. On filesystem errors the epoch degrades to a
    * process-unique NEGATIVE value: a reader we cannot fingerprint never
    * shares cache entries (stale sharing is the failure that matters;
    * recomputing is just slow).
    */
  lazy val indexEpoch: Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/dictionary/_SUCCESS")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var h = if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
      censusSnapshot.visible.sorted.foreach(n => h = 31 * h + n.hashCode)
      31 * h + censusSnapshot.nextCompactId
    } catch { case scala.util.control.NonFatal(_) =>
      IndexReader.epochFallback.decrementAndGet()
    }

  // Rebuild-in-place detection (eager, at construction): a rebuild
  // reproduces the SAME shard names, so this reader's recomputed plans
  // canonicalize equal to the pre-rebuild reader's Spark-cached relations
  // (root-path identity; measured -- a fresh same-path read resolves to a
  // prior instance's persisted relation) even though the epoch differs.
  // A rebuild written through THIS session is already covered by Spark's
  // write-side recacheByPath; this guard covers the production case the
  // write side cannot see -- a rebuild by a DIFFERENT process (build job
  // fleet) under a long-lived serving JVM. The first reader that observes
  // a NEW epoch for a dir invalidates everything cached under it;
  // same-epoch readers (the common serving case) keep sharing warm caches.
  locally {
    val prev = IndexReader.lastEpoch.put(dir, java.lang.Long.valueOf(indexEpoch))
    if (prev != null && prev.longValue() != indexEpoch)
      try spark.catalog.refreshByPath(dir)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The dictionary relation (term_id, term, df, cf), read from Parquet
    * on every use: lookups go to the resident [[vocabulary]] instead.
    */
  lazy val dictionary: DataFrame = spark.read.parquet(s"$dir/dictionary")
  /** Docs store (buildDocsDB analog) -- present when the build ran
    * [[IndexBuilder.buildDocsStore]]; serves excerpt text.
    */
  lazy val docs: DataFrame = spark.read.parquet(s"$dir/docs")

  /** Whether the docs store (buildDocsDB analog) was built next to this
    * index -- excerpt serving degrades gracefully without it. Only a
    * POSITIVE answer is memoized: a transient filesystem error (remote
    * store timeout) must not permanently disable excerpts for a
    * long-lived serving session.
    */
  @volatile private var docsStoreSeen = false
  def hasDocsStore: Boolean = docsStoreSeen || {
    val present = IndexMeta.exists(spark, s"$dir/docs")
    if (present) docsStoreSeen = true
    present
  }
  /** The build's stats and boundary cuts, each read on first use. */
  private val meta = new IndexMeta(spark, dir)
  def nDocs: Long = meta.nDocs
  def avgdl: Double = meta.avgdl
  def bucketSize: Long = meta.bucketSize
  def doclistCodec: Int = meta.doclistCodec
  def hasPositions: Boolean = meta.hasPositions
  def prefixCuts: Option[Array[Long]] = meta.prefixCuts

  /** Bucket of a term id under the index's block-formation mode; MONOTONE
    * in term_id in both modes, so contiguous id ranges map to contiguous
    * bucket ranges and every BETWEEN-based pruning predicate stays valid.
    */
  def bucketOf(id: Long): Long = prefixCuts match {
    case Some(cuts) => IndexBuilder.upperBound(cuts, id).toLong
    case None => id / bucketSize
  }

  private def emptyHits: DataFrame =
    spark.range(0).select(col("id").as("doc_id"), lit(0.0).as("score"))

  /** The dirs the postings live in, from [[censusSnapshot]] (the SAME
    * snapshot the epoch hashed): the visible shard dirs, hiding shards
    * merged by a committed compaction whose dirs the GC has not removed
    * yet and half-written `compact-*` shards whose commit never landed (a
    * torn file in a crashed shard must not even be footered). The blocks
    * root only for a NON-SHARDED layout (present empty) -- an all-hidden
    * dir must not have its merged/torn shards read whole. Both the
    * [[blocks]] relation and the [[points]] reader read exactly these.
    */
  private def blockDirs: Seq[String] = {
    val census = censusSnapshot
    if (census.present.isEmpty) Seq(s"$dir/blocks")
    else if (census.visible.isEmpty)
      // every present shard is hidden (merged by a committed compaction
      // whose output dir is gone, or uncommitted crash debris): the
      // postings are unreachable -- fail loudly rather than read merged
      // or torn shards whole
      throw new IllegalStateException(
        s"$dir/blocks has shards but none are visible (lost compaction output?)")
    else census.visible.map(s => s"$dir/blocks/shard=$s")
  }

  /** Block segments, read from the visible shard dirs ([[blockDirs]]).
    * Never cached: a filter on `term_id` / `bucket` reaches the scan as
    * partition-dir pruning and row-group min/max skipping, so a query
    * reads only the blocks it needs from disk.
    */
  lazy val blocks: DataFrame =
    // ALWAYS read via the explicit visible shard paths, never the dir
    // root: Spark's cache manager substitutes semantically-equal plans,
    // and a parquet relation canonicalizes by its ROOT PATHS (InMemoryFileIndex
    // equality), not the discovered files -- a root-path read would let a
    // post-append reader's recomputed atom plan silently resolve to a
    // PRE-append persisted relation. Explicit shard paths make the plan
    // identity follow the visible layout: same layout shares cache
    // entries, a changed layout cannot.
    if (censusSnapshot.present.isEmpty) spark.read.parquet(blockDirs: _*)
    else spark.read.option("basePath", s"$dir/blocks").parquet(blockDirs: _*)

  /** Driver-side point reads of the block files [[blocks]] reads and of
    * the docs store ([[PointReader]]): the serving paths' cold postings
    * and docs fetches, with no Spark job, memoizing listings, footers and
    * page indexes under [[indexEpoch]]. Transient like [[vocabulary]].
    */
  @transient lazy val points: PointReader =
    new PointReader(spark.sessionState.newHadoopConf(), blockDirs, s"$dir/docs", bucketOf,
      indexEpoch)

  def idf(df: Long): Double = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)

  /** The dictionary as driver-resident packed arrays ([[Vocabulary]]),
    * loaded with one Spark job on first use and held for the reader's
    * life: every exact, prefix and range lookup below is then an in-process
    * binary search, so no serving request pays a dictionary job. Driver
    * cost: the terms' UTF-8 bytes plus 12 bytes per term, the same
    * per-term cost the reference pays for its in-RAM vocabulary. Safe to
    * hold because a reader's dictionary is immutable: streaming delta
    * shards reuse the batch dictionary (unseen terms are dropped and
    * counted as drift), and a rebuild into the same dir is a new reader
    * (indexEpoch). Transient: a reader captured in a task closure does not
    * ship the arrays.
    */
  @transient lazy val vocabulary: Vocabulary = Vocabulary.load(dictionary)

  /** WAND block count per distinct query-term set, least recently used
    * out past 2^20 sets: distinct term-id SETS are unbounded over a
    * serving session (every new keyword combination adds a key).
    */
  @transient private lazy val blockCountMemo =
    new Lru[Seq[Long], java.lang.Long]("wand block counts", maxEntries = 1 << 20)

  /** term -> (term_id, df) for the terms that are in the vocabulary. */
  def termInfo(terms: Seq[String]): Map[String, (Long, Long)] =
    terms.distinct.flatMap { t =>
      val id = vocabulary.idOf(t)
      if (id < 0) None else Some(t -> ((id.toLong, vocabulary.df(id))))
    }.toMap

  /** prefix -> contiguous term_id range [lo, hi] (prefixToRange analog,
    * CompleterBase.cpp:2505-2636; dense lexicographic ids make any prefix
    * a contiguous id range).
    */
  def prefixRange(prefix: String): Option[(Long, Long)] =
    vocabulary.prefixRange(prefix).map { case (lo, hi) => (lo.toLong, hi.toLong) }

  /** Pruned block scan for a set of contiguous term-id runs, the one block
    * selector (block locate analog): a prefix range is one run, a term set
    * its [[IndexReader.mergeRuns]], a scattered candidate set -- synonym
    * groups, fuzzy candidates, OR alternatives -- its own runs. The
    * reference fetches blocks per word range / per term
    * (HYBCompleter.cpp:661-746, INVCompleter.h:94-130), never the
    * [min, max] hull of the whole set. Bucket predicates + the
    * per-run BETWEEN disjunction reach the parquet scan (partition-dir
    * pruning + row-group min/max skipping). Plan size stays bounded at any
    * span: a run covering many buckets (the hull fallback for huge
    * candidate sets, or a--z on a 100M-term vocabulary) uses BETWEEN
    * instead of enumerating bucket literals, and the disjunctions are
    * BALANCED Or-trees (depth log2(n), no deep-recursion risk in Catalyst).
    */
  def blocksForIdRuns(runs: Seq[(Long, Long)]): DataFrame = {
    require(runs.nonEmpty, "empty run set")
    def orTree(ps: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
      if (ps.length == 1) ps.head
      else { val (a, b) = ps.splitAt(ps.length / 2); orTree(a) || orTree(b) }
    val bucketPreds = runs.map { case (lo, hi) =>
      val (bLo, bHi) = (bucketOf(lo), bucketOf(hi))
      if (bHi - bLo < IndexReader.MaxBucketLiterals)
        col("bucket").isin((bLo to bHi): _*)
      else col("bucket").between(bLo, bHi)
    }
    val idPreds = runs.map { case (lo, hi) => col("term_id").between(lo, hi) }
    blocks.filter(orTree(bucketPreds) && orTree(idPreds))
  }

  /** Decode blocks to (term_id, doc_id, tf, dl) via the custom Catalyst
    * Generator (GenerateExec, no object-encoder boundary).
    */
  def decode(blockDf: DataFrame): DataFrame =
    blockDf.select(col("term_id"),
      PostingsDecode.postingsDecode(col("n_docs"), col("doc_deltas"),
        col("tfs"), col("dls"), doclistCodec))

  /** Decode including per-doc positions: (term_id, doc_id, tf, dl, positions). */
  def decodeWithPositions(blockDf: DataFrame): DataFrame =
    blockDf.select(col("term_id"),
      PostingsDecode.postingsDecodeWithPositions(col("n_docs"), col("doc_deltas"),
        col("tfs"), col("dls"), col("positions"), doclistCodec))

  /** BM25 score column over decoded postings with per-term df attached.
    * The df table is query-sized (one row per query term), so it inlines
    * as a literal-map lookup -- a codegen'd expression, no broadcast-build
    * job per query (a warm serving session pays exactly ONE job: the
    * pruned decode scan). Guarded: candidate sets beyond literal-plan size
    * fall back to the broadcast join.
    */
  private def scoreDecoded(decoded: DataFrame, dfByTermId: Map[Long, Long]): DataFrame = {
    val withDf =
      if (dfByTermId.size <= IndexReader.MaxDfLiterals) {
        val kvs = dfByTermId.toSeq.flatMap { case (t, d) => Seq(lit(t), lit(d)) }
        // inner-join semantics: decoded rows are pre-filtered to these
        // term ids, so the lookup never misses; the filter keeps the
        // contract explicit rather than relying on the caller
        decoded.withColumn("df", element_at(map(kvs: _*), col("term_id")))
          .filter(col("df").isNotNull)
      } else {
        val dfTbl = dfByTermId.toSeq.toDF("term_id", "df")
        decoded.join(broadcast(dfTbl), "term_id")
      }
    withDf.withColumn("score",
      Analysis.bm25Col(nDocs, avgdl, col("tf"), col("df"), col("dl")))
  }

  /** WAND with pruning statistics: (result, totalBlocks, scannedBlocks). */
  def topKOrWandStats(terms: Seq[String], k: Int): (DataFrame, Long, Long) =
    wandImpl(terms, k)

  /** Exact disjunctive top-k WITH block-max pruning (WAND analog). */
  def topKOrWand(terms: Seq[String], k: Int): DataFrame =
    wandImpl(terms, k)._1

  private def wandImpl(terms: Seq[String], k: Int): (DataFrame, Long, Long) = {
    val info = termInfo(terms)
    if (info.isEmpty) return (emptyHits, 0L, 0L)
    val dfByTermId = info.values.map(v => v._1 -> v._2).toMap
    val idfByTermId = dfByTermId.map { case (tid, d) => tid -> idf(d) }
    val ids = dfByTermId.keys.toSeq
    // exact disjunctive scoring of a block subset; over all the query's
    // blocks it is the unpruned answer the fallbacks below return
    def scoreTopK(bs: DataFrame): DataFrame =
      scoreDecoded(decode(bs), dfByTermId)
        .groupBy(col("doc_id"))
        .agg(round(sum(col("score")), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)

    // All per-block state stays DISTRIBUTED throughout -- a head term at
    // 10^12 docs has millions of blocks and the driver must never see one
    // row (or one expression-tree node) per block. Driver round-trips are
    // bounded: one count, k phase-1 rows, one count, the k results. The
    // first count is memoized per term-id set: the blocks relation is
    // frozen per reader (its shard dirs are fixed at construction; delta
    // shards appear to a NEW reader), so a warm repeated query skips the
    // job entirely.
    val qBlocks = blocksForIdRuns(IndexReader.mergeRuns(ids.map(id => (id, id))))
    // the count job runs outside the memo's monitor: a cold multi-second
    // count must not stall unrelated queries
    val totalBlocks = blockCountMemo.getOrCompute(ids.sorted)(
      java.lang.Long.valueOf(qBlocks.count())).longValue()
    if (totalBlocks == 0) return (emptyHits, 0L, 0L)
    if (totalBlocks <= wandMinBlocks)
      return (scoreTopK(qBlocks), totalBlocks, totalBlocks)

    // Phase 1: per term, the densest blocks (by block-max, ties toward low
    // first_doc_id so the per-term doc ranges align and overlap) until
    // they cover >= k docs; exactly scoring them yields theta, a valid
    // lower bound on the final k-th score (partial sums only grow).
    // The per-term window sorts METADATA only; selection joins back as a
    // semi-join, never a literal predicate.
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term_id"))
      .orderBy(col("block_max_tfpart").desc, col("first_doc_id").asc)
    val p1Keys = qBlocks
      .select(col("term_id"), col("first_doc_id"), col("n_docs"), col("block_max_tfpart"))
      .withColumn("cum_before",
        coalesce(sum(col("n_docs").cast("long")).over(
          pw.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .filter(col("cum_before") < k)
      .select(col("term_id"), col("first_doc_id"))
    val p1Blocks = qBlocks.join(broadcast(p1Keys), Seq("term_id", "first_doc_id"), "left_semi")
    val p1Scores = scoreDecoded(decode(p1Blocks), dfByTermId)
      .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
      .orderBy(col("score").desc).limit(k)
      .collect()
    val theta = if (p1Scores.length < k) 0.0 else p1Scores.last.getAs[Double]("score")
    if (theta == 0.0) return (scoreTopK(qBlocks), totalBlocks, totalBlocks)

    // Phase 2: prune block b of term t iff no doc in b can reach theta:
    //   ub(b) + sum over other terms t' of (max ub of t'-blocks OVERLAPPING
    //   b's docId range) < theta.
    // The overlap bound is the essence of cursor-based block-max WAND (the
    // cursors align on docId); the global-max-per-term bound is useless on
    // skew: every head-term block would "survive" via the rare term's
    // global ub even where the rare term has no postings at all.
    // Spark shape: a docId GRID. Each term's blocks are exploded to the
    // grid cells they intersect; cell_ub(t, c) = max ub of t's blocks in
    // cell c (a metadata-sized agg); a block's other-term bound sums, over
    // other terms, the max cell_ub across its span. Everything stays
    // distributed -- the driver never sees a per-block row.
    // The 1e-4 safety margin keeps pruning exact UNDER THE 4-DP ROUNDED
    // OUTPUT: a pruned doc's true score is < theta - 1e-4, so its rounded
    // score can never tie the rounded k-th score and steal a slot via the
    // doc_id tiebreak.
    // idf is query-sized too: literal-map lookup, no broadcast-build job
    val idfKvs = idfByTermId.toSeq.flatMap { case (t, v) => Seq(lit(t), lit(v)) }
    val cellW = math.max(1L, nDocs / WandGridCells)
    val meta = qBlocks
      .select(col("term_id"), col("first_doc_id"), col("last_doc_id"),
        col("block_max_tfpart"))
      .withColumn("ub",
        col("block_max_tfpart") * element_at(map(idfKvs: _*), col("term_id")))
    val cells = meta.select(col("term_id"), col("first_doc_id"), col("ub"),
      explode(sequence(floor(col("first_doc_id") / cellW).cast("long"),
        floor(col("last_doc_id") / cellW).cast("long"))).as("cell"))
    val cellUb = cells.groupBy(col("cell"), col("term_id").as("t2"))
      .agg(max(col("ub")).as("cell_ub"))
    val otherBound = cells.select(col("term_id"), col("first_doc_id"), col("cell"))
      .join(cellUb, "cell")
      .filter(col("t2") =!= col("term_id"))
      .groupBy(col("term_id"), col("first_doc_id"), col("t2"))
      .agg(max(col("cell_ub")).as("o_ub"))
      .groupBy(col("term_id"), col("first_doc_id"))
      .agg(sum(col("o_ub")).as("other_bound"))
    val survivingKeys = meta
      .join(otherBound, Seq("term_id", "first_doc_id"), "left_outer")
      .filter(col("ub") + coalesce(col("other_bound"), lit(0.0)) >= theta - 1e-4)
      .select(col("term_id"), col("first_doc_id"))
    val surviving = qBlocks.join(survivingKeys, Seq("term_id", "first_doc_id"), "left_semi")
    val scanned = surviving.count()
    if (scanned >= totalBlocks)
      return (scoreTopK(qBlocks), totalBlocks, totalBlocks)

    (scoreTopK(surviving), totalBlocks, scanned)
  }
}

object IndexReader {
  /** Process-unique NEGATIVE epochs for readers whose layout could not be
    * fingerprinted (filesystem error): such a reader never shares cache
    * entries -- see [[IndexReader.indexEpoch]].
    */
  private[index] val epochFallback = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** dir -> last epoch observed by a reader construction; an epoch CHANGE
    * triggers the rebuild-in-place cache invalidation (see the
    * construction-time block in the class).
    */
  private[index] val lastEpoch =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** A run spanning at least this many buckets switches from an IN-list of
    * bucket literals to a BETWEEN predicate (identical pruning, constant
    * plan size).
    */
  val MaxBucketLiterals: Long = 256L

  /** Id ranges in any order, overlapping or not -> the sorted disjoint
    * runs covering them, adjacent ranges joined.
    */
  private[graft] def mergeRuns(ranges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ranges.sortBy(_._1).foreach { case (lo, hi) =>
      if (runs.nonEmpty && lo <= runs.last._2 + 1)
        runs(runs.length - 1) = (runs.last._1, math.max(runs.last._2, hi))
      else runs += ((lo, hi))
    }
    runs.toSeq
  }

  /** Above this many query terms the per-term df lookup switches from a
    * literal-map expression back to a broadcast join (bounded plan size).
    */
  val MaxDfLiterals: Int = 256

  /** Driver-resident serving guard: a query whose atoms' total posting
    * volume exceeds this falls back from [[graft.query.LocalServe]] to the
    * distributed plans...
    */
  val MaxLocalPostingsPerQuery: Long = 256L * 1024

  /** ...and LocalServe's per-reader atom LRU evicts past this much held
    * weight (rows plus held positions), so an adversarial query stream
    * cannot grow driver memory unboundedly. A row unit costs 40-64 bytes
    * plus ~64 per term run, a position unit 4
    * ([[graft.query.LocalServe.LocalAtom.weight]]): ~128 MB when the
    * budget is rows of multi-doc terms, up to ~256 MB when every term has
    * one row.
    */
  val LocalListBudgetPostings: Long = 2L * 1024 * 1024

  /** Shard visibility under the compaction log.
    * @param present  every `shard=` dir currently under blocks/
    * @param visible  the shards a reader must serve: present, minus shards
    *                 merged by a COMMITTED compaction, minus `compact-*`
    *                 shards whose commit never landed (crash mid-compact)
    * @param nextCompactId  1 + highest committed compaction id
    */
  case class ShardCensus(present: Seq[String], visible: Seq[String],
                         nextCompactId: Long) {
    def hidden: Seq[String] = present.filterNot(visible.toSet)
  }

  /** Resolve shard visibility for an index dir (driver-side; one FS
    * listing + one tiny read of the committed compaction log -- row count
    * == shards ever merged). The log is the COMMIT, not the data move:
    * [[graft.index.IndexBuilder.compact]] writes the merged shard first
    * (invisible here until its commit dir gains _SUCCESS), so a crash at
    * any point leaves a census that serves exactly the old postings.
    */
  /** Merged-shard names of ONE committed compaction commit dir, resolved
    * without a Spark job on the common path: process memo keyed by
    * (commit path, _SUCCESS mtime) -- a committed commit dir is immutable
    * (the compact writer only overwrites BEFORE its _SUCCESS lands, and a
    * rebuild that wipes `compactions/` gives the reused id a new mtime) --
    * then the `_merged.txt` sidecar via one driver-side FS read, then (old
    * index or crash exactly between _SUCCESS and sidecar) the original
    * parquet read. Reader construction over a compacted index is
    * otherwise a per-reader Spark job.
    */
  /** Sidecar file name: underscore-prefixed so Spark's parquet file
    * listing skips it -- the commit dir must stay readable as a plain
    * parquet directory for the fallback path (and for any external
    * reader of commit logs).
    */
  private[index] val MergedSidecarName = "_merged.txt"

  /** Terminating sentinel line: a sidecar without it is torn/partial and
    * MUST be ignored (fall back to the parquet commit read) -- a truncated
    * list would silently resurrect merged shards as visible, serving
    * duplicate postings.
    */
  private[index] val MergedSidecarSentinel = "#end"

  /** Merged-shard names per committed commit dir; at 1,024 dirs the least
    * recently used goes.
    */
  private val mergedMemo = new Lru[(String, String), Seq[String]]("merged shards",
    maxEntries = 1024)

  private[graft] def mergedShardsOf(spark: SparkSession, commitDir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val success = new org.apache.hadoop.fs.Path(s"$commitDir/_SUCCESS")
    val sidecar = new org.apache.hadoop.fs.Path(
      s"$commitDir/$MergedSidecarName")
    val fs = success.getFileSystem(conf)
    // Memo key carries (mtime, length) of BOTH the _SUCCESS marker and
    // the sidecar: mtime alone collides when a rebuild wipes
    // `compactions/` and recreates the same commit id within one
    // coarse-granularity timestamp tick; the sidecar's own stat makes
    // that implausible (and naturally invalidates on sidecar arrival).
    def stat(p: org.apache.hadoop.fs.Path): String =
      try { val st = fs.getFileStatus(p); s"${st.getModificationTime}:${st.getLen}" }
      catch { case scala.util.control.NonFatal(_) => "absent" }
    val successStat = stat(success)
    val key = (commitDir, s"$successStat|${stat(sidecar)}")
    val hit = if (successStat != "absent") mergedMemo.get(key) else null
    if (hit != null) return hit
    // Sidecar fast path: valid ONLY if the terminating sentinel is the
    // last line (a torn/partial write parses as a shorter list otherwise
    // -- merged shards would stay visible and serve duplicate postings).
    val fromSidecar: Option[Seq[String]] =
      try {
        val in = fs.open(sidecar)
        val lines =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
          finally in.close()
        if (lines.lastOption.contains(MergedSidecarSentinel))
          Some(lines.dropRight(1))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    val names: Seq[String] = fromSidecar.getOrElse {
      spark.read.parquet(commitDir)
        .select("merged_shard").collect().map(_.getString(0)).toSeq
    }
    if (successStat != "absent") {
      mergedMemo.putIfAbsent(key, names)
    }
    names
  }

  def shardCensus(spark: SparkSession, dir: String): ShardCensus = {
    val conf = spark.sparkContext.hadoopConfiguration
    def subdirs(path: String, prefix: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).sorted
    }
    def committed(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      p.getFileSystem(conf).exists(p)
    }
    val present = subdirs(s"$dir/blocks", "shard=")
    val commits = subdirs(s"$dir/compactions", "commit=")
      .filter(n => committed(s"$dir/compactions/commit=$n"))
    val merged: Set[String] =
      if (commits.isEmpty) Set.empty
      else commits.flatMap(n =>
        mergedShardsOf(spark, s"$dir/compactions/commit=$n")).toSet
    val committedCompacts = commits.map(n => s"compact-$n").toSet
    // every shard dir is its own job with its own _SUCCESS (batch shards:
    // IndexBuilder per-shard writes; stream-*: appendBatch; compact-*:
    // compact) -- a dir WITHOUT the marker is a landing or crashed write
    // and must be invisible, or a reader opened mid-append would cache
    // partial postings under the SAME epoch the completed shard later
    // fingerprints to (shard names don't change on retry). compact-*
    // additionally needs its commit-LOG _SUCCESS: the merged data lands
    // before the log entry that makes the swap atomic.
    val visible = present.filter(s => committed(s"$dir/blocks/shard=$s"))
      .filterNot(merged)
      .filterNot(s => s.startsWith("compact-") && !committedCompacts(s))
    ShardCensus(present, visible,
      commits.map(_.toLong).maxOption.getOrElse(-1L) + 1L)
  }
}
