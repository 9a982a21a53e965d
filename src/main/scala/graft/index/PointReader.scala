package graft.index

import graft.core.Lru
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.{ColumnIndex, OffsetIndex}
import org.apache.parquet.internal.filter2.columnindex.ColumnIndexStore
import org.apache.parquet.io.SeekableInputStream
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}

/** Driver-side point reads of an index's Parquet files, with no Spark job:
  * the postings blocks of a set of term-id runs, and the docs-store rows of
  * a set of doc ids. The reference reads a word range's blocks at a file
  * offset it already knows (block locate, HYBCompleter.cpp:661-746) and an
  * excerpt's record from docs.DB (ExcerptsGenerator.cpp); neither schedules
  * anything. This is the Spark-free twin of
  * `reader.blocksForIdRuns(runs).select(cols).collect()` and
  * `reader.docs.filter(col("doc_id").isin(ids)).collect()`.
  *
  * Exactness -- the rows returned are exactly the rows those two Spark
  * queries return (PointReaderSpec compares them byte for byte):
  *  - Same file set. Block files are the leaf files of the `bucket=` dirs
  *    under `blockDirs` (the census's visible shards, the same list the
  *    `blocks` relation reads) whose bucket lies in some run's
  *    [bucketOf(lo), bucketOf(hi)] -- the relation's partition predicate.
  *    Docs files are the leaf files under the docs store. Names Spark's
  *    listing skips (`_`/`.`-prefixed, `._COPYING_`) are skipped, and so are
  *    empty files (Spark plans no split for them). Hidden shards are never
  *    listed, so never opened.
  *  - Exact per-row key check. The Parquet predicate only prunes row groups
  *    (footer statistics) and pages (column indexes); every decoded row is
  *    then kept iff its `term_id` lies in a run / its `doc_id` is in the
  *    set, so correctness never rests on the filter.
  *  - Key-first decode. Each row group's pages are read column by column
  *    with parquet's column readers: the key column first, for every row
  *    the pages hold, then every other column for the kept rows only (the
  *    rest are skipped, not materialized). A value is read or skipped only
  *    where its definition level says it is present, so an optional
  *    column's nulls stay null and never shift later values.
  *  - Checksummed I/O. Files are read through the Hadoop FileSystem of
  *    `conf` (the session's Hadoop configuration), so checksums, hdfs:// and
  *    s3a:// behave as they do for the Spark scan. Every scan opens a fresh
  *    stream, so a missing, truncated or corrupt file the read needs throws;
  *    nothing is ever answered empty in its place. (A file whose memoized
  *    footer statistics rule out every row group is not needed, and not
  *    opened.)
  *
  * Memo, per epoch: the files of an index are immutable under one reader's
  * `epoch` (appends, compactions and rebuilds change it and come with a new
  * reader). So each bucket listing, and each file's resolved input, footer
  * and row-group column / offset indexes, are read once per epoch and held
  * in process-wide LRUs keyed by (epoch, path) ([[MemoFiles]],
  * [[MemoListings]] entries); a cold read then locates its pages from
  * memory and reads only those. A reader built without an epoch gets a
  * private one, so its memo is never shared.
  */
final class PointReader(conf: Configuration, blockDirs: Seq[String], docsDir: String,
                        bucketOf: Long => Long,
                        epoch: Long = IndexReader.epochFallback.decrementAndGet()) {
  import PointReader._

  /** Every `bucket=` dir of the block dirs, sorted by bucket. */
  private lazy val bucketDirs: Array[(Long, Path)] =
    blockDirs.flatMap { d =>
      val base = new Path(d)
      base.getFileSystem(conf).listStatus(base).filter(s => listed(s.getPath.getName)).map { s =>
        val name = s.getPath.getName
        val bucket = if (s.isDirectory && name.startsWith("bucket="))
          name.stripPrefix("bucket=").toLongOption else None
        bucket.map(_ -> s.getPath).getOrElse(throw new IllegalStateException(
          s"unexpected entry in block dir $d: $name"))
      }
    }.sortBy(_._1).toArray
  private lazy val bucketIds: Array[Long] = bucketDirs.map(_._1)

  private def leafFiles(dir: Path): Array[FileStatus] =
    listings.getOrCompute((epoch, dir))(listLeaves(dir))

  private def listLeaves(dir: Path): Array[FileStatus] =
    dir.getFileSystem(conf).listStatus(dir).filter(s => listed(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) listLeaves(s.getPath)
        else if (s.getLen > 0) Array(s) else Array.empty[FileStatus])

  /** The stored segments of every block whose `term_id` lies in one of
    * `runs` (inclusive, any order, may overlap), in no particular order;
    * `positions` is null unless `withPositions`.
    */
  def blocks(runs: Seq[(Long, Long)], withPositions: Boolean): Array[BlockSeg] = {
    val valid = runs.filter(r => r._1 <= r._2)
    if (valid.isEmpty) return Array.empty
    val merged = IndexReader.mergeRuns(valid)
    val los = merged.map(_._1).toArray
    val his = merged.map(_._2).toArray
    val buckets = valid.flatMap { case (lo, hi) =>
      val (bLo, bHi) = (bucketOf(lo), bucketOf(hi))
      var j = IndexBuilder.upperBound(bucketIds, bLo - 1) // first bucket >= bLo
      val out = Seq.newBuilder[Path]
      while (j < bucketDirs.length && bucketDirs(j)._1 <= bHi) { out += bucketDirs(j)._2; j += 1 }
      out.result()
    }.distinct
    val files = buckets.flatMap(leafFiles(_)).toArray
    val cols = BlockCols ++ (if (withPositions) Seq("positions") else Nil)
    val out = Array.newBuilder[BlockSeg]
    scan(files, cols, runsPredicate(TermId, merged)) { t =>
      val i = IndexBuilder.upperBound(los, t) - 1
      i >= 0 && t <= his(i)
    } { g =>
      val (terms, first, n) = (g.longs(0), g.longs(1), g.ints(2))
      val (deltas, tfs, dls) = (g.values(3), g.values(4), g.values(5))
      val pos = if (withPositions) g.values(6) else null
      var i = 0
      while (i < g.n) {
        out += BlockSeg(terms(i), first(i), n(i), bytes(deltas(i)), bytes(tfs(i)),
          bytes(dls(i)), if (pos == null) null else bytes(pos(i)))
        i += 1
      }
    }
    out.result()
  }

  /** (doc_id, url, text) of every docs-store row whose `doc_id` is in
    * `ids`, in no particular order; absent ids have no row.
    *
    * The predicate is the ids merged into runs, as a balanced OR of
    * `eq` / range -- the shape [[blocks]] uses -- and not `FilterApi.in`:
    * parquet's statistics and column-index filters judge an `in` by the
    * hull [min id, max id] of its set, so a spread id set kept every page
    * of every file its hull touched. Over a store that
    * [[IndexBuilder.buildDocsStore]] writes (each file sorted by `doc_id`,
    * pages of [[IndexBuilder.DocsPageRows]] rows) a read decodes the
    * pages that hold the ids; an older store (unsorted, one page per
    * column chunk) answers the same rows through the same code, at the
    * old cost, until it is rebuilt.
    */
  def docs(ids: Seq[Long]): Array[(Long, String, String)] = {
    if (ids.isEmpty) return Array.empty
    val set = ids.toArray.distinct.sorted
    val runs = IndexReader.mergeRuns(set.toSeq.map(id => (id, id)))
    val out = Array.newBuilder[(Long, String, String)]
    scan(docsFiles, DocCols, runsPredicate(DocId, runs))(
      java.util.Arrays.binarySearch(set, _) >= 0) { g =>
      val (ids, urls, texts) = (g.longs(0), g.values(1), g.values(2))
      var i = 0
      while (i < g.n) {
        out += ((ids(i), urls(i).asInstanceOf[String], texts(i).asInstanceOf[String]))
        i += 1
      }
    }
    out.result()
  }

  private lazy val docsFiles: Array[FileStatus] = leafFiles(new Path(docsDir))

  /** Rows decoded by this reader's scans, kept or not (spec hook: what a
    * point read costs, in rows).
    */
  private[graft] val rowsMaterialized = new java.util.concurrent.atomic.AtomicLong()

  /** Column and offset indexes this reader read from its files (spec hook:
    * a warm memo reads none).
    */
  private[graft] val indexReads = new java.util.concurrent.atomic.AtomicLong()

  private def memoOf(st: FileStatus): FileMemo =
    files.getOrCompute((epoch, st.getPath)) {
      val input = HadoopInputFile.fromStatus(st, conf)
      val in = input.newStream()
      val footer =
        try ParquetFileReader.readFooter(input, HadoopReadOptions.builder(conf).build(), in)
        finally in.close()
      new FileMemo(input, footer)
    }

  /** Hand `sink` the kept rows of `columns` (the key column first) in
    * `files`, one row group at a time, reading only the row groups and pages
    * `pred` cannot rule out. A row is kept iff its key is present and passes
    * `keep`. A file whose memoized footer rules out every row group is not
    * opened.
    */
  private def scan(files: Array[FileStatus], columns: Seq[String], pred: FilterPredicate)
                  (keep: Long => Boolean)(sink: Kept => Unit): Unit = {
    val filter = FilterCompat.get(pred)
    files.foreach { st =>
      val memo = memoOf(st)
      val fileSchema = memo.footer.getFileMetaData.getSchema
      if (!RowGroupFilter.filterRowGroups(filter, memo.footer.getBlocks, fileSchema).isEmpty) {
        // per file: closing a reader releases its options' codec factory
        val options = HadoopReadOptions.builder(conf).withRecordFilter(filter)
          .useStatsFilter(true).useColumnIndexFilter(true).useDictionaryFilter(false)
          .useBloomFilter(false).build()
        val in = memo.input.newStream()
        val reader =
          try new MemoReader(memo, options, in, ColumnPath.get(columns.head), indexReads)
          catch { case e: Throwable => in.close(); throw e }
        try {
          val schema = new MessageType(fileSchema.getName,
            columns.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
          reader.setRequestedSchema(schema)
          val createdBy = memo.footer.getFileMetaData.getCreatedBy
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val n = pages.getRowCount.toInt
            val store = new ColumnReadStoreImpl(pages, NoConverter, schema, createdBy)
            val readers =
              columns.map(c => store.getColumnReader(schema.getColumnDescription(Array(c))))
            val keys = new Array[Long](n)
            val kept = new Array[Boolean](n)
            var nKept = 0
            val key = readers(0)
            val keyDef = key.getDescriptor.getMaxDefinitionLevel
            var i = 0
            while (i < n) {
              if (key.getCurrentDefinitionLevel == keyDef) {
                val k = key.getLong
                if (keep(k)) { kept(i) = true; keys(nKept) = k; nKept += 1 }
              }
              key.consume()
              i += 1
            }
            rowsMaterialized.addAndGet(n)
            if (nKept > 0)
              sink(new Kept(nKept, (java.util.Arrays.copyOf(keys, nKept) +:
                readers.drop(1).map(r => decode(r, kept, nKept))).toArray))
            pages = reader.readNextFilteredRowGroup()
          }
        } finally reader.close()
      }
    }
  }
}

object PointReader {

  /** One stored block segment: the columns driver-side decoding reads. */
  final case class BlockSeg(termId: Long, firstDocId: Long, nDocs: Int,
                            docDeltas: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
                            positions: Array[Byte])

  private val BlockCols = Seq("term_id", "first_doc_id", "n_docs", "doc_deltas", "tfs", "dls")
  private val DocCols = Seq("doc_id", "url", "text")
  private val TermId = FilterApi.longColumn("term_id")
  private val DocId = FilterApi.longColumn("doc_id")

  /** Files memoized per epoch (input, footer, row-group indexes). The cap
    * holds several epochs of an index of a few hundred files, so a server
    * that moves to a new epoch keeps its memo warm.
    */
  val MemoFiles: Int = 4096
  /** Directory listings memoized per epoch (one per bucket dir, and one
    * for the docs store).
    */
  val MemoListings: Int = 4096

  private val files = new Lru[(Long, Path), FileMemo]("point-read files", maxEntries = MemoFiles)
  private val listings = new Lru[(Long, Path), Array[FileStatus]]("point-read listings",
    maxEntries = MemoListings)

  /** A name Spark's file listing keeps (InMemoryFileIndex's rule). */
  private def listed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_"))

  /** `column` in one of the non-empty `runs` (inclusive): a balanced OR
    * (depth log2(n) at any run count) of `eq` for a one-value run and a
    * `gtEq`/`ltEq` range otherwise -- predicates parquet's statistics and
    * column-index filters both prune by.
    */
  private def runsPredicate(column: Operators.LongColumn,
                            runs: Seq[(Long, Long)]): FilterPredicate =
    orTree(runs.map { case (lo, hi) =>
      if (lo == hi) FilterApi.eq(column, java.lang.Long.valueOf(lo))
      else FilterApi.and(FilterApi.gtEq(column, java.lang.Long.valueOf(lo)),
        FilterApi.ltEq(column, java.lang.Long.valueOf(hi)))
    })

  private def orTree(ps: Seq[FilterPredicate]): FilterPredicate =
    if (ps.length == 1) ps.head
    else { val (a, b) = ps.splitAt(ps.length / 2); FilterApi.or(orTree(a), orTree(b)) }

  /** One file's memo for an epoch: its resolved input, its footer and, per
    * row group, the column / offset index store its first filtered read
    * built.
    */
  private final class FileMemo(val input: HadoopInputFile, val footer: ParquetMetadata) {
    private val groups = footer.getBlocks
    private val stores =
      new java.util.concurrent.atomic.AtomicReferenceArray[ColumnIndexStore](groups.size)

    def store(block: BlockMetaData)(read: => ColumnIndexStore): ColumnIndexStore = {
      var g = 0
      while (g < groups.size && !(groups.get(g) eq block)) g += 1
      if (g == groups.size) return read // not this footer's row group
      val hit = stores.get(g)
      if (hit != null) hit
      else { stores.compareAndSet(g, null, read); stores.get(g) }
    }
  }

  /** A file reader whose column / offset index store is the memo's: the
    * store serves both the page filter (`getRowRanges`) and the filtered
    * page read. A missing store is read eagerly from this reader's stream
    * -- the offset index of every column and the column index of `key`, the
    * one predicate column -- so it outlives the reader.
    */
  private final class MemoReader(memo: FileMemo, options: ParquetReadOptions,
                                 in: SeekableInputStream, key: ColumnPath,
                                 reads: java.util.concurrent.atomic.AtomicLong)
      extends ParquetFileReader(memo.input, memo.footer, options, in) {
    override def getColumnIndexStore(blockIndex: Int): ColumnIndexStore = {
      val block = getRowGroups.get(blockIndex)
      memo.store(block) {
        val offsets = new java.util.HashMap[ColumnPath, OffsetIndex]()
        var keyIndex: ColumnIndex = null
        block.getColumns.forEach { c =>
          offsets.put(c.getPath, readOffsetIndex(c))
          reads.incrementAndGet()
          if (c.getPath == key) { keyIndex = readColumnIndex(c); reads.incrementAndGet() }
        }
        // parquet's rule: offset indexes for all columns, or no page filter
        if (offsets.containsValue(null)) new IndexStore(java.util.Collections.emptyMap(), key, null)
        else new IndexStore(offsets, key, keyIndex)
      }
    }
  }

  private final class IndexStore(offsets: java.util.Map[ColumnPath, OffsetIndex],
                                 key: ColumnPath, keyIndex: ColumnIndex)
      extends ColumnIndexStore {
    override def getColumnIndex(column: ColumnPath): ColumnIndex =
      if (column == key) keyIndex else null
    override def getOffsetIndex(column: ColumnPath): OffsetIndex = {
      val o = offsets.get(column)
      if (o == null) throw new ColumnIndexStore.MissingOffsetIndexException(column)
      o
    }
  }

  /** The `n` kept rows of one row group, column-wise in requested order
    * (the key first): `Array[Long]` for INT64, `Array[Int]` for INT32,
    * `Array[AnyRef]` of Strings or byte arrays for BINARY; 0 / null where a
    * value is absent.
    */
  private final class Kept(val n: Int, cols: Array[AnyRef]) {
    def longs(c: Int): Array[Long] = cols(c).asInstanceOf[Array[Long]]
    def ints(c: Int): Array[Int] = cols(c).asInstanceOf[Array[Int]]
    def values(c: Int): Array[AnyRef] = cols(c).asInstanceOf[Array[AnyRef]]
  }

  private def bytes(v: AnyRef): Array[Byte] = v.asInstanceOf[Array[Byte]]

  /** One column's values at the `kept` rows; every other row's value is
    * skipped. The reader stands on the row group's first row. A row holds
    * a value only at the column's maximum definition level: reading or
    * skipping at a lower one (a null) would take the next row's value.
    */
  private def decode(r: ColumnReader, kept: Array[Boolean], nKept: Int): AnyRef = {
    val desc = r.getDescriptor
    val maxDef = desc.getMaxDefinitionLevel
    def each(read: Int => Unit): Unit = {
      var i = 0
      var o = 0
      while (i < kept.length) {
        if (r.getCurrentDefinitionLevel == maxDef) { if (kept(i)) read(o) else r.skip() }
        if (kept(i)) o += 1
        r.consume()
        i += 1
      }
    }
    desc.getPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT64 =>
        val out = new Array[Long](nKept); each(o => out(o) = r.getLong); out
      case PrimitiveType.PrimitiveTypeName.INT32 =>
        val out = new Array[Int](nKept); each(o => out(o) = r.getInteger); out
      case PrimitiveType.PrimitiveTypeName.BINARY =>
        val str = desc.getPrimitiveType.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        val out = new Array[AnyRef](nKept)
        each { o =>
          val v = r.getBinary
          out(o) = if (str) v.toStringUsingUTF8
            else if (v.isBackingBytesReused) v.getBytes.clone() else v.getBytes
        }
        out
      case t => throw new IllegalStateException(s"point reads do not decode $t ($desc)")
    }
  }

  /** The column readers' converter: values are read through the readers'
    * getters, so it is never called.
    */
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
