package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}

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
  *    (footer statistics) and pages (column indexes); every materialized row
  *    is then kept iff its `term_id` lies in a run / its `doc_id` is in the
  *    set, so correctness never rests on the filter.
  *  - Checksummed I/O. Files are read through the Hadoop FileSystem of
  *    `conf` (the session's Hadoop configuration), so checksums, hdfs:// and
  *    s3a:// behave as they do for the Spark scan. A missing, truncated or
  *    corrupt file the read needs throws; nothing is ever answered empty in
  *    its place. (A file whose memoized footer statistics rule out every
  *    row group is not needed, and not opened.)
  *
  * Listings and footers are memoized for the reader's life: the files of an
  * index are immutable under one reader's epoch (appends, compactions and
  * rebuilds change the epoch and come with a new reader).
  */
final class PointReader(conf: Configuration, blockDirs: Seq[String], docsDir: String,
                        bucketOf: Long => Long) {
  import PointReader._

  private val footers = new java.util.concurrent.ConcurrentHashMap[Path, ParquetMetadata]()
  private val bucketFiles = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()

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

  private lazy val docsFiles: Array[FileStatus] = leafFiles(new Path(docsDir))

  private def leafFiles(dir: Path): Array[FileStatus] =
    dir.getFileSystem(conf).listStatus(dir).filter(s => listed(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leafFiles(s.getPath)
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
    val files = buckets.flatMap(b => bucketFiles.computeIfAbsent(b, leafFiles(_)))
    val cols = BlockCols ++ (if (withPositions) Seq("positions") else Nil)
    scan(files, cols, runsPredicate(TermId, merged)) { r =>
      val t = r(0).asInstanceOf[Long]
      val i = IndexBuilder.upperBound(los, t) - 1
      i >= 0 && t <= his(i)
    }.map(r => BlockSeg(r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
      r(2).asInstanceOf[Int], r(3).asInstanceOf[Array[Byte]], r(4).asInstanceOf[Array[Byte]],
      r(5).asInstanceOf[Array[Byte]], if (withPositions) r(6).asInstanceOf[Array[Byte]] else null))
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
    * pages of [[IndexBuilder.DocsPageRows]] rows) a read materializes the
    * pages that hold the ids; an older store (unsorted, one page per
    * column chunk) answers the same rows through the same code, at the
    * old cost, until it is rebuilt.
    */
  def docs(ids: Seq[Long]): Array[(Long, String, String)] = {
    if (ids.isEmpty) return Array.empty
    val set = new java.util.HashSet[java.lang.Long]()
    ids.foreach(id => set.add(id))
    val runs = IndexReader.mergeRuns(ids.distinct.map(id => (id, id)))
    scan(docsFiles, DocCols, runsPredicate(DocId, runs))(r => set.contains(r(0)))
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[String], r(2).asInstanceOf[String]))
  }

  /** Rows decoded by this reader's scans, kept or not (spec hook: what a
    * point read costs, in rows).
    */
  private[graft] val rowsMaterialized = new java.util.concurrent.atomic.AtomicLong()

  private def footerOf(file: HadoopInputFile): ParquetMetadata = {
    val hit = footers.get(file.getPath)
    if (hit != null) return hit
    val in = file.newStream()
    val footer =
      try ParquetFileReader.readFooter(file, HadoopReadOptions.builder(conf).build(), in)
      finally in.close()
    footers.putIfAbsent(file.getPath, footer)
    footer
  }

  /** The rows of `columns` in `files` that pass `keep`, reading only the
    * row groups and pages `pred` cannot rule out. A file whose memoized
    * footer rules out every row group is not opened.
    */
  private def scan(files: Seq[FileStatus], columns: Seq[String], pred: FilterPredicate)
                  (keep: Array[Any] => Boolean): Array[Array[Any]] = {
    val filter = FilterCompat.get(pred)
    val out = Array.newBuilder[Array[Any]]
    files.foreach { st =>
      val file = HadoopInputFile.fromStatus(st, conf)
      val footer = footerOf(file)
      val fileSchema = footer.getFileMetaData.getSchema
      if (!RowGroupFilter.filterRowGroups(filter, footer.getBlocks, fileSchema).isEmpty) {
        // per file: closing a reader releases its options' codec factory
        val options = HadoopReadOptions.builder(conf).withRecordFilter(filter)
          .useStatsFilter(true).useColumnIndexFilter(true).useDictionaryFilter(false)
          .useBloomFilter(false).build()
        val in = file.newStream()
        val reader =
          try ParquetFileReader.open(file, footer, options, in)
          catch { case e: Throwable => in.close(); throw e }
        try {
          val schema = new MessageType(fileSchema.getName,
            columns.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
          reader.setRequestedSchema(schema)
          val io = new ColumnIOFactory().getColumnIO(schema, fileSchema)
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val rows = io.getRecordReader(pages, new RowMaterializer(schema))
            var i = 0L
            while (i < pages.getRowCount) {
              val r = rows.read()
              if (keep(r)) out += r
              i += 1
            }
            rowsMaterialized.addAndGet(pages.getRowCount)
            pages = reader.readNextFilteredRowGroup()
          }
        } finally reader.close()
      }
    }
    out.result()
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

  /** Materializes one record of a flat projection as an array of its
    * values: longs and ints boxed, STRING binaries as Strings, other
    * binaries as byte arrays (null where the value is absent).
    */
  private final class RowMaterializer(schema: MessageType) extends RecordMaterializer[Array[Any]] {
    private val n = schema.getFieldCount
    private var cur: Array[Any] = _
    private val convs: Array[Converter] = Array.tabulate(n) { i =>
      val str = schema.getType(i).getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      new PrimitiveConverter {
        override def addLong(v: Long): Unit = cur(i) = v
        override def addInt(v: Int): Unit = cur(i) = v
        override def addBinary(v: Binary): Unit =
          cur(i) = if (str) v.toStringUsingUTF8
            else if (v.isBackingBytesReused) v.getBytes.clone() else v.getBytes
      }
    }
    private val root = new GroupConverter {
      override def getConverter(i: Int): Converter = convs(i)
      override def start(): Unit = cur = new Array[Any](n)
      override def end(): Unit = ()
    }
    override def getCurrentRecord: Array[Any] = cur
    override def getRootConverter: GroupConverter = root
  }
}
