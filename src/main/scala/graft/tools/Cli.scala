package graft.tools

import graft.core.WebCorpus
import graft.index.{IndexBuilder, IndexReader}
import org.apache.spark.sql.SparkSession

/** spark-submit entry points mirroring the reference CLI surface
  * (buildIndex.cpp, answerQueries.cpp).
  */
object Cli {
  /** Session builder that respects spark-submit's master but falls back to
    * local[] when launched directly (dev / sbt runMain).
    */
  def session(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val withMaster =
      if (sys.props.contains("spark.master")) b
      else b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object BuildIndexMain {
  /** args: <sfDir|corpusParquetDir> <indexDir> [numShards] [blockSize] */
  def main(args: Array[String]): Unit = {
    val Array(src, outDir, rest @ _*) = args: @unchecked
    val shards = rest.headOption.map(_.toInt).getOrElse(4)
    val blockSize = rest.lift(1).map(_.toInt).getOrElse(IndexBuilder.DefaultBlockSize)
    val spark = Cli.session("graft-buildIndex")
    val corpus =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$src/documents.parquet")))
        WebCorpus.fromDocuments(spark, src)
      else spark.read.parquet(src)
    val manifest = IndexBuilder.build(spark, corpus, outDir,
      numShards = shards, blockSize = blockSize)
    // buildDocsDB analog alongside (reference `make pall` builds docs.DB
    // with the index): excerpts then serve from the index directory alone.
    // NOTE: outDir is RESUMABLE like the index itself -- every committed
    // artifact (_SUCCESS) is kept, so point a NEW corpus at a FRESH dir;
    // reusing a dir across corpora would serve the old dir's artifacts.
    if (corpus.columns.contains("text"))
      IndexBuilder.buildDocsStore(spark, corpus, outDir)
    manifest.show(100, truncate = false)
    spark.stop()
  }
}

/** printListLengths analog (reference tool of the same name): posting-list
  * length distribution from the dictionary -- df/cf per term, longest
  * lists first. args: <indexDir> [topK]
  */
/** buildFuzzySearchClusters analog (fuzzysearch/BuildFuzzySearchClusters
  * .cpp: cluster the vocabulary so fuzzy search serves from precomputed
  * clusters — mode "only frequent words are cluster centers", capped
  * memberships). Builds the FastSS variant table if missing, writes
  * `<indexDir>/fuzzy/clusters`, prints the largest clusters.
  * args: <indexDir> [minFrequency] [maxDist] [maxClustersPerWord]
  */
object BuildFuzzyClustersMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, rest @ _*) = args: @unchecked
    val minFreq = rest.headOption.map(_.toLong).getOrElse(100L)
    val maxDist = rest.lift(1).map(_.toInt).getOrElse(2)
    val maxPer = rest.lift(2).map(_.toInt).getOrElse(2)
    val spark = Cli.session("graft-buildFuzzyClusters")
    import org.apache.spark.sql.functions._
    graft.index.FuzzyIndex.build(spark, dir, maxDeletes = math.max(2, maxDist))
    graft.index.FuzzyIndex.buildClusters(spark, dir, minFreq, maxDist, maxPer)
    spark.read.parquet(s"$dir/fuzzy/clusters")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_words"))
      .orderBy(col("n_words").desc, col("cluster_id").asc)
      .show(20, truncate = false)
    spark.stop()
  }
}

object PrintListLengthsMain {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, rest @ _*) = args: @unchecked
    val k = rest.headOption.map(_.toInt).getOrElse(50)
    val spark = Cli.session("graft-printListLengths")
    spark.read.parquet(s"$indexDir/dictionary")
      .orderBy(org.apache.spark.sql.functions.col("df").desc)
      .show(k, truncate = false)
    spark.stop()
  }
}

/** words2wordids analog: rewrite a (doc_id, term, ...) words relation to
  * (doc_id, term_id, ...) via the index dictionary.
  * args: <indexDir> <wordsParquet> <outParquet>
  */
object Words2WordIdsMain {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, wordsPath, outPath) = args: @unchecked
    val spark = Cli.session("graft-words2wordids")
    import org.apache.spark.sql.functions._
    val dict = spark.read.parquet(s"$indexDir/dictionary")
      .select(col("term"), col("term_id"))
    spark.read.parquet(wordsPath)
      .join(broadcast(dict), "term").drop("term")
      .write.mode("overwrite").parquet(outPath)
    spark.stop()
  }
}

/** Codec diagnostics: build one index per block codec over the same corpus
  * and print build throughput, encoded bytes and full-decode / WAND
  * latencies -- the measurement behind the default-codec choice (BENCH.md
  * records the results). Builds interleave round-robin across
  * `buildReps` rounds (best counts), so JIT warm-up and slow host drift
  * hit every codec equally. args: <sfDir> [reps] [buildReps]
  * (SPARK_GRAFT_REPL replicates the corpus for a longer build, default 10)
  */
object CodecBenchMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, rest @ _*) = args: @unchecked
    val reps = rest.headOption.map(_.toInt).getOrElse(3)
    val buildReps = rest.lift(1).map(_.toInt).getOrElse(1)
    val spark = Cli.session("graft-codecBench")
    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "10").toInt
    val corpus = graft.Bench.replicatedCorpus(spark, sfDir, repl).cache()
    val nDocs = corpus.count()
    val codecs = Seq("varint", "gamma", "rice", "simple8b", "pfor", "huffman")
    val bestBuild = scala.collection.mutable.Map.empty[String, Double]
    val lastDir = scala.collection.mutable.Map.empty[String, String]
    val shm = java.nio.file.Paths.get("/dev/shm")
    for (_ <- 1 to buildReps; codec <- codecs) {
      graft.core.AnalysisCacheReset.reset()
      val dir = (if (java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, s"graft_cb_$codec")
      else java.nio.file.Files.createTempDirectory(s"graft_cb_$codec")).toString
      val t0 = System.nanoTime()
      IndexBuilder.build(spark, corpus, dir, numShards = 1, doclistCodec = codec)
      val dps = nDocs / ((System.nanoTime() - t0) / 1e9)
      if (dps > bestBuild.getOrElse(codec, 0.0)) bestBuild(codec) = dps
      lastDir.get(codec).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      lastDir(codec) = dir
    }
    println(f"${"codec"}%-10s ${"build_docs_s"}%12s ${"block_bytes"}%12s ${"bytes/post"}%10s ${"decode_ms"}%10s ${"wand_ms"}%8s")
    for (codec <- codecs) {
      val dir = lastDir(codec)
      val r = new IndexReader(spark, dir)
      val enc = spark.read.parquet(s"$dir/blocks")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("doc_deltas")) +
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("tfs")) +
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("dls")) +
          org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("positions"))))
        .head().getLong(0)
      val nPost = spark.read.parquet(s"$dir/stats").head().getAs[Long]("n_postings")
      def time(f: => Unit): Double = {
        f // warm
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
        }
        ts.min
      }
      val decodeMs = time(r.decode(r.blocks).count())
      val wandMs = time(r.topKOrWand(Seq("spark", "hash", "merge"), 10).count())
      println(f"$codec%-10s ${bestBuild(codec)}%12.0f $enc%12d ${enc.toDouble / nPost}%10.2f $decodeMs%10.1f $wandMs%8.1f")
    }
    spark.stop()
  }
}

/** sortWordidsFile analog (reference tool of the same name: the external
  * sort step between words2wordids and buildIndex, applications/Makefile:
  * 313-320): globally sort a (doc_id, term_id, ...) wordids relation by
  * (term_id, doc_id) -- the posting order the index builder consumes --
  * with exact duplicate rows removed (sortWordidsFile.cpp:16-19 writes
  * "sorted pairs, with duplicates removed").
  * repartitionByRange + sortWithinPartitions IS the distributed external
  * sort; the written files are range-partitioned and sorted, so a
  * downstream consumer can stream them in global order (the stxxl
  * main-memory budget knob maps to the partition count).
  * args: <wordidsParquet> <outParquet> [partitions]
  */
object SortWordidsFileMain {
  def main(args: Array[String]): Unit = {
    val Array(inPath, outPath, rest @ _*) = args: @unchecked
    val spark = Cli.session("graft-sortWordidsFile")
    import org.apache.spark.sql.functions._
    val in = spark.read.parquet(inPath)
    val nPart = rest.headOption.map(_.toInt)
      .getOrElse(spark.sessionState.conf.numShufflePartitions)
    in.distinct()
      .repartitionByRange(nPart, col("term_id"), col("doc_id"))
      .sortWithinPartitions(col("term_id"), col("doc_id"))
      .write.mode("overwrite").parquet(outPath)
    spark.stop()
  }
}

/** Batch query driver (answerQueries analog, answerQueries.cpp:19-60):
  * reads one query per line and serves it from the block index through
  * IndexExecutor -- `or:a,b,c` as the query `a|b|c`, `prefix:p` as `p*`,
  * anything else parsed as the FULL reference grammar -- repeats -r times,
  * prints per-query latency stats.
  *
  * Flags (anywhere in the arg list):
  *   -p   prefix-chain typing simulation (reference `-p`): each grammar
  *        query's LAST word is issued as the typing chain `w[0..1]*`,
  *        `w[0..2]*`, ..., full word -- through the serving-session
  *        history, so each extension filters the cached relation instead
  *        of re-scanning blocks; cache hit/filter/miss counters printed.
  *   -H   turn the history OFF (reference `-H` history control).
  */
object AnswerQueriesMain {

  /** The typing chain for a grammar query: prefixes of its last word,
    * shortest first, ending with the query as typed (reference `-p`,
    * answerQueries.cpp:19-60).
    */
  def chainOf(q: String): Seq[String] = {
    val at = q.lastIndexOf(' ')
    val (head, last0) = if (at < 0) ("", q) else (q.substring(0, at + 1), q.substring(at + 1))
    val last = last0.stripSuffix("*")
    // skip steps whose prefix ends on a separator ("batch." -> "batch.*"
    // would be an empty-prefix scan of the whole dictionary)
    (1 until last.length)
      .filterNot(n => graft.core.Tokenizer.isSeparator(last.charAt(n - 1)))
      .map(n => s"$head${last.take(n)}*") :+ q
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(a => a == "-p" || a == "-H").toSet
    val pos = args.filterNot(a => a == "-p" || a == "-H")
    val Array(indexDir, queriesFile, rest @ _*) = pos: @unchecked
    val k = rest.headOption.map(_.toInt).getOrElse(10)
    val reps = rest.lift(1).map(_.toInt).getOrElse(1)
    val spark = Cli.session("graft-answerQueries")
    // query-only workload: AQE re-optimization overhead not worth it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val reader = new IndexReader(spark, indexDir)
    reader.vocabulary.size
    val cache =
      if (flags("-H")) None else Some(new graft.query.IndexQueryCache())
    def answer(q: String): Long = graft.query.IndexExecutor.topK(reader, q, k,
      cache = cache.getOrElse(graft.query.QueryHistory.default)).count()
    val queries = scala.io.Source.fromFile(queriesFile).getLines().filter(_.nonEmpty).toSeq
    // -p simulates typing for GRAMMAR lines only; the or:/prefix: special
    // syntaxes are not queries a user types incrementally
    val toRun =
      if (flags("-p")) queries.flatMap { q =>
        if (q.startsWith("or:") || q.startsWith("prefix:")) Seq(q) else chainOf(q)
      } else queries
    val stats = toRun.map { q =>
      val lat = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n =
          if (q.startsWith("or:")) answer(q.drop(3).split(',').mkString("|"))
          else if (q.startsWith("prefix:")) answer(q.drop(7) + "*")
          else answer(q)
        (n, (System.nanoTime() - t0) / 1e6)
      }
      (q, lat.head._1, lat.map(_._2).min, lat.map(_._2).sum / lat.size)
    }
    println(f"${"query"}%-30s ${"hits"}%6s ${"best_ms"}%10s ${"avg_ms"}%10s")
    stats.foreach { case (q, n, best, avg) => println(f"$q%-30s $n%6d $best%10.1f $avg%10.1f") }
    cache.foreach { c =>
      println(s"history: hits=${c.hits} filtered=${c.filteredHits} misses=${c.misses}")
    }
    spark.stop()
  }
}

/** filterQueriesByVolume analog (reference
  * filterQueriesByVolume.cpp:19-113): expand each query into its typing
  * chain (every character step, spaces skipped), compute the volume of the
  * last word's prefix (sum of df over the prefix's word range -- the
  * reference sums nofDocs over prefixToRange), and print the steps whose
  * volume is WITHIN the threshold; over-threshold steps go to stderr.
  * All distinct prefixes resolve in ONE dictionary job (broadcast
  * prefix-range join), not one scan per step.
  *
  * args: <indexDir> <queriesFile> <volumeThreshold>
  */
object FilterQueriesByVolumeMain {
  /** Typing-chain steps of a query line (reference: every char position,
    * space positions skipped), each with its last-word prefix.
    */
  private[graft] def steps(query: String): Seq[(String, String)] =
    (1 to query.length).filter(j => query.charAt(j - 1) != ' ').map { j =>
      val q = query.substring(0, j)
      (q, q.substring(q.lastIndexOf(' ') + 1))
    }

  def main(args: Array[String]): Unit = {
    val Array(indexDir, queriesFile, thr) = args: @unchecked
    val threshold = thr.toLong
    val spark = Cli.session("graft-filterQueriesByVolume")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val reader = new IndexReader(spark, indexDir)
    val queries = scala.io.Source.fromFile(queriesFile).getLines()
      .map(_.trim).filter(_.nonEmpty).toSeq
    val all = queries.flatMap(steps)
    val prefixes = all.map(_._2).distinct
    val volumes: Map[String, Long] = reader.dictionary
      .join(broadcast(prefixes.toDF("prefix")),
        col("term").startsWith(col("prefix")))
      .groupBy(col("prefix")).agg(sum(col("df")).as("volume"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    all.foreach { case (q, p) =>
      val v = volumes.getOrElse(p, 0L)
      if (v > threshold)
        System.err.println(s"""! prefix "$p" of query "$q" has volume $v > $threshold""")
      else println(q)
    }
    spark.stop()
  }
}

/** buildIndex for CSV/XML databases (reference: parser step + buildIndex,
  * applications/Makefile:231-320): parse the input with field roles, then
  * [[graft.index.IndexBuilder.buildFromWords]] -- the resulting directory
  * serves the full grammar, facet completions and the completion server
  * with no corpus table.
  *
  * args: [-e <encoding>] <csv|xml|jsonl> <inputPath> <indexDir> <fieldSpec>...
  * fieldSpec = name[:role[,role...]] with roles fulltext|show|facet|
  * filter|ordering (e.g. `Titel:fulltext,show` `Autor:facet`).
  * `-e` is the reference's legacy-charset surface (StringConverter.h
  * loads iso8859-1.map beside utf8.map): CSV lines decode with the
  * given charset (XML reads its own prolog declaration; the flag is
  * ignored there).
  */
object BuildFromDatabaseMain {
  private[graft] def parseFieldSpec(s: String): graft.core.CsvField = {
    val (name, roles) = s.indexOf(':') match {
      case -1 => (s, Seq("fulltext"))
      case i => (s.substring(0, i), s.substring(i + 1).split(',').toSeq)
    }
    roles.foldLeft(graft.core.CsvField(name)) { (f, r) =>
      r.trim match {
        case "fulltext" => f.copy(fulltext = true)
        case "show" => f.copy(show = true)
        case "facet" => f.copy(facet = true)
        case "filter" => f.copy(filter = true)
        case "ordering" => f.copy(ordering = true)
        case other => throw new IllegalArgumentException(s"unknown field role: $other")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val (encoding, rest) = args.toSeq match {
      case Seq("-e", enc, tail @ _*) => (enc, tail)
      case other => ("UTF-8", other)
    }
    val Seq(format, inputPath, indexDir, fieldSpecs @ _*) = rest: @unchecked
    require(fieldSpecs.nonEmpty, "at least one fieldSpec required")
    val fields = fieldSpecs.map(parseFieldSpec)
    val spark = Cli.session("graft-buildFromDatabase")
    val (words, docs) = format match {
      case "csv" => graft.core.CsvIngest.parse(spark, inputPath, fields,
        encoding = encoding)
      case "xml" => graft.core.XmlIngest.parse(spark, inputPath, fields)
      case "jsonl" => graft.core.JsonlIngest.parse(spark, inputPath, fields)
      case other => throw new IllegalArgumentException(s"format must be csv|xml|jsonl, got $other")
    }
    val manifest = IndexBuilder.buildFromWords(spark, words, indexDir)
    // docs store from the show fields, so excerpts/urls serve from the
    // index dir (text = show fields joined; url = first show field)
    val showCols = fields.filter(_.show).map(_.name)
    if (showCols.nonEmpty) {
      import org.apache.spark.sql.functions._
      IndexBuilder.buildDocsStore(spark,
        docs.select(col("doc_id"),
          col(showCols.head).as("url"),
          concat_ws(" ", showCols.map(col): _*).as("text")), indexDir)
    }
    manifest.show(100, truncate = false)
    spark.stop()
  }
}
