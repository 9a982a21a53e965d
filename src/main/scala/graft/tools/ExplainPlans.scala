package graft.tools

import graft.core.WebCorpus
import graft.{FtQueries, IndexQueries}

/** Dumps formatted physical plans for the load-bearing queries so pruning /
  * pushdown / codegen claims can be inspected (dev tool, not in the driver
  * contract), on [[graft.Bench.session]]. The plans a gate of
  * `SparkEntry.queries` executes come from `Measure gates <gate> --plans
  * <dir>`.
  *
  *   sbt "runMain graft.tools.ExplainPlans <sfDir>"
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Bench.session()

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    show("ft_bm25_single (logical path)", FtQueries.bm25Single(spark, sfDir))
    val r = IndexQueries.reader(spark, sfDir)
    // shows parquet PartitionFilters / PushedFilters
    show("index: pruned block scan for prefix range (parquet)", {
      val Some(run) = r.prefixRange("st")
      r.blocksForIdRuns(Seq(run))
    })
    show("index: OR top-k over blocks (spark|hash)",
      graft.query.IndexExecutor.topK(r, "spark|hash", 10))
    show("corpus scan column pruning", {
      graft.core.Analysis.docTerms(WebCorpus.fromDocuments(spark, sfDir)).toDF()
    })
    show("qpix: grammar atom over blocks (prefix st*)",
      graft.query.IndexExecutor.topK(r, "spark st*", 10))
    show("qpix: fuzzy atom over blocks (spak~, resident candidates)",
      graft.query.IndexExecutor.topK(r, "spak~", 10))

    // round 3: scattered candidate set -> exact-run pruning (bucket IN-list
    // + per-run BETWEEN disjunction reach the scan; the [min,max] hull of
    // batch|stream spans most of the dictionary)
    import graft.query.QueryParser.{OrAtoms, Word}
    val src = new graft.query.IndexAtomSource(r)
    show("qpix: scattered OR atom (batch|stream*) -> exact-run pruned scan",
      src.prunedBlocks(OrAtoms(Seq(Word("batch"), Word("stream", prefix = true)))).get)

    // round 3: decode-once -- the chain query's plan references each atom's
    // PERSISTED relation (InMemoryRelation per atom, ONE Generate each)
    // instead of 2-3 scan+decode subplans per atom
    show("qpix: 3-part chain, decode-once (InMemoryRelation per atom)",
      graft.query.IndexExecutor.topK(r, "stream.table.hash", 10))

    // round 3: serving-session history -- schedul*-after-schedu* pattern:
    // the narrower prefix plans as a Filter over the cached atom relation
    val cache = new graft.query.IndexQueryCache()
    graft.query.IndexExecutor.topK(r, "st*", 10, cache = cache).collect()
    show("qpix: history filter (sta* after st*) -- no block scan below the filter",
      graft.query.IndexExecutor.topK(r, "sta*", 10, cache = cache))

    // round 4: f= pagination -- sort + offset + limit must fold into ONE
    // TakeOrdered of (firstHit + k) rows, not a global sort
    show("qpix: f= pagination (hits 20..29 of the total order)",
      graft.query.IndexExecutor.hits(r, "spark", 10,
        graft.query.QueryParams(firstHit = 20)))

    // round 4: BY_PREFIXES block formation -- boundary buckets prune like
    // fixed-width ones (PartitionFilters on the bucket dir column)
    val bpDir = java.nio.file.Files.createTempDirectory("graft_plans_bp").toString
    graft.index.IndexBuilder.build(spark, WebCorpus.fromDocuments(spark, sfDir),
      bpDir, numShards = 1, prefixBoundaries = Seq("g", "s"))
    val rBp = new graft.index.IndexReader(spark, bpDir)
    show("index: BY_PREFIXES pruned scan for prefix range (boundary buckets)", {
      val Some(run) = rBp.prefixRange("st")
      rBp.blocksForIdRuns(Seq(run))
    })
    show("ops: cu_thresholds histogram form (no ObjectHashAggregate)",
      graft.ops.Curation.qualityThresholds(
        spark.read.parquet(s"$sfDir/documents.parquet")))
    spark.stop()
  }
}
