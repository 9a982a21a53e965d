package graft.index

import org.apache.spark.sql.functions._

/** Internal-consistency figures of a built index: the per-partition
  * lineage table (`metrics/`) must account for exactly what the blocks and
  * the stats hold. The figures come from the persisted metrics table, not
  * the manifest, because a resumed build rewrites the manifest with -1 for
  * the shards it skipped.
  *
  * @param partitionPostings   sum of `n_postings` over every build partition
  * @param decodedPostings     sum of tf over every decoded posting
  * @param statsPostings       `stats.n_postings`, which counts real words
  *                            only (no ':' namespaced or normalized terms)
  * @param decodedWordPostings sum of tf over the decoded postings of real words
  * @param shardBlocks         shard -> sum of `n_blocks` over its partitions
  * @param blockRows           shard -> rows of the blocks relation
  * @param skewRatios          shard -> max / mean postings per partition
  */
final case class MetricsCheck(partitionPostings: Long, decodedPostings: Long,
                              statsPostings: Long, decodedWordPostings: Long,
                              shardBlocks: Map[String, Long],
                              blockRows: Map[String, Long],
                              skewRatios: Map[String, Double]) {

  /** Every broken invariant, named; empty when the index is consistent. */
  def violations: Seq[String] = {
    val postings =
      (if (partitionPostings != decodedPostings)
        Seq(s"partition n_postings sum $partitionPostings != decoded postings $decodedPostings")
      else Nil) ++
      (if (statsPostings != decodedWordPostings)
        Seq(s"stats.n_postings $statsPostings != decoded word postings $decodedWordPostings")
      else Nil)
    val blocks = (shardBlocks.keySet ++ blockRows.keySet).toSeq.sorted.flatMap { s =>
      val (m, b) = (shardBlocks.getOrElse(s, 0L), blockRows.getOrElse(s, 0L))
      if (m != b) Some(s"shard $s: partition n_blocks sum $m != blocks rows $b") else None
    }
    val skew = skewRatios.toSeq.sortBy(_._1).collect {
      case (s, r) if !(r >= 1.0) => s"shard $s: skew ratio $r < 1"
    }
    postings ++ blocks ++ skew
  }

  /** One line for the gate's output. */
  def summary: String =
    s"postings partitions=$partitionPostings decoded=$decodedPostings " +
      s"stats=$statsPostings decoded_words=$decodedWordPostings; " +
      s"blocks ${shardBlocks.toSeq.sorted.map { case (s, n) => s"$s:$n" }.mkString(",")}; " +
      f"skew max ${if (skewRatios.isEmpty) 0.0 else skewRatios.values.max}%.3f"
}

object MetricsCheck {

  /** The figures of the index behind `reader` (three small metadata reads
    * and one decode of every block).
    */
  def of(reader: IndexReader): MetricsCheck = {
    val spark = reader.spark
    val metrics = spark.read.parquet(s"${reader.dir}/metrics")
      .select(col("shard").cast("string").as("shard"), col("n_blocks"), col("n_postings"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byShard = metrics.groupBy(_._1)
    val skew = byShard.collect { case (s, rows) if rows.map(_._3).sum > 0 =>
      val ps = rows.map(_._3)
      s -> ps.max.toDouble / (ps.sum.toDouble / ps.length)
    }
    val statsPostings = spark.read.parquet(s"${reader.dir}/stats")
      .select(col("n_postings")).head().getLong(0)
    val blockRows = reader.blocks.groupBy(col("shard").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val decoded = reader.decode(reader.blocks)
      .join(broadcast(reader.dictionary.select(col("term_id"), col("term"))), "term_id")
      .agg(coalesce(sum(col("tf")), lit(0L)),
        coalesce(sum(when(!col("term").contains(":"), col("tf"))), lit(0L)))
      .head()
    MetricsCheck(
      partitionPostings = metrics.map(_._3).sum,
      decodedPostings = decoded.getLong(0),
      statsPostings = statsPostings,
      decodedWordPostings = decoded.getLong(1),
      shardBlocks = byShard.map { case (s, rows) => s -> rows.map(_._2).sum },
      blockRows = blockRows,
      skewRatios = skew)
  }
}
