package graft.streaming

import graft.core.Analysis
import graft.index.{IndexBuilder, IndexMeta}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Near-real-time index maintenance on top of the batch index.
  *
  * The reference index is immutable; its "real-time" behavior is the query
  * cache (README.md:63-70, History). A Spark-native engine can do better:
  * new documents arrive as a stream, each micro-batch is tokenized, joined
  * against the GLOBAL dictionary, encoded with the same block codec and
  * appended as an independent shard directory `blocks/shard=stream-<id>`.
  * IndexReader unions all shard dirs, so appended docs are queryable after
  * the micro-batch commits -- no rebuild, no reader restart.
  *
  * Terms unseen by the batch dictionary are skipped; the count of dropped
  * (doc, term) rows is persisted per shard under `drift/` so dictionary
  * drift is visible between rebuilds -- the periodic batch rebuild folds
  * them in; df/avgdl drift between rebuilds is the standard trade-off of
  * delta indexes.
  */
object StreamingIndexer {

  /** Start a streaming query that appends posting-block shards for each
    * micro-batch of corpus-shaped rows (doc_id, text, ...).
    */
  def start(spark: SparkSession, sourceDir: String, schema: org.apache.spark.sql.types.StructType,
            indexDir: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, indexDir, s"stream-$batchId")
      }
      .trigger(trigger)
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .start()
  }

  /** Encode one batch of docs as a new shard (idempotent per shard name:
    * parquet overwrite + _SUCCESS commit, like the batch shards).
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                  shardName: String): Unit = {
    import spark.implicits._
    if (batch.isEmpty) return
    val dict = spark.read.parquet(s"$indexDir/dictionary")
    // delta shards follow the batch index's build: the SAME codec, bucket
    // width and BY_PREFIXES cuts (reader pruning depends on them) and, on
    // a positions-off index, no positions (decode framing and the reader's
    // windowed-query refusal stay consistent across shards)
    val meta = new IndexMeta(spark, indexDir)
    val dt0 = Analysis.docTerms(batch).toDF()
    val dt = (if (meta.hasPositions) dt0
      else dt0.withColumn("positions",
        expr("array_repeat(0, cast(tf as int))"))).persist()
    val joined = dt.join(broadcast(dict.select(col("term"), col("term_id"))), "term")
      .select(col("term_id").cast("long"), col("doc_id"), col("tf"), col("positions"), col("dl"))

    // dictionary-drift lineage: rows whose term the batch dictionary does
    // not know are dropped by the inner join above; count and persist them
    // per shard so drift is observable before the next rebuild
    // the partition-style dir encodes the shard: a read of $indexDir/drift
    // gets `shard` via partition discovery, so the rows must NOT also carry
    // a shard data column (it would conflict with the inferred one)
    val dropped = dt.join(broadcast(dict.select(col("term"))), Seq("term"), "left_anti").count()
    Seq(Tuple1(dropped)).toDF("dropped_doc_terms")
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/drift/shard=$shardName")

    // delta shards use THE batch block encoder (IndexBuilder.encodeBlocks):
    // one codec/framing implementation for both write paths
    val sorted = joined
      .repartitionByRange(math.max(1, spark.sessionState.conf.numShufflePartitions / 4),
        col("term_id"), col("doc_id"))
      .sortWithinPartitions(col("term_id"), col("doc_id"))
      .as[(Long, Long, Long, Array[Int], Long)]
    val blocks = IndexBuilder.encodeBlocks(sorted, meta.avgdl,
      IndexBuilder.DefaultBlockSize, IndexBuilder.bucketFn(meta.bucketSize, meta.prefixCuts),
      meta.doclistCodec)
    blocks.write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$indexDir/blocks/shard=$shardName")
    dt.unpersist()
  }
}
