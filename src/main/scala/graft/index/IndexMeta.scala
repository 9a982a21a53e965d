package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** What an index directory records about its build, each part read on
  * first use: the stats row (with the defaults of indexes built before a
  * field existed) and the BY_PREFIXES cut ids. The builder, the readers
  * and the streaming delta writer all read it here, so a delta shard
  * follows the layout the readers prune by. Files are probed through the
  * Hadoop FileSystem API: a `file:`, `hdfs://` or `s3a://` dir works too.
  */
final class IndexMeta(spark: SparkSession, dir: String) extends Serializable {

  private lazy val statsRow = spark.read.parquet(s"$dir/stats").head()
  private def has(field: String): Boolean = statsRow.schema.fieldNames.contains(field)

  lazy val nDocs: Long = statsRow.getAs[Long]("n_docs")
  lazy val avgdl: Double = statsRow.getAs[Double]("avgdl")

  /** Dictionary size; None on indexes built before it was recorded. */
  lazy val vocabSize: Option[Long] = Option.when(has("vocab_size"))(statsRow.getAs[Long]("vocab_size"))

  /** Bucket width the index was built with. */
  lazy val bucketSize: Long =
    if (has("bucket_size")) statsRow.getAs[Long]("bucket_size")
    else IndexBuilder.DefaultBucketSize.toLong

  /** Block codec the index was built with (varint before codec families). */
  lazy val doclistCodec: Int =
    Codec.idOf(if (has("doclist_codec")) statsRow.getAs[String]("doclist_codec") else "varint")

  /** false = positions-off index (storePositions=false): windows refuse. */
  lazy val hasPositions: Boolean =
    !has("store_positions") || statsRow.getAs[Boolean]("store_positions")

  /** BY_PREFIXES boundary cut ids, when the index was built with
    * prefix-boundary block formation (HYBIndex.cpp:247-264 analog): sorted
    * first-term-ids of each boundary group, loaded once (tiny).
    */
  lazy val prefixCuts: Option[Array[Long]] =
    Option.when(IndexMeta.exists(spark, s"$dir/boundaries/_SUCCESS")) {
      import spark.implicits._
      spark.read.parquet(s"$dir/boundaries").select(col("cut_id")).as[Long].collect().sorted
    }
}

object IndexMeta {
  /** True iff `path` exists, probed through the Hadoop FileSystem of its
    * scheme; false when the probe fails.
    */
  def exists(spark: SparkSession, path: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case _: Throwable => false }
}
