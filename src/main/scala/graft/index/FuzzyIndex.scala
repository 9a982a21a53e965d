package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** FastSS deletion-neighborhood index for fuzzy word clustering
  * (reference: fuzzysearch/FastSS.cpp, BuildFuzzySearchClusters.cpp).
  *
  * Principle (Bocek et al., "Fast Similarity Search in Large Dictionaries"):
  * if ed(a, b) <= d then the deletion neighborhoods Dd(a) and Dd(b)
  * intersect, where Dd(x) = all strings obtained from x by deleting up to d
  * characters. So: index every vocabulary term under each of its deletion
  * variants (one narrow vocab-sized flatMap, written once); a self-join on
  * the variant gives every candidate pair, and edit distance is verified
  * on candidates only ([[wordClusters]]). Fuzzy query atoms do not use it:
  * they resolve from the resident vocabulary
  * ([[Vocabulary.withinEdits]]).
  */
object FuzzyIndex {

  /** Deletion neighborhood of `s` up to `d` deletions, including `s`. */
  def deletions(s: String, d: Int): Set[String] = {
    var cur = Set(s)
    var all = Set(s)
    var i = 0
    while (i < d) {
      cur = cur.flatMap(v => (0 until v.length).map(j => v.substring(0, j) + v.substring(j + 1)))
      all ++= cur
      i += 1
    }
    all
  }

  /** Build the (variant, term_id) table next to an index; idempotent.
    * meta is written BEFORE variants: variants/_SUCCESS is the existence
    * marker, so a crash between the writes can never leave an index with
    * variants whose meta read throws.
    */
  def build(spark: SparkSession, dir: String, maxDeletes: Int = 2): Unit = {
    import spark.implicits._
    val done = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/fuzzy/variants/_SUCCESS"))
    if (done) return
    val dict = spark.read.parquet(s"$dir/dictionary")
    val d = maxDeletes
    Seq(Tuple1(d)).toDF("max_deletes")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/fuzzy/meta")
    dict.select(col("term_id"), col("term")).as[(Long, String)]
      .flatMap { case (tid, term) => deletions(term, d).iterator.map(v => (v, tid)) }
      .toDF("variant", "term_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/fuzzy/variants")
  }

  /** The distance the variants table was built for. */
  def maxDeletes(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/fuzzy/meta").head().getInt(0)

  /** Fuzzy word clustering (reference: BuildFuzzySearchClusters.cpp +
    * WordClusteringBuilder, mode "only frequent words are cluster
    * centers" with capped memberships `-o/-i`): every vocabulary word is
    * assigned to the clusters of up to `maxClustersPerWord` FREQUENT
    * words (cf >= minFrequency) within edit distance `maxDist`,
    * preferring closer then more-frequent then lower-id centers. Rare
    * words with no frequent neighbor stay unclustered (the reference's
    * un-clustered rare words, unless -r).
    *
    * Spark shape instead of the reference's in-memory FastSS sweep: the
    * persisted (variant, term_id) deletion table joined against itself —
    * center side first reduced to the frequent terms — gives candidate
    * pairs by the FastSS theorem (ed(a,b) <= d implies shared deletion
    * variant); exact levenshtein runs on candidates only, then one
    * per-word window ranks and caps memberships. Vocabulary-scale
    * throughout (never per-posting), the same property the reference
    * gets from clustering the lexicon offline.
    *
    * Requires `build(...)` with maxDeletes >= maxDist (candidates from a
    * larger-d table are a superset — the exact filter makes the result
    * identical). Returns (cluster_id = center term_id, term_id, term,
    * dist).
    */
  def wordClusters(spark: SparkSession, dir: String, dictionary: DataFrame,
                   minFrequency: Long, maxDist: Int = 2,
                   maxClustersPerWord: Int = 2): DataFrame = {
    require(maxDeletes(spark, dir) >= maxDist,
      s"fuzzy variants built with maxDeletes < $maxDist")
    val variants = spark.read.parquet(s"$dir/fuzzy/variants")
    val dict = dictionary.select(col("term_id"), col("term"), col("cf"))
    val centerVars = variants
      .join(dict.filter(col("cf") >= minFrequency), "term_id")
      .select(col("variant"), col("term_id").as("cluster_id"),
        col("term").as("center"), col("cf").as("center_cf"))
    val wordVars = variants.join(dict.select(col("term_id"), col("term")), "term_id")
      .select(col("variant"), col("term_id"), col("term"))
    val cand = wordVars.join(centerVars, "variant")
      .select(col("cluster_id"), col("center"), col("center_cf"),
        col("term_id"), col("term"))
      .distinct()
      .withColumn("dist", levenshtein(col("term"), col("center")).cast("long"))
      .filter(col("dist") <= maxDist)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term_id"))
      .orderBy(col("dist").asc, col("center_cf").desc, col("cluster_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxClustersPerWord)
      .select(col("cluster_id"), col("term_id"), col("term"), col("dist"))
  }

  /** Persist clusters next to the index (the `<db>.fuzzysearch-clusters`
    * analog); idempotent per index build.
    */
  def buildClusters(spark: SparkSession, dir: String, minFrequency: Long,
                    maxDist: Int = 2, maxClustersPerWord: Int = 2): Unit = {
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/fuzzy/clusters/_SUCCESS"))) return
    val dict = spark.read.parquet(s"$dir/dictionary")
    wordClusters(spark, dir, dict, minFrequency, maxDist, maxClustersPerWord)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/fuzzy/clusters")
  }
}
