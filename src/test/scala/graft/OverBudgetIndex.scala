package graft

import graft.index.IndexBuilder

/** An index with one prefix past the driver's postings budget, built once
  * per test JVM and shared by the specs that need a distributed fallback.
  *
  * 2,700 docs, each `wort` plus 100 distinct words out of `h000`..`h999`
  * (doc i holds h[(i + 10j) mod 1000] for j < 100), so every `h` word has
  * df 270 and `h*` matches 270,000 postings, past
  * [[graft.index.IndexReader.MaxLocalPostingsPerQuery]] (262,144). Each of `h0*` ..
  * `h9*` matches 27,000 postings, so one of them serves locally while all
  * ten together pass the per-query budget. Has a docs store with urls
  * (`u<doc_id>`).
  */
object OverBudgetIndex {
  val Docs = 2700
  val PrefixPostings = 270000L

  lazy val dir: String = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_over_budget").toString
    val docs = (0 until Docs).map(i => (i.toLong, "wort " +
      (0 until 100).map(j => f"h${(i + 10 * j) % 1000}%03d").mkString(" ")))
      .toDF("doc_id", "text")
    IndexBuilder.build(spark, docs, d, numShards = 1)
    IndexBuilder.buildDocsStore(spark,
      docs.withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("u"), $"doc_id")), d)
    d
  }
}
