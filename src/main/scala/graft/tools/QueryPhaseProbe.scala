package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: split a gate's COLD in-process cost into Catalyst phases
  * (driver-side, single-threaded) vs execution (cluster-side), via
  * QueryPlanningTracker + stepwise forcing of the QueryExecution stages.
  * Answers "is the per-gate floor plan-time or run-time?" for the
  * optimization round's 'Not yet optimized' accounting.
  *
  * A Dataset analyzes its plan when it is constructed, so `build=`
  * includes analysis (the tracker's `analysis=` phase shows its share).
  * `exec(noop)=` runs the plan into the noop sink [[graft.BenchExtra]]
  * times with: every column of every row, no output cost -- `count()`
  * would let Catalyst prune columns and understate execution.
  *
  *   SPARK_GRAFT_ONLY=dd_jaccard_pairs SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.QueryPhaseProbe"
  */
object QueryPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
      builder.config("spark.local.dir", s"/dev/shm/graft-bench-local")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // session warm-up, mirroring Bench's absorb job
    scala.util.Try {
      val wdocs = spark.read.parquet(s"$sfDir/documents.parquet")
      wdocs.join(org.apache.spark.sql.functions.broadcast(
        wdocs.groupBy("source").count()), "source").count()
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
        for (rep <- 1 to reps) {
          def ms[A](f: => A): (A, Double) = {
            val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
          }
          val (df, tBuild) = ms(fn(spark, sfDir))
          val qe = df.queryExecution
          val (_, tOptimize) = ms(qe.optimizedPlan)
          val (_, tPhysical) = ms(qe.executedPlan)
          val (_, tExec) = ms(df.write.format("noop").mode("overwrite").save())
          val tracker = qe.tracker.phases.map { case (k, v) =>
            f"$k=${v.durationMs}ms"
          }.mkString(" ")
          println(f"[phase] $name rep=$rep build=$tBuild%.0f " +
            f"optimize=$tOptimize%.0f physical=$tPhysical%.0f exec(noop)=$tExec%.0f ms | $tracker")
        }
      }
    scala.util.Try(spark.stop())
  }
}
