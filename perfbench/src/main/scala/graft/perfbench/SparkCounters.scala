package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Spark work counted from outside the engine: a listener the benchmark
  * registers in traced runs. Jobs, tasks and SQL executions are grouped by
  * the job group they ran under -- the engine's HTTP server sets one per
  * request, and the benchmark sets its own around the calls it makes.
  *
  * SQL executions are also sorted into reader layers by the relation they
  * scan: a plan over the index `dictionary` only is a dictionary lookup
  * (a prefix range when it filters with StartsWith), a plain scan of
  * `blocks` is a block fetch, a scan of `docs` an excerpt-text fetch, and
  * any plan that aggregates, joins or sorts block rows is a distributed
  * evaluation.
  */
final class SparkCounters extends SparkListener {

  final class Agg {
    var jobs = 0L
    var tasks = 0L
    var schedDelayMs = 0L
    var shuffleWriteBytes = 0L
    var peakTaskMemBytes = 0L
    /** reader layer -> (executions, summed wall ms, task input bytes) */
    val layers = mutable.Map.empty[String, Array[Long]]
    def layer(k: String): Array[Long] = layers.getOrElseUpdate(k, Array(0L, 0L, 0L))
  }

  private val byGroup = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execStart = mutable.Map.empty[Long, (String, String, Long)]
  private val execKind = mutable.Map.empty[Long, String]

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    agg(g).jobs += 1
    e.stageIds.foreach { s =>
      stageGroup(s) = g
      exec.foreach(x => stageExec(s) = x)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val a = agg(g)
    a.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.peakTaskMemBytes = math.max(a.peakTaskMemBytes, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      for (x <- stageExec.get(e.stageId); k <- execKind.get(x))
        a.layer(k)(2) += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val kind = SparkCounters.classify(s.physicalPlanDescription)
      execKind(s.executionId) = kind
      execStart(s.executionId) = (s.jobGroupId.getOrElse(""), kind, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(s.executionId).foreach { case (g, kind, t0) =>
        val l = agg(g).layer(kind)
        l(0) += 1
        l(1) += s.time - t0
      }
    }
    case _ =>
  }

  /** Aggregate over every group whose id satisfies `p`. */
  def total(p: String => Boolean): Agg = synchronized {
    val t = new Agg
    byGroup.foreach { case (g, a) =>
      if (p(g)) {
        t.jobs += a.jobs; t.tasks += a.tasks; t.schedDelayMs += a.schedDelayMs
        t.shuffleWriteBytes += a.shuffleWriteBytes
        t.peakTaskMemBytes = math.max(t.peakTaskMemBytes, a.peakTaskMemBytes)
        a.layers.foreach { case (k, v) =>
          val l = t.layer(k); l(0) += v(0); l(1) += v(1); l(2) += v(2)
        }
      }
    }
    t
  }

  def jobsOf(g: String): Long = synchronized(byGroup.get(g).map(_.jobs).getOrElse(0L))

  /** Max over median task run time in the stage with the most tasks among
    * the groups matching `p` (1.0 when every task took as long).
    */
  def taskSkew(p: String => Boolean): Double = synchronized {
    val stages = stageTaskMs.filter { case (s, _) => stageGroup.get(s).exists(p) }
    if (stages.isEmpty) 0.0
    else {
      val ts = stages.maxBy { case (s, t) => (t.size, s) }._2.map(_.toDouble).toSeq
      val med = math.max(1.0, Stats.median(ts))
      math.max(1.0, ts.max) / med
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    // the bus offers no public flush; a finished zero-work job's end event
    // trails every earlier event on the same queue
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      @volatile var id = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "pb-drain"))
          id = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == id) done.countDown()
    }
    spark.sparkContext.addSparkListener(marker)
    spark.sparkContext.setJobGroup("pb-drain", "drain")
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    done.await(10, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(marker)
  }
}

object SparkCounters {
  def classify(plan: String): String = {
    val dict = plan.contains("/dictionary")
    val blocks = plan.contains("/blocks")
    val docs = plan.contains("/docs")
    val evaluates = Seq("Aggregate", "Join", "TakeOrdered", "Sort ").exists(plan.contains)
    if (blocks && (dict || evaluates)) "eval"
    else if (blocks) "block_fetch"
    else if (docs) "docs_fetch"
    else if (dict) { if (plan.contains("StartsWith")) "prefix_range" else "term_info" }
    else "other"
  }
}
