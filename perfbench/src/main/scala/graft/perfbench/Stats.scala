package graft.perfbench

/** Order statistics of a latency sample. */
object Stats {

  /** Nearest-rank value at quantile q in [0, 1] of a sorted sample (the
    * 1e-9 keeps q = k/n from rounding up to rank k+1).
    */
  def at(sorted: Array[Double], q: Double): Double =
    sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(q * sorted.length - 1e-9).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile, up to p99, that still has at least ten
    * samples beyond it, and its value. Below 11 samples no percentile has,
    * and the maximum is reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n < 11) return (100.0, s.last)
    val q = math.min(0.99, (n - 10).toDouble / n) // rank <= n-10: ten above it
    (100 * q, at(s, q))
  }
}

/** One timed call into a layer: `parent` is the id of the span that caused
  * it (-1 for a root); every span of one request carries its `req` id.
  */
final case class Span(id: Int, parent: Int, req: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children are counted once, and a child
    * reaching outside the parent only counts inside it).
    */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }
}

/** In-memory span recorder, written out once when the run ends. Spans are
  * appended from many client threads, so the buffer is synchronized; the
  * recorder is only created in traced runs.
  */
final class Trace {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Time `f` as a span named `name` of request `req`; nested calls on the
    * same thread become its children.
    */
  def span[A](req: Long, name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(-1)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      spans.synchronized(spans += Span(id, parent, req, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time of each span, by span id. */
  def selfTimes: Map[Int, Long] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map(p => p.id -> Span.selfNs(p, kids.getOrElse(p.id, Nil))).toMap
  }

  /** One JSON object per span. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"dur_ns":${s.durNs},"self_ns":${self(s.id)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
