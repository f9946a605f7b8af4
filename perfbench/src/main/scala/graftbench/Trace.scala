package graftbench

import org.apache.spark.SparkContext

import scala.collection.mutable

/** One recorded span; times are epoch nanoseconds. Layer = the name's
  * prefix before the first '.'.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans around every call the benchmark makes into a module. Off (a
  * plain call) unless the run is traced. Spans are kept in memory and
  * written once when the run ends. A span's id is also set as a Spark
  * local property, so the engine listener can hang each job under the
  * span whose call started it.
  */
final class Trace(val on: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile var op: Long = -1L

  def now: Long = System.nanoTime() + epochBase

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      val prev = sc.getLocalProperty(Trace.SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(Trace.SpanProp, id.toString)
      val t0 = now
      try f
      finally {
        val t1 = now
        stack.set(parents)
        sc.setLocalProperty(Trace.SpanProp, prev)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0), op, name, t0, t1) }
      }
    }

  /** Module spans plus one `engine.job` span per Spark job, each job
    * a child of the span that was open on the thread that started it.
    */
  def all(engine: EngineListener): Seq[Span] = {
    val jobs = engine.synchronized(engine.jobSpans.toSeq)
    val byId = synchronized(spans.toSeq).map(s => s.id -> s).toMap
    val jobSpans = jobs.flatMap { case (parent, job, t0, t1) =>
      byId.get(parent).map(p =>
        Span(-job - 1, parent, p.op, "engine.job", t0 * 1000000L, t1 * 1000000L))
    }
    byId.values.toSeq.sortBy(_.start) ++ jobSpans
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  /** Self time per layer in seconds: each span's duration minus the
    * part of it its children cover. Jobs of one parent can run
    * concurrently, so the engine layer counts the union of its job
    * spans under each parent, not their sum.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val (jobs, module) = spans.partition(_.layer == "engine")
    val engine = jobs.groupBy(_.parent).values.map { js =>
      Stats.covered(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue) / 1e9
    }.sum
    module.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start - Stats.covered(ch, s.start, s.end)) / 1e9
      }.sum
    } + ("engine" -> engine)
  }

  def toJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest of p90, p99, p99.9 with at least ten samples beyond
    * it, if any: (percentile, value).
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 90.0).find(p => xs.size * (1000 - math.round(p * 10)) >= 10 * 1000)
      .map(p => (p, quantile(xs, p / 100)))

  /** Timing summary: median, the tail percentile, and the sample count. */
  def timing(xs: Seq[Double], unit: String): Map[String, Any] = {
    val base = Map[String, Any]("median" -> median(xs), "n" -> xs.size, "unit" -> unit,
      "samples" -> xs)
    tail(xs).fold(base) { case (p, v) => base ++ Map("tail_pct" -> p, "tail" -> v) }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Least-squares slope of ys over 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.size
    if (n < 2) 0.0
    else {
      val xm = (n - 1) / 2.0
      val ym = ys.sum / n
      val num = ys.indices.map(i => (i - xm) * (ys(i) - ym)).sum
      val den = ys.indices.map(i => (i - xm) * (i - xm)).sum
      num / den
    }
  }
}

/** Minimal JSON writer for the run artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
