package perfbench

import org.apache.spark.SparkContext

/** In-memory span recorder for the traced run. Spans are opened by the
  * benchmark around its calls into each layer's public functions; their
  * name's prefix up to the first '.' is the layer. The active span's name is
  * also set as a Spark local property, so the listener can attribute every
  * job to the span that submitted it (local properties are inherited by
  * threads the driver starts, such as a streaming query's).
  *
  * With tracing off `span` only runs its body: no timing, no property.
  */
final class Tracer(val enabled: Boolean, workload: String, sc: SparkContext) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  def span[T](name: String, parent: Option[Int] = None)(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val par = parent.getOrElse(stack.get.headOption.getOrElse(-1))
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.SpanProperty, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, par, name, workload, t0, t1) }
      }
    }

  /** Record a span measured elsewhere (e.g. from a progress report), under
    * `parent`; spans of the same parent that lie inside it become its
    * children.
    */
  def record(name: String, parent: Int, start: Long, end: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      val id = nextId
      spans.mapInPlace(s =>
        if (s.parent == parent && s.start >= start && s.end <= end) s.copy(parent = id) else s)
      spans += Span(id, parent, name, workload, start, end)
    }

  /** Id of the innermost open span on this thread (-1 at the root). */
  def current: Int = stack.get.headOption.getOrElse(-1)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans as JSON lines: id, parent, name, workload, start/end (ms from the
    * first span), self time.
    */
  def toJsonLines: Seq[String] = {
    val sp = all.sortBy(_.start)
    val t0 = sp.headOption.map(_.start).getOrElse(0L)
    val self = Stats.selfTimes(sp)
    sp.map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","workload":"${s.workload}",""" +
        f""""start_ms":${(s.start - t0) / 1e6}%.3f,"end_ms":${(s.end - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id) / 1e6}%.3f}""")
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
