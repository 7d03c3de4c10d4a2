package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the span that was open
  * on the same thread when this one started (-1 at the root); `op` ties the
  * spans of one operation (request, query, drain) together.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span and counter recorder. Spans are kept until the run ends
  * and then dumped; nothing is written while the benchmark is timing.
  * A disabled tracer runs the wrapped code and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0
  @volatile var op: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { spans += Span(id, stack.headOption.getOrElse(-1), op, name, t0, t1) }
      }
    }

  /** Records a span measured elsewhere (a Spark job from the listener). */
  def add(name: String, parent: Int, op: Int, startNs: Long, endNs: Long): Unit =
    synchronized {
      nextId += 1
      spans += Span(nextId, parent, op, name, startNs, endNs)
    }

  def count(name: String, n: Double = 1): Unit =
    if (enabled) synchronized { counts(name) = counts.getOrElse(name, 0.0) + n }

  def all: Seq[Span] = synchronized(spans.toList)
  def counters: Map[String, Double] = synchronized(counts.toMap)

  /** Writes the spans as JSON lines: one span per line, then the counters. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""") ++
      counters.toSeq.map { case (k, v) => s"""{"counter":"$k","value":$v}""" }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {

  /** Self time per layer: each span's duration minus the part of it that its
    * child spans cover, summed by the layer its name starts with.
    */
  def selfTimeNs(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        s.durNs - Stats.unionLength(kids)
      }.sum
    }
  }

  /** The innermost span of `spans` open at time `t`, or None. */
  def innermostAt(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startNs <= t && t < s.endNs).sortBy(_.durNs).headOption
}
