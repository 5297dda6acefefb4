package graft.perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is (name, layer,
  * start, end, parent, op id); the benchmark opens spans only around its
  * own calls into each layer's public functions, never inside the
  * program. Disabled, `span` is a plain call.
  */
object Trace {
  final case class Span(id: Int, name: String, layer: String, startNs: Long,
      endNs: Long, parent: Int, op: Int)

  @volatile var enabled = false
  @volatile var currentOp = -1
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.synchronized { spans += null; spans.length - 1 }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans(id) = Span(id, name, layer, t0, t1, parent, currentOp) }
      }
    }

  /** Adds a finished span recorded elsewhere (endpoint requests). */
  def add(name: String, layer: String, startNs: Long, endNs: Long, parent: Int, op: Int): Unit =
    spans.synchronized { spans += Span(spans.length, name, layer, startNs, endNs, parent, op) }

  def all: Vector[Span] = spans.synchronized(spans.iterator.filter(_ != null).toVector)

  /** Span id of the innermost benchmark span of `op` covering `t`. */
  def innermost(op: Int, t: Long): Int = {
    val c = all.filter(s => s.op == op && s.layer != "core" && s.startNs <= t && t <= s.endNs)
    if (c.isEmpty) -1 else c.maxBy(_.startNs).id
  }

  /** Self time (span minus the union of its children) summed per layer. */
  def selfTimeByLayer(): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val ch = kids.getOrElse(s.id, Vector.empty).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        (s.endNs - s.startNs - unionNs(ch)).max(0L).toDouble
      }.sum / 1e6
    }
  }

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def write(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
      w.newLine()
    } finally w.close()
  }
}
