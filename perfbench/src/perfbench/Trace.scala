package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer; times are System.nanoTime. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      end: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans around the benchmark's own calls into each layer, held in memory
  * and written out when the run ends. Disabled, `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  /** Parent for spans opened on other threads (the op-runner thread runs
    * calls issued from the main thread's open span).
    */
  @volatile private var inherited: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val enter = System.nanoTime()
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(inherited)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
        overheadNs.addAndGet((t0 - enter) + (System.nanoTime() - t1))
      }
    }

  /** Time spent in span bookkeeping itself. */
  val overheadNs = new java.util.concurrent.atomic.AtomicLong

  /** The caller's open span, handed to the op-runner thread, whose spans
    * then nest under it (`inheritParent`).
    */
  def currentParent: Int = stack.get.headOption.getOrElse(inherited)
  def inheritParent(p: Int): Unit = inherited = p

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time summed per layer (span-name prefix), in ms. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val self = Stats.selfTimes(ss)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => self(s.id)).sum / 1e6
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":""")
        .append(Json.str(s.name))
        .append(s""","start_ns":${s.start},"end_ns":${s.end}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
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

  /** Every digit as measured: plain decimal, no exponent for the
    * magnitudes the benchmark reports.
    */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  }
}
