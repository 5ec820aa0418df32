package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed interval at a boundary the benchmark crosses. Times are
  * microseconds since the run's origin; `parent` is "" for a root. */
final case class Span(id: String, parent: String, layer: String, name: String,
                      startUs: Long, endUs: Long)

/** Spans kept in memory and written when the run ends. A span opened
  * with [[span]] also becomes the `graftbench.span` SparkContext local
  * property of the calling thread, so the Spark jobs it starts (and the
  * tasks of those jobs) can name it as their parent. `graftbench.op`
  * carries the counter key that [[Probes]] attributes job and task
  * metrics to; it is set even with tracing off, where nothing reads it. */
object Trace {
  val SpanProperty = "graftbench.span"
  val OpProperty = "graftbench.op"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[String] { override def initialValue(): String = "" }

  def attach(ctx: SparkContext): Unit = sc = ctx
  def nowUs: Long = (System.nanoTime() - originNs) / 1000
  /** Listener events carry wall-clock millis; map them onto the span clock. */
  def wallMsToUs(ms: Long): Long = (ms - originMs) * 1000
  def nextId(prefix: String): String = prefix + ids.incrementAndGet()
  def record(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def span[T](layer: String, name: String, op: String = null)(body: => T): T = {
    val prevOp = if (sc != null) sc.getLocalProperty(OpProperty) else null
    if (op != null && sc != null) sc.setLocalProperty(OpProperty, op)
    try {
      if (!enabled) body
      else {
        val id = nextId("b")
        val parent = current.get
        current.set(id)
        if (sc != null) sc.setLocalProperty(SpanProperty, id)
        val t0 = nowUs
        try body
        finally {
          spans.add(Span(id, parent, layer, name, t0, nowUs))
          current.set(parent)
          if (sc != null) sc.setLocalProperty(SpanProperty, if (parent.isEmpty) null else parent)
        }
      }
    } finally if (op != null && sc != null) sc.setLocalProperty(OpProperty, prevOp)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
