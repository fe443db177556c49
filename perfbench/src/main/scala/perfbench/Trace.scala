package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One recorded span. Times are epoch microseconds; `parent` is 0 for a
  * root span; `request` groups the spans of one pass.
  */
final case class SpanRec(
    id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long, request: String, attrs: Map[String, Any] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder, written out as JSONL once the run ends.
  *
  * The benchmark opens a span around each call it makes into a layer. The
  * open span's id is also set as the Spark local property [[SpanProp]] on
  * the calling thread, so a listener can make every Spark job a child of
  * the span that caused it. While disabled, `span` runs its body and
  * records nothing.
  */
final class Tracer(setLocalProperty: (String, String) => Unit) {
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val spans = new ArrayBuffer[SpanRec]
  private val names = new ConcurrentHashMap[Long, String]
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val baseNs = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String, request: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      names.put(id, name)
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      setLocalProperty(Tracer.SpanProp, id.toString)
      val start = nowUs
      try body
      finally {
        val end = nowUs
        open.set(stack)
        setLocalProperty(Tracer.SpanProp, if (parent == 0L) null else parent.toString)
        add(SpanRec(id, name, start, end, parent, request, attrs))
      }
    }

  def newId(): Long = nextId.getAndIncrement()
  def nameOf(id: Long): String = Option(names.get(id)).getOrElse("")
  def add(s: SpanRec): Unit = synchronized { spans += s }
  def all: Vector[SpanRec] = synchronized { spans.toVector }

  /** Self time per span: its duration minus the part of its interval that
    * its children cover.
    */
  def selfUs(all: Vector[SpanRec]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.iterator.map { s =>
      val iv = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durUs - covered)
    }.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val all = this.all
    val self = selfUs(all)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      w.write(Json.value(collection.immutable.ListMap[String, Any](
        "id" -> s.id, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "parent" -> s.parent, "request" -> s.request, "self_us" -> self(s.id),
        "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
