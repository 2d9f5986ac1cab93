package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory}

import org.apache.spark.SparkContext
import org.apache.spark.sql.perfbench.StageLog

/** Span recorder for the traced run. A span is (id, name, parent, cycle,
  * start, end) with times in epoch milliseconds, the clock Spark stamps
  * its listener events with. While a span is open its id is the client
  * thread's `perfbench.span` local property, so jobs the thread submits
  * carry it. Recording is off unless `on` is set; an untraced run pays
  * one branch per span.
  */
final class Trace(sc: SparkContext) {
  var on = false
  var cycle = -1
  // anchor the nanosecond clock at a millisecond tick, so span times and
  // listener event times agree to well under a millisecond
  private val (baseMs, baseNs) = {
    val t = System.currentTimeMillis()
    while (System.currentTimeMillis() == t) {}
    (System.currentTimeMillis().toDouble, System.nanoTime())
  }
  val spans: ArrayNode = JsonNodeFactory.instance.arrayNode()
  val counters: ArrayNode = JsonNodeFactory.instance.arrayNode()
  private var open = List.empty[(Long, String, Double)]
  private var nextId = 0L

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Open a span under the innermost open one; returns its id, or 0 when
    * recording is off. */
  def start(name: String): Long =
    if (!on) 0L
    else {
      nextId += 1
      open = (nextId, name, nowMs) :: open
      sc.setLocalProperty(StageLog.SpanKey, nextId.toString)
      nextId
    }

  /** Close span `id`, which must be the innermost open one. */
  def end(id: Long): Unit = if (id != 0L) {
    val (oid, name, t0) = open.head
    require(oid == id, s"span $name closed out of order")
    open = open.tail
    val parent = open.headOption.map(_._1).getOrElse(0L)
    sc.setLocalProperty(StageLog.SpanKey,
      open.headOption.map(_._1.toString).orNull)
    spans.addObject().put("id", id).put("name", name).put("parent", parent)
      .put("cycle", cycle).put("start", t0).put("end", nowMs)
  }

  def span[T](name: String)(body: => T): T = {
    val id = start(name)
    try body finally end(id)
  }

  /** A count or ratio measured at a layer boundary, kept per cycle. */
  def count(name: String, value: Double): Unit =
    counters.addObject().put("name", name).put("cycle", cycle).put("value", value)
}
