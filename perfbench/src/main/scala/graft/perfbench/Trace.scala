package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-side counters, summed over every job and task the session runs.
  * Registered by the benchmark only in a traced run. */
final class Counters extends SparkListener {
  private val c = Counters.Names.map(_ -> new AtomicLong).toMap
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("input_rows", m.inputMetrics.recordsRead)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "tasks", "task_ms", "input_rows",
    "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes")
}

/** One traced call into a layer. `op` groups the spans of one benchmark
  * operation (a query, an upsert, a compaction); `counters` are the Spark
  * counter deltas between the span's start and end. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, counters: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled, `span` is a plain call. Enabled, it records a
  * span around the call, with the listener counters read at the same
  * boundaries (the listener bus is drained first, so the counters belong to
  * the span that caused them). Spans stay in memory until [[write]]. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val counters = if (enabled) {
    val l = new Counters
    sc.addSparkListener(l)
    Some(l)
  } else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var op = 0

  def all: Seq[Span] = spans.toSeq

  /** Start a new operation; later spans carry its id. */
  def operation(): Int = { op += 1; op }

  private def read(): Map[String, Long] = counters.fold(Map.empty[String, Long]) { l =>
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    l.snapshot()
  }

  private var paused = false

  /** Run `body` with span recording off (the untraced half of a traced
    * run, for the overhead estimate). */
  def untraced[T](body: => T): T = {
    paused = true
    try body finally paused = false
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = read()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = read()
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, t0, t1,
          c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) })
      }
    }

  /** Self time per layer in ms, over the spans of operations `ops`: each
    * span's duration minus the part of it its child spans cover. */
  def selfMsByLayer(ops: Int => Boolean = _ => true): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.filter(s => ops(s.op)).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** One JSON document: every span (id → parent → operation), plus the
    * self time per layer. */
  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val sb = new StringBuilder
    sb.append("{\"run\": ").append(Json.obj(header))
    sb.append(",\n\"self_ms_by_layer\": ").append(Json.obj(selfMsByLayer()))
    sb.append(",\n\"spans\": [\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(Json.obj(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "counters" -> s.counters)))
    }
    sb.append("\n]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => value(k) + ": " + value(v) }
      .mkString("{", ", ", "}")
}
