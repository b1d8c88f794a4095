package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: summed over the jobs submitted
  * while the span was the innermost open one.
  */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L // read + written
  var spillBytes = 0L // memory + disk

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    inputRecords += o.inputRecords; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans are opened by the
  * benchmark around each call into a layer (nothing inside the program
  * is instrumented); a listener charges every Spark job, task, CPU
  * nanosecond, input record, shuffle byte and spilled byte to the span
  * that was innermost when the job was submitted. Spans are kept only
  * while `recording` is set; when `enabled` is false no listener is
  * registered and `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val Key = "graftbench.span"
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  var recording = false

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val s = Option(j.properties).flatMap(p => Option(p.getProperty(Key)))
      s.foreach { id =>
        val span = id.toInt
        j.stageIds.foreach(st => stageSpan.putIfAbsent(st, span))
        countsOf(span).synchronized(countsOf(span).jobs += 1)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (stageSpan.containsKey(t.stageId)) {
        val m = t.taskMetrics
        val c = countsOf(stageSpan.get(t.stageId))
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.inputRecords += m.inputMetrics.recordsRead
            c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  })

  private def countsOf(span: Int): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  /** Run `body` inside a span named `name` (op id `op`, -1 for none). */
  def span[A](name: String, op: Int = -1)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val s = Span(spans.size, name, op, open.headOption.getOrElse(-1),
        System.nanoTime())
      spans += s
      open = s.id :: open
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.toString).orNull)
      }
    }

  /** Deliver every pending listener event; call before reading counts. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBridge.drainListeners(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Work of the spans named `name`, their descendants included. */
  def countsFor(name: String): Counts = {
    val roots = named(name).map(_.id).toSet
    val out = new Counts
    spans.foreach { s =>
      if (within(s.id, roots)) Option(counts.get(s.id)).foreach(out.add)
    }
    out
  }

  private def within(id: Int, roots: Set[Int]): Boolean =
    id >= 0 && (roots(id) || within(spans(id).parent, roots))

  /** The spans as JSON lines: name, start/end (ms since the tracer was
    * created), parent span, op id and the span's own Spark work.
    */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = Option(counts.get(s.id)).getOrElse(new Counts)
    f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
      s""""jobs":${c.jobs},"tasks":${c.tasks},"cpu_ms":${c.cpuNs / 1e6},""" +
      s""""input_records":${c.inputRecords},"shuffle_bytes":${c.shuffleBytes},""" +
      s""""spill_bytes":${c.spillBytes}}"""
  }
}
