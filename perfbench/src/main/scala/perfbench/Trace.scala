package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: what the listener saw for the jobs
  * submitted while the span was the innermost open one.
  */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L // read + written
  var spillBytes = 0L   // memory + disk
  /** stage id -> task durations (ms), for the straggler ratio */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    o.taskMs.foreach { case (s, ds) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ds }
  }

  /** Max task time over median task time in the stage with the longest
    * task (the stage that sets the wall); 1.0 when no stage had two tasks.
    */
  def straggler: Double = {
    val multi = taskMs.values.filter(_.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val worst = multi.maxBy(_.max)
      val sorted = worst.sorted
      val med = math.max(Stats.median(sorted.map(_.toDouble).toSeq), 1.0)
      sorted.last / med
    }
  }
}

/** One traced call: name, interval, parent span and the request or stage
  * it belongs to.
  */
final class Span(val id: Int, var name: String, val parent: Int, val req: String,
                 val startNs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. The benchmark wraps each call it
  * makes into a graft module in [[span]]; with tracing off the body runs
  * bare. Spans stay in memory and are written out once, at the end.
  *
  * Spark work is attributed through a job-local property: opening a span
  * sets `perfbench.span` on the (single) client thread, so every job that
  * call submits carries the span id, and the listener maps the job's
  * stages and tasks back to it.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Key

  @volatile private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val counters = mutable.Map.empty[Int, SparkCounters]
  private val overhead = new java.util.concurrent.atomic.AtomicLong()

  /** Time spent in the tracer itself: span bookkeeping on the client
    * thread plus listener callbacks on the listener bus thread.
    */
  def overheadNs: Long = overhead.get

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = System.nanoTime()
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      sid.foreach { s =>
        val id = s.toInt
        counters.synchronized { counters.getOrElseUpdate(id, new SparkCounters).jobs += 1 }
        e.stageIds.foreach(st => stageSpan.put(st, Integer.valueOf(id)))
      }
      overhead.addAndGet(System.nanoTime() - t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = System.nanoTime()
      val id: Integer = stageSpan.get(e.stageId)
      if (id != null && e.taskMetrics != null) counters.synchronized {
        val c = counters.getOrElseUpdate(id.intValue, new SparkCounters)
        val m = e.taskMetrics
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
      overhead.addAndGet(System.nanoTime() - t)
    }
  }

  /** Start recording: attach the listener. */
  def start(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  /** Stop recording: wait for the listener bus to deliver every event of
    * the jobs already run, then detach.
    */
  def stop(): Unit = if (on) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val t = System.nanoTime()
      sc.setLocalProperty(Key, spans.size.toString)
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), req, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        val close = System.nanoTime()
        s.endNs = close
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
        overhead.addAndGet(s.startNs - t + System.nanoTime() - close)
      }
    }

  /** Rename the most recently closed span with this name (a board call is
    * named hit or miss only once it has run).
    */
  def rename(from: String, to: String): Unit =
    if (on) spans.reverseIterator.find(_.name == from).foreach(_.name = to)

  /** Self time of every span: its duration minus its children's. Calls are
    * made from one thread, so children never overlap.
    */
  def selfMs: Map[Int, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.map(s => s.id -> math.max(s.ms - childMs(s.id), 0.0)).toMap
  }

  def countersOf(id: Int): SparkCounters =
    counters.synchronized(counters.getOrElse(id, new SparkCounters))

  /** Self time and Spark counters summed over every span of one name. */
  def byName(name: String): (Seq[Double], SparkCounters) = {
    val self = selfMs
    val sel = spans.filter(_.name == name)
    val agg = new SparkCounters
    sel.foreach(s => agg.add(countersOf(s.id)))
    (sel.map(s => self(s.id)).toSeq, agg)
  }

  /** Spans as JSON lines: id, name, parent, request/stage id, start and
    * end (ns since the first span), self ms and the span's Spark counters.
    */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = countersOf(s.id)
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":"${s.req}",""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"self_ms":${self(s.id)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"cpu_ns":${c.cpuNs},"input_bytes":${c.inputBytes},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val Key = "perfbench.span"
}
