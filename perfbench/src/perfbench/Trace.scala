package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative engine counters from Spark's public listener API. Every
  * reading is a snapshot of totals since the listener was added; a span
  * or an iteration stores the difference of two snapshots. */
final class EngineCounters extends SparkListener {
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val events = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val execRunMs = new AtomicLong
  private val execCpuNs = new AtomicLong
  private val taskWaitMs = new AtomicLong
  private val shuffleWriteB = new AtomicLong
  private val shuffleReadB = new AtomicLong
  private val spillB = new AtomicLong
  private val outputB = new AtomicLong
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet(); events.incrementAndGet(); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet(); events.incrementAndGet(); ()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSubmitted.put(e.stageInfo.stageId,
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    events.incrementAndGet(); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageSubmitted.remove(e.stageInfo.stageId)
    events.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      execRunMs.addAndGet(m.executorRunTime)
      execCpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.diskBytesSpilled)
      outputB.addAndGet(m.outputMetrics.bytesWritten)
    }
    // time the task waited for a core after its stage was submitted
    val submitted = stageSubmitted.get(e.stageId)
    if (submitted != null && e.taskInfo != null)
      taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
    events.incrementAndGet(); ()
  }

  /** Wait until the asynchronous listener bus has delivered the events
    * of every job that has finished: all started jobs ended, and no new
    * event for a few milliseconds. Bounded, so a stuck bus cannot hang
    * the benchmark. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val n = events.get()
      if (n != last) { last = n; stableSince = System.nanoTime() }
      else if (jobsStarted.get() == jobsEnded.get() &&
        System.nanoTime() - stableSince > 2000000L) return
      Thread.sleep(1)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobsEnded.get().toDouble,
    "stages" -> stages.get().toDouble,
    "tasks" -> tasks.get().toDouble,
    "exec_run_s" -> execRunMs.get() / 1e3,
    "exec_cpu_s" -> execCpuNs.get() / 1e9,
    "task_wait_s" -> taskWaitMs.get() / 1e3,
    "shuffle_write_mb" -> shuffleWriteB.get() / 1e6,
    "shuffle_read_mb" -> shuffleReadB.get() / 1e6,
    "spill_mb" -> spillB.get() / 1e6,
    "output_mb" -> outputB.get() / 1e6)
}

object EngineCounters {
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Micro-batch progress from Spark's public StreamingQueryListener: the
  * `durationMs` phases of every progress report, and the number of
  * queries that have terminated (all of a query's progress events are
  * delivered before its termination event). */
final class StreamProgress extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
  private val terminated = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val it = p.durationMs.entrySet().iterator()
      val m = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val en = it.next()
        m += en.getKey -> en.getValue.doubleValue / 1e3
      }
      buf.add(m.result())
    }
    ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.incrementAndGet(); ()
  }

  def terminatedCount: Long = terminated.get()

  /** Wait (bounded) until `n` queries have terminated on the listener bus. */
  def awaitTerminated(n: Long): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (terminated.get() < n && System.nanoTime() < deadline) Thread.sleep(1)
  }

  /** Progress reports received so far, removed from the buffer. */
  def drain(): Seq[Map[String, Double]] = {
    val out = ArrayBuffer.empty[Map[String, Double]]
    var p = buf.poll()
    while (p != null) { out += p; p = buf.poll() }
    out.toSeq
  }
}

/** One traced interval: a call the benchmark makes into a layer. */
final case class Span(id: Int, iteration: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, counters: Map[String, Double],
    notes: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Off, `span` only runs its body. On, every
  * span records its name, start, end, parent and the iteration id, plus
  * the engine counters accumulated between its start and end. */
final class Tracer(counters: EngineCounters) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var iteration = -1
  private var on = false

  def enabled: Boolean = on

  /** Start recording spans for iteration `it` (when `traced`). */
  def begin(it: Int, traced: Boolean): Unit = {
    iteration = it; on = traced; stack = Nil
  }

  def end(): Unit = { on = false; stack = Nil }

  def span[T](name: String)(body: => T): T =
    spanWith(name, Map.empty)(body)(_ => Map.empty)

  /** A span with counts of its own: `pre` is taken before the span
    * starts and `post` after it ends, so neither is inside its time.
    * Both are evaluated only while tracing. */
  def spanWith[T](name: String, pre: => Map[String, Double])(body: => T)(
      post: T => Map[String, Double]): T =
    if (!on) body
    else {
      val before = pre
      counters.quiesce()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = counters.snapshot()
      val t0 = System.nanoTime()
      stack = id :: stack
      val out = try body finally stack = stack.tail
      val t1 = System.nanoTime()
      counters.quiesce()
      val c1 = counters.snapshot()
      spans += Span(id, iteration, name, parent, t0, t1,
        EngineCounters.diff(c0, c1), before ++ post(out))
      out
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children of one span never overlap here: the
    * benchmark is a single closed-loop client). */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json.obj(Seq(
        "id" -> s.id, "iteration" -> s.iteration, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "s" -> s.seconds, "self_s" -> self(s.id),
        "counters" -> s.counters, "notes" -> s.notes))).append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
    ()
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ": " + value(v) }.mkString("{", ", ", "}")

  private def quote(s: String): String = {
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
}
