package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.core.Text
import graft.llm.{ContextualEmbedder, Judge, Summarizer}

/** JVM-wide call counters behind the counting wrappers. Spark runs in
  * local mode, so task threads and the driver share these objects.
  */
object Counters {
  final class Calls {
    val calls = new LongAdder
    val promptTokens = new LongAdder
    val outputTokens = new LongAdder
    val empties = new LongAdder
  }
  val summarizer = new ConcurrentHashMap[String, Calls]()
  val judge = new Calls
  val encoder = new Calls
  private val durations = ArrayBuffer.empty[Long]

  def forTag(tag: String): Calls = summarizer.computeIfAbsent(tag, _ => new Calls)

  def recordDuration(ns: Long): Unit = durations.synchronized(durations += ns)
  def callDurations: Array[Long] = durations.synchronized(durations.toArray)

  def reset(): Unit = {
    summarizer.clear()
    Seq(judge, encoder).foreach { c =>
      Seq(c.calls, c.promptTokens, c.outputTokens, c.empties).foreach(_.reset())
    }
    durations.synchronized(durations.clear())
  }

  def timedSummary(c: Calls, input: String)(f: => String): String = {
    val t0 = System.nanoTime()
    val out = f
    val dt = System.nanoTime() - t0
    c.calls.increment(); recordDuration(dt)
    c.promptTokens.add(Text.tokenCount(input))
    c.outputTokens.add(Text.tokenCount(out))
    if (out.isEmpty) c.empties.increment()
    out
  }

  def counted[T](c: Calls)(f: => T): T = try f finally c.calls.increment()
}

/** Counts and times every call into a [[Summarizer]], including the
  * per-budget calls of its `prepared` closures; `tag` names the strategy.
  */
final class CountingSummarizer(inner: Summarizer, tag: String) extends Summarizer {
  override def summarize(text: String, maxTokens: Int): String =
    Counters.timedSummary(Counters.forTag(tag), text)(inner.summarize(text, maxTokens))

  override def prepared(text: String): Int => String = {
    val c = Counters.forTag(tag)
    val p = inner.prepared(text)
    (budget: Int) => Counters.timedSummary(c, text)(p(budget))
  }
}

final class CountingJudge(inner: Judge) extends Judge {
  override def critique(summary: String, source: String): String =
    Counters.counted(Counters.judge)(inner.critique(summary, source))
  override def preparedCritique(source: String): String => String = {
    val p = inner.preparedCritique(source)
    (s: String) => Counters.counted(Counters.judge)(p(s))
  }
  override def scores(summary: String, source: String): (Double, Double) =
    Counters.counted(Counters.judge)(inner.scores(summary, source))
}

final class CountingEncoder(inner: ContextualEmbedder) extends ContextualEmbedder {
  override def dim: Int = inner.dim
  override def encode(text: String): Array[Array[Float]] =
    Counters.counted(Counters.encoder)(inner.encode(text))
}

/** Task, stage and job records for one pass, from the listener bus. */
object SparkStats {
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
}

final class SparkStats extends SparkListener {
  import SparkStats._

  val tasks = ArrayBuffer.empty[Task]
  val jobs = ArrayBuffer.empty[Job]

  def reset(): Unit = synchronized { tasks.clear(); jobs.clear() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Task(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, group, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  /** Copy of the records, after every event posted so far was delivered. */
  def snapshot(sc: SparkContext): (Vector[Task], Vector[Job]) = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized((tasks.toVector, jobs.toVector))
  }
}

/** One layer call: `parent` is the pass span; Spark jobs the call ran
  * carry the span's id as their job group. `hostNs` is the mean of the
  * reference loop's times just before and just after the call.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, driverCpuNs: Long, hostNs: Double = 0.0) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** `seconds` at the reference host speed (see [[HostSpeed]]). */
  def scaledSeconds: Double = HostSpeed.scale(seconds, hostNs)
}

/** Layer-call boundary for one pass. Every call records its span, which
  * costs two clock reads, and runs the reference loop of [[HostSpeed]]
  * just before and just after, outside its span; `probeNs` and
  * `probeCpuNs` sum what those runs took. With `enabled`, a call also reads
  * the driver thread's CPU time and runs under its own Spark job group, so
  * the jobs it ran can be attributed to it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, fault: String) {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private var nextId = Tracer.PassId + 1
  val spans = ArrayBuffer.empty[Span]
  var calls = 0L
  var failures = 0L
  var passSpan: Span = _
  var probeNs = 0L
  var probeCpuNs = 0L

  private def cpu(): Long = if (enabled) threads.getCurrentThreadCpuTime else 0L

  private def hostSample(): Long = {
    val t0 = System.nanoTime(); val c0 = cpu()
    val ns = HostSpeed.sample()
    probeNs += System.nanoTime() - t0; probeCpuNs += cpu() - c0
    ns
  }

  def pass[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val c0 = cpu()
    try f finally
      passSpan = Span(Tracer.PassId, 0, "pass", name, t0, System.nanoTime(), cpu() - c0)
  }

  def layer[T](layer: String, name: String)(f: => T): T = {
    calls += 1
    if (fault == "throw" && calls == 1) {
      failures += 1
      throw new IllegalStateException(s"injected fault in layer call $name")
    }
    val id = nextId; nextId += 1
    if (enabled) sc.setJobGroup(s"span-$id", name)
    val before = hostSample()
    val t0 = System.nanoTime(); val c0 = cpu()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val t1 = System.nanoTime(); val c1 = cpu()
      val after = hostSample()
      spans += Span(id, Tracer.PassId, layer, name, t0, t1, c1 - c0, (before + after) / 2.0)
      if (!ok) failures += 1
      if (enabled) sc.clearJobGroup()
    }
  }
}

object Tracer {
  /** One tracer per pass, so the pass span always has this id. */
  val PassId = 1
}
