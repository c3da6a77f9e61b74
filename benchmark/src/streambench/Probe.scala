package streambench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced region. Its Spark jobs ran under the job group `id`;
  * `parent` is the enclosing span (-1 for a root); `call` marks a
  * timed call into the library (one latency sample). */
final case class Span(id: Int, parent: Int, layer: String, name: String, call: Boolean,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, gcMs: Long, jitMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of one Spark job. */
final class JobStats(val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0
  var taskMs, shuffleWrite, spill, input, output = 0L
}

/** Gathers per-job counters, keyed by the job group the benchmark sets
  * for each span. Listener callbacks arrive on one bus thread; readers
  * drain the bus first. */
final class EngineListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def jobOf(stage: Int): Option[JobStats] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.nonEmpty).foreach { group =>
        jobs.put(e.jobId, new JobStats(group, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOf(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
}


/** Times the calls a workload makes into the library. Every `call` adds
  * one latency sample. While `tracing` is on, `call` and `span` also
  * record a span and run the enclosed Spark jobs under a job group named
  * after the span id, so the listener can attribute engine work to it;
  * with tracing off a span costs nothing. The listener is attached only
  * to traced runs. */
final class Probe(spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  private val listener = new EngineListener
  if (traced) sc.addSparkListener(listener)

  var tracing = false
  val spans = ArrayBuffer.empty[Span]
  /** (root span id, name, value): counts a traced workload reports. */
  val notes = ArrayBuffer.empty[(Int, String, Double)]
  /** Latency samples of the calls since the last `take`, seconds. */
  private val calls = ArrayBuffer.empty[Double]

  private var open = List.empty[Int]
  private var nextId = 0

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long = jit.map(_.getTotalCompilationTime).getOrElse(0L)

  def call[T](layer: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try region(layer, name, call = true)(f) finally calls += (System.nanoTime() - t0) / 1e9
  }

  def span[T](layer: String, name: String)(f: => T): T = region(layer, name, call = false)(f)

  /** Records a count against the current root span. */
  def note(name: String, value: Double): Unit =
    if (tracing) notes += ((open.lastOption.getOrElse(-1), name, value))

  /** The latency samples recorded since the last call, oldest first. */
  def take(): Seq[Double] = { val s = calls.toList; calls.clear(); s }

  private def region[T](layer: String, name: String, call: Boolean)(f: => T): T = {
    if (!tracing) return f
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setJobGroup(id.toString, name)
    val gc0 = gcMs(); val jit0 = jitMs()
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      spans += Span(id, parent, layer, name, call, t0, t1, ms0, ms1, gcMs() - gc0, jitMs() - jit0)
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, "")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spark jobs by span id, once the bus has delivered every event. */
  def jobsBySpan(): Map[Int, Seq[JobStats]] = {
    BenchBridge.drainListenerBus(sc)
    listener.jobs.values.asScala.toSeq.groupBy(_.group.toInt)
  }
}

/** Figures from the spans under one root span (a traced iteration, or
  * the layer probes after the timed phase). */
final class SpanTree(val root: Span, all: Seq[Span], jobs: Map[Int, Seq[JobStats]]) {
  private val children = all.groupBy(_.parent)
  private def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  val spans: Seq[Span] = subtree(root)

  def selfSeconds(s: Span): Double = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  def has(name: String): Boolean = spans.exists(_.name == name)

  /** Spans named `name` or nested names `name.*`. */
  def named(name: String): Seq[Span] =
    spans.filter(s => s.name == name || s.name.startsWith(name + "."))

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Jobs run under the given spans and everything they called. */
  def jobsUnder(ss: Seq[Span]): Seq[JobStats] =
    ss.flatMap(subtree).map(_.id).distinct.flatMap(jobs.getOrElse(_, Nil))

  def layerSelf(layer: String): Double = spans.filter(_.layer == layer).map(selfSeconds).sum

  /** Engine counters over the library calls under the root. The driver
    * gap is call wall time not covered by any of the call's jobs. */
  def engine: Seq[(String, Double)] = {
    val calls = spans.filter(_.call)
    val js = jobsUnder(calls)
    val gap = calls.map { c =>
      val iv = jobsUnder(Seq(c)).map(j => (math.max(j.startMs, c.startMs), math.min(j.endMs, c.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
      math.max(0.0, c.seconds - covered / 1e3)
    }.sum
    Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_s" -> js.map(_.taskMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> js.map(_.input).sum.toDouble,
      "spark.output_bytes" -> js.map(_.output).sum.toDouble,
      "spark.driver_gap_s" -> gap,
      "jvm.gc_s" -> calls.map(_.gcMs).sum / 1e3,
      "jvm.jit_s" -> calls.map(_.jitMs).sum / 1e3)
  }
}
