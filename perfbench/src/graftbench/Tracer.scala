package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one call into a layer, or (layer "op") one whole operation.
  * Times are epoch milliseconds with sub-millisecond digits.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job, attributed to the span that was active when it was
  * submitted (through the `graftbench.span` local property).
  */
final class JobRec(val id: Int, val span: Int, val start: Double) {
  @volatile var end: Double = start
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var routeSelfMs = 0.0
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Collects Spark jobs, stages and tasks for jobs submitted under a
  * span. Jobs submitted with no span (untraced operations) are ignored.
  */
final class SparkTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty)))
    span.foreach { s =>
      val rec = new JobRec(e.jobId, s.toInt, e.time.toDouble)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.putIfAbsent(_, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      j.synchronized { j.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      val acc = e.taskInfo.accumulables.flatMap(a => a.name.map(_ -> a.update))
      val routes = acc.exists(a => a._1 == "graft.ingest.docs" ||
        a._1 == "graft.ingest.quarantined")
      // the extract and embed seams' own time inside a routing task
      val seams = acc.collect {
        case ("graftbench.extract_busy_ns", Some(v: java.lang.Long)) => v / 1e6
        case ("graft.ingest.embed_millis", Some(v: java.lang.Long)) => v.toDouble
      }.sum
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          if (routes) j.routeSelfMs += m.executorRunTime - seams
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

/** In-memory span recorder for one client thread. With `enabled` off,
  * `op` and `span` only run their bodies. Every traced operation gets
  * a root span; `span` opens a child around one call into a layer and
  * points Spark's `graftbench.span` local property at it, so jobs the
  * call submits are parented to it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spark = new SparkTrace
  if (enabled) sc.addSparkListener(spark)

  val spans = mutable.ArrayBuffer.empty[Span]
  /** GC milliseconds during each traced operation, by root span id. */
  val opGcMs = mutable.HashMap.empty[Int, Long]
  private var nextId = 1
  private var stack: List[(Int, Int, Double)] = Nil

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Runs one operation of type `kind`, recorded when tracing is on and
    * `traced` is set; callers alternate `traced` to measure the
    * overhead of tracing within one run.
    */
  def op[T](kind: String, traced: Boolean = true)(body: => T): T =
    if (!enabled || !traced || stack.nonEmpty) body
    else {
      val g0 = gcMs
      val root = nextId
      try open("op", kind, body)
      finally opGcMs(root) = gcMs - g0
    }

  /** Runs `body` as a call into `layer`, recorded inside a traced
    * operation.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (stack.isEmpty) body else open(layer, name, body)

  /** True inside a recorded operation. */
  def recording: Boolean = stack.nonEmpty

  private def open[T](layer: String, name: String, body: => T): T = {
    val id = nextId
    nextId += 1
    val (parent, opId) = stack.headOption.map(s => (s._1, s._2))
      .getOrElse((0, id))
    stack = (id, opId, now()) :: stack
    sc.setLocalProperty(SpanProperty, id.toString)
    try body
    finally {
      val start = stack.head._3
      stack = stack.tail
      spans += Span(id, parent, opId, layer, name, start, now())
      sc.setLocalProperty(SpanProperty,
        stack.headOption.map(_._1.toString).orNull)
    }
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds from the monotonic clock. */
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  /** Total length of the union of `iv` clipped to `[lo, hi]`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
