package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One Spark job as the listener saw it, with the task metrics of every
  * task that ran for it. Times are epoch milliseconds. */
final class JobRec(val id: Int, val span: Long, val startMs: Long) {
  var endMs: Long = -1L
  var taskMs = 0L
  var inputBytes = 0L
}

/** Listener that records jobs, their task metrics, and the bytes held by
  * persisted RDD blocks. Attached only during traced rounds: the untraced
  * runs that give the end-to-end numbers carry no listener at all. */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var held = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.taskMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val name = b.blockId.name
      held -= blocks.getOrElse(name, 0L)
      if (b.storageLevel.isValid) {
        blocks(name) = b.memSize + b.diskSize
        held += b.memSize + b.diskSize
      } else blocks.remove(name)
      peak = math.max(peak, held)
    }
  }

  /** Jobs recorded since the listener was attached, and the peak bytes of
    * the RDD blocks persisted since then; resets both, since the listener is
    * detached between traced rounds. */
  def drain(spark: SparkSession): (Seq[JobRec], Long) = {
    org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
    synchronized {
      val out = (jobs.values.toSeq, peak)
      jobs.clear(); stageJob.clear(); blocks.clear()
      held = 0L; peak = 0L
      out
    }
  }
}

/** A timed public call (or a round of them, or a Spark job). */
final case class Span(id: Long, parent: Long, round: Long, name: String,
    layer: String, startMs: Long, endMs: Long, durNs: Long) {
  def durMs: Double = durNs / 1e6
}

/** Times public calls into the engine. With tracing on it also records a
  * span per call, tags the Spark jobs each call causes with the span's id
  * (a local property the jobs carry), and keeps everything in memory until
  * the run ends. With tracing off it only takes the wall time. */
final class Tracer(spark: SparkSession) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var round = 0L

  /** Runs `body` as one public call in `layer`; returns its result and its
    * wall time in milliseconds. */
  def call[T](name: String, layer: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    if (on) {
      stack = id :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    }
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      val dur = System.nanoTime() - t0
      if (on) {
        spans += Span(id, parent, round, name, layer, ms0,
          System.currentTimeMillis(), dur)
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }
  }

  def startRound(r: Long): Unit = round = r
}

object Tracer {
  /** The local property that carries the current span id to every job. */
  val SpanKey = "perfbench.span"
}

/** JVM-wide garbage-collection time, in milliseconds. In local mode the
  * executors are threads of this JVM, so this is the tasks' GC time. */
object Gc {
  def ms: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
}
