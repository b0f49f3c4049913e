package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark work done up to some instant, as counted by [[SparkCounters]]. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        taskRunMs: Long = 0, gcMs: Long = 0,
                        shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                        spillBytes: Long = 0, skippedBlocks: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    skippedBlocks - o.skippedBlocks)
}

/** Counts jobs, stages, tasks and task metrics for the whole application.
  * Registered only in traced runs. `liveWandSkippedBlocks` is the
  * accumulator the search engine's live WAND path adds skipped blocks to.
  */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks, runMs, gcMs, shW, shR, spill, skipped = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
      if (a.name.contains("liveWandSkippedBlocks")) a.update.foreach {
        case n: java.lang.Long => skipped.addAndGet(n)
        case _                 =>
      }
    }
  }

  def snapshot(): Counts = Counts(jobs.get, stages.get, tasks.get, runMs.get, gcMs.get,
    shW.get, shR.get, spill.get, skipped.get)
}

/** One timed call into a layer. Spans of one client op share `op`;
  * `parent` is the index of the enclosing span, or -1.
  */
final case class Span(id: Int, name: String, op: Long, parent: Int,
                      startMs: Double, endMs: Double, counts: Counts) {
  def ms: Double = endMs - startMs
}

/** Records spans in memory. Untraced, it only times; traced, it also
  * drains the listener bus at both ends of a span and keeps the counter
  * difference.
  */
final class Tracer(sc: SparkContext, val counters: Option[SparkCounters]) {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6
  private def counts(): Counts = counters match {
    case Some(c) => PerfbenchBus.drain(sc); c.snapshot()
    case None    => Counts()
  }

  def span[T](name: String, op: Long)(body: => T): T = {
    val id = spans.length
    spans += null // reserve the slot so children get higher ids
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val c0 = counts()
    val s = nowMs
    try body
    finally {
      val e = nowMs
      open = open.tail
      spans(id) = Span(id, name, op, parent, s, e, counts() - c0)
    }
  }

  def named(name: String): Seq[Span] = spans.iterator.filter(s => s != null && s.name == name).toSeq

  def toJson(extra: Seq[(String, String)]): String = {
    val sb = new StringBuilder("{")
    extra.foreach { case (k, v) => sb ++= Json.str(k) ++= ":" ++= v ++= "," }
    sb ++= "\"spans\":["
    sb ++= spans.iterator.filter(_ != null).map { s =>
      val c = s.counts
      f"""{"id":${s.id},"name":${Json.str(s.name)},"op":${s.op},"parent":${s.parent},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"jobs":${c.jobs},"stages":${c.stages},""" +
        f""""tasks":${c.tasks},"task_run_ms":${c.taskRunMs},"gc_ms":${c.gcMs},""" +
        f""""shuffle_write_bytes":${c.shuffleWriteBytes},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        f""""spill_bytes":${c.spillBytes},"skipped_blocks":${c.skippedBlocks}}"""
    }.mkString(",\n")
    sb ++= "]}"
    sb.toString
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'              => "\\\""
      case '\\'             => "\\\\"
      case c if c < ' '     => f"\\u${c.toInt}%04x"
      case c                => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

object Stats {
  /** The middle value, or the mean of the two middle ones; 0 for no values. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }
}
