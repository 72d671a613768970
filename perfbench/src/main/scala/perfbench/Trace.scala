package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** A timed call into one layer. Spans of one operation share `op`;
  * `parent` is the enclosing span's id, or -1. */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)

/** Span recorder. Spans stay in memory and are written out when the run
  * ends. While not recording, a span runs the wrapped code and records
  * nothing. */
final class Tracer {
  var recording = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = 0L

  def beginOp(): Unit = op += 1

  def currentOp: Long = op

  def span[A](name: String)(f: => A): A =
    if (!recording) f
    else {
      val id = spans.length
      spans += null // reserve the id; filled in when the span ends
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds per span name over the operations after `afterOp`. */
  def totalsSince(afterOp: Long): Map[String, Double] =
    spans.iterator.filter(s => s != null && s.op > afterOp).toSeq
      .groupMapReduce(_.name)(s => (s.endNs - s.startNs) / 1e9)(_ + _)

  def writeJsonl(path: Path): Unit = if (spans.nonEmpty) {
    Files.createDirectories(path.getParent)
    val lines = spans.iterator.filter(_ != null).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Spark's own account of one operation, from a listener the benchmark
  * registers: jobs, stages and tasks; job wall time and the operation time
  * no job covers; task run and CPU time; shuffle and spill bytes. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import SparkCounters._

  private final class Acc {
    var jobs, jobsInBuild, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
    val starts = mutable.Map.empty[Int, Long]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private var acc = new Acc
  private var opStartMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    if (Option(e.properties).exists(_.getProperty(PhaseKey) == "build")) acc.jobsInBuild += 1
    acc.starts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    acc.starts.remove(e.jobId).foreach(s => acc.intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) acc.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Start counting a new operation. */
  def begin(): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { acc = new Acc; opStartMs = System.currentTimeMillis() }
  }

  /** Counters of the operation begun last, once every event it caused has
    * been delivered. `spark.op_wall_s` is the operation's wall time as the
    * listener clock saw it; [[SparkCounters.finish]] turns the sums of a
    * round into ratios. */
  def end(): Map[String, Double] = {
    val endMs = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    synchronized {
      val wallMs = (endMs - opStartMs).max(1L)
      val merged = acc.intervals.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, e0 max e) :: rest
        case (done, iv) => iv :: done
      }
      val jobMs = merged.map { case (s, e) => (e min endMs) - (s max opStartMs) }.filter(_ > 0).sum
      Map(
        "spark.jobs" -> acc.jobs.toDouble,
        "spark.jobs_in_build" -> acc.jobsInBuild.toDouble,
        "spark.stages" -> acc.stages.toDouble,
        "spark.tasks" -> acc.tasks.toDouble,
        "spark.failed_tasks" -> acc.failedTasks.toDouble,
        "spark.job_wall_s" -> jobMs / 1e3,
        "spark.gap_s" -> (wallMs - jobMs).max(0L) / 1e3,
        "spark.executor_run_s" -> acc.runMs / 1e3,
        "spark.executor_cpu_s" -> acc.cpuNs / 1e9,
        "spark.op_wall_s" -> wallMs / 1e3,
        "spark.shuffle_read_bytes" -> acc.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> acc.shuffleWrite.toDouble,
        "spark.spill_bytes" -> acc.spill.toDouble)
    }
  }
}

object SparkCounters {
  /** Local property naming the phase a job ran in ("build" while the
    * operation builds its DataFrame, before the action). */
  val PhaseKey = "perfbench.phase"

  /** Replaces the summed wall time of a round's operations by the share of
    * its core time that tasks kept busy. */
  def finish(sums: Map[String, Double], cores: Int): Map[String, Double] =
    sums.get("spark.op_wall_s").fold(sums) { wall =>
      sums - "spark.op_wall_s" +
        ("spark.core_busy_frac" -> sums.getOrElse("spark.executor_run_s", 0.0) / (wall * cores))
    }

  def inBuild[A](sc: SparkContext)(f: => A): A = {
    sc.setLocalProperty(PhaseKey, "build")
    try f finally sc.setLocalProperty(PhaseKey, null)
  }
}
