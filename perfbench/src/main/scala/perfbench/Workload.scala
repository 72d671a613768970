package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one round of a workload did. A round is the workload's unit of
  * work: one two-part upload, one fixed mix of lookups, one pass over the
  * frozen query list. Per-layer values are the round's sums. */
final case class Round(opSeconds: Seq[Double], opKinds: Seq[String], attempted: Int,
                       failed: Int, mismatches: Seq[String], layers: Map[String, Double]) {
  def seconds: Double = opSeconds.sum
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val inputs: Path, val scratch: Path,
                val bench: Path, val seed: Long, val cores: Int) {
  val tracer = new Tracer
  private var counters: Option[SparkCounters] = None

  def traced: Boolean = tracer.recording

  /** Record spans and Spark counters until [[untrace]]. The listener is
    * attached only while tracing, so untraced rounds carry none of its cost. */
  def trace(): Unit = if (!traced) {
    val c = new SparkCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    counters = Some(c)
    tracer.recording = true
  }

  def untrace(): Unit = {
    counters.foreach(spark.sparkContext.removeSparkListener)
    counters = None
    tracer.recording = false
  }

  /** Accumulates one round. */
  final class RoundAcc {
    private val secs = mutable.ArrayBuffer.empty[Double]
    private val kinds = mutable.ArrayBuffer.empty[String]
    private val bad = mutable.ArrayBuffer.empty[String]
    private val layers = mutable.Map.empty[String, Double]
    private var attempted, failed = 0
    private val firstOp = tracer.currentOp

    def add(name: String, v: Double): Unit = layers(name) = layers.getOrElse(name, 0.0) + v

    private def mismatch(what: String): Unit = bad += what

    /** Time `body` as one operation. A throw counts as a failure and is
      * never recorded as a time; `check` runs after the clock stops. */
    def op[A](kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
      attempted += 1
      tracer.beginOp()
      counters.foreach(_.begin())
      val t0 = System.nanoTime()
      val out = try Right(body) catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      counters.foreach(_.end().foreach { case (k, v) => add(k, v) })
      out match {
        case Right(a) =>
          secs += dt
          kinds += kind
          check(a).foreach(mismatch)
          Some(a)
        case Left(e) =>
          failed += 1
          System.err.println(s"[perfbench] $kind failed: $e")
          e.printStackTrace()
          None
      }
    }

    def result(): Round = {
      tracer.totalsSince(firstOp).foreach { case (k, v) => add(s"${k}_s", v) }
      Round(secs.toSeq, kinds.toSeq, attempted, failed, bad.toSeq,
        SparkCounters.finish(layers.toMap, cores))
    }
  }
}

trait Workload {
  /** Generate or verify this seed's inputs (not part of set-up time). */
  def prepare(): Unit

  /** Work a user pays once per process before the first operation; timed
    * into `setup_s` together with session start and [[warmUp]]. */
  def setup(): Unit = ()

  /** One untimed round that warms JIT and codegen and checks outputs. */
  def warmUp(): Round = round(-1)

  /** Untimed rounds before measuring, [[warmUp]] included: as many as it
    * takes for round times to stop falling. */
  def warmUpRounds: Int = 1

  def round(n: Int): Round

  /** Rounds a run measures at least, whatever `--seconds` says. A traced
    * run alternates untraced and traced rounds and needs one of each. */
  def minRounds(traced: Boolean): Int = if (traced) 2 else 1
}
