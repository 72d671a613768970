package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark program. `run.py` builds it and starts it as
  *
  * {{{
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1 --work DIR --bench DIR
  * perfbench.Main selftest --work DIR --bench DIR
  * perfbench.Main freeze-registry --work DIR --bench DIR
  * }}}
  *
  * A run prints one JSON line on stdout: end-to-end metrics when untraced,
  * per-layer metrics when traced. Everything else goes to stderr. */
object Main {

  /** Input sizes. Chosen so one run, set-up included, fits the benchmark's
    * time budget on a 4-core host (see README.md). */
  val IngestCsvRows = 20000
  val IngestXlsxRows = 10000
  val LookupSizes: LookupInputs.Sizes = LookupInputs.Sizes(
    ptpComps = 1000, rvuCodes = 2000, localities = 110, mueCodes = 1500)

  /** A run stops starting rounds after this long, whatever else it wants. */
  val HardLimitSeconds = 120.0

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "io.parse_csv_s" -> "s", "io.parse_xlsx_s" -> "s", "io.xlsx_scratch_bytes" -> "bytes",
    "io.peak_heap_mb" -> "MB",
    "header.detect_s" -> "s",
    "pipeline.transform_s" -> "s", "pipeline.validate_s" -> "s", "pipeline.dedup_s" -> "s",
    "pipeline.errors_s" -> "s", "pipeline.rows_processed" -> "count",
    "pipeline.rows_inserted" -> "count", "pipeline.rows_invalid" -> "count",
    "pipeline.rows_duplicate" -> "count",
    "store.write_s" -> "s", "store.meta_s" -> "s", "store.meta_swaps" -> "count",
    "store.files_written" -> "count", "store.bytes_written" -> "bytes",
    "store.bytes_per_input_byte" -> "ratio", "store.current_view_s" -> "s",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "lookup.fee_p50_ms" -> "ms", "lookup.ptp_p50_ms" -> "ms", "lookup.mue_p50_ms" -> "ms",
    "lookup.anes_p50_ms" -> "ms", "lookup.p90_ms" -> "ms") ++
    RegistryWorkload.Groups.map(g => s"registry.${g}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.jobs_in_build" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_wall_s" -> "s", "spark.gap_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.core_busy_frac" -> "ratio", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.failed_tasks" -> "count",
    "trace.overhead_frac" -> "ratio", "failed_frac" -> "ratio")

  final case class Opts(mode: String, workload: String = "", seed: Long = 0, seconds: Double = 10,
                        trace: Boolean = false, work: Path = null, bench: Path = null)

  def parse(args: Array[String]): Opts = {
    require(args.nonEmpty, "usage: run|selftest|freeze-registry [--flag value]...")
    val kv = args.tail.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def path(k: String) = Paths.get(kv.getOrElse(k, throw new IllegalArgumentException(s"--$k missing")))
      .toAbsolutePath
    Opts(args(0), kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      path("work"), path("bench"))
  }

  def session(scratch: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("graft.xlsx.scratchDir", Files.createDirectories(scratch.resolve("xlsx")).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = o.mode match {
      case "run" => run(o)
      case "selftest" => SelfTest.run(o.work)
      case "freeze-registry" =>
        withSession(o) { (spark, _) =>
          RegistryWorkload.freeze(spark, o.work.resolve("inputs"), o.bench.resolve(RegistryWorkload.FrozenFile))
        }
        0
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    sys.exit(code)
  }

  private def withSession[A](o: Opts)(f: (SparkSession, Path) => A): A = {
    val scratch = o.work.resolve(s"run-${ProcessHandle.current().pid()}")
    Manifest.deleteTree(scratch)
    Files.createDirectories(scratch)
    val spark = session(scratch, Runtime.getRuntime.availableProcessors)
    try f(spark, scratch)
    finally { spark.stop(); Manifest.deleteTree(scratch) }
  }

  def run(o: Opts): Int = {
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    withSession(o) { (spark, scratch) =>
      val sessionS = (System.nanoTime() - t0) / 1e9
      val ctx = new Ctx(spark, Files.createDirectories(o.work.resolve("inputs")), scratch,
        o.bench, o.seed, cores)
      val w: Workload = o.workload match {
        case "ingest" => new IngestWorkload(ctx, IngestCsvRows, IngestXlsxRows)
        case "lookup" => new LookupWorkload(ctx, LookupSizes)
        case "registry" => new RegistryWorkload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      def log(what: String): Unit = System.err.println(f"[perfbench] $what at $elapsed%.1f s")
      log(f"session started in $sessionS%.1f s")
      w.prepare()
      log("inputs ready")
      val t1 = System.nanoTime()
      w.setup()
      log("set up")
      val warm = w.warmUp() +: (1 until w.warmUpRounds).map(i => w.round(-1 - i))
      val setupS = sessionS + (System.nanoTime() - t1) / 1e9
      log("warmed up")

      val need = w.minRounds(o.trace)
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      val rounds = mutable.ArrayBuffer.empty[(Round, Boolean)]
      while ((rounds.length < need || System.nanoTime() < deadline) && elapsed < HardLimitSeconds) {
        val traced = o.trace && rounds.length % 2 == 1
        if (traced) ctx.trace() else ctx.untrace()
        val (gc0, cpu0) = (gcMs, cpuS)
        rounds += ((w.round(rounds.length), traced))
        log(f"round ${rounds.length} (${if (traced) "traced" else "untraced"}) took " +
          f"${rounds.last._1.seconds}%.3f s, process CPU ${cpuS - cpu0}%.2f s, GC ${gcMs - gc0} ms")
      }
      ctx.untrace()
      log(s"measured ${rounds.length} rounds")
      ctx.tracer.writeJsonl(o.work.resolve("trace").resolve(s"${o.workload}-s${o.seed}.jsonl"))

      val all = warm ++ rounds.map(_._1)
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      val mismatches = all.flatMap(_.mismatches)
      mismatches.take(20).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
      val measured = rounds.map(_._1).toSeq
      val metrics =
        try Right(if (o.trace) perLayer(o.workload, rounds.toSeq, attempted, failed)
                  else endToEnd(setupS, measured))
        catch { case e: IllegalArgumentException => Left(e.getMessage) }
      metrics.left.foreach(m => System.err.println(s"[perfbench] cannot report: $m"))
      val correct = mismatches.isEmpty && failed == 0 && metrics.isRight
      val units = (EndToEnd ++ PerLayer).toMap
      val body = metrics.getOrElse(Seq.empty).map { case (k, v) =>
        s""""$k": {"value": ${num(v)}, "unit": "${units(k)}"}"""
      }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      if (correct) 0 else 1
    }
  }

  private def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean]).map(_.getCollectionTime).sum

  private def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.lang.Double.toString(v)

  def endToEnd(setupS: Double, rounds: Seq[Round]): Seq[(String, Double)] = {
    val ops = rounds.flatMap(_.opSeconds)
    require(ops.nonEmpty, "no operation succeeded")
    Seq("setup_s" -> setupS, "op_p50_ms" -> Stats.median(ops) * 1e3,
      "ops_per_s" -> ops.length / ops.sum)
  }

  def perLayer(workload: String, rounds: Seq[(Round, Boolean)], attempted: Int,
               failed: Int): Seq[(String, Double)] = {
    val traced = rounds.collect { case (r, true) => r }
    val plain = rounds.collect { case (r, false) => r }
    require(traced.nonEmpty && plain.nonEmpty, "a traced run needs traced and untraced rounds")
    val layerKeys = traced.flatMap(_.layers.keys).toSet
    val fromRounds = layerKeys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap
    val byKind = traced.flatMap(r => r.opKinds.zip(r.opSeconds)).groupMap(_._1)(_._2)
    val lookup = if (workload != "lookup") Map.empty[String, Double] else
      Seq("fee", "ptp", "mue", "anes").map(k =>
        s"lookup.${k}_p50_ms" -> byKind.get(k).fold(0.0)(Stats.median(_) * 1e3)).toMap +
        ("lookup.p90_ms" -> Stats.percentile(traced.flatMap(_.opSeconds), LookupWorkload.TailP) * 1e3)
    val derived = Map(
      "trace.overhead_frac" -> (Stats.median(traced.map(_.seconds)) / Stats.median(plain.map(_.seconds)) - 1),
      "failed_frac" -> failed.toDouble / attempted.max(1))
    val unknown = layerKeys -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (k, _) =>
      k -> derived.getOrElse(k, lookup.getOrElse(k, fromRounds.getOrElse(k, 0.0)))
    }
  }
}
