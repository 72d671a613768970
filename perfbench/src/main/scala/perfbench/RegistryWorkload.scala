package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

import graft.queries.Registry

/** `registry`: one pass over a frozen list of registry queries per round,
  * in a seeded order, each written in full to Spark's `noop` sink. */
final class RegistryWorkload(ctx: Ctx) extends Workload {
  import RegistryWorkload._
  import ctx.{spark, tracer}

  private val frozen = load(ctx.bench.resolve(FrozenFile))
  private var dir: String = _

  def prepare(): Unit = dir = RegistryData.ensure(spark, ctx.inputs).toString

  /** Writes every result once, counting the rows written through an
    * `Observation`, and checks count and schema against the frozen values. */
  override def warmUp(): Round = {
    val acc = new ctx.RoundAcc
    frozen.foreach { q =>
      acc.op(q.group) {
        val df = Registry.queries(q.name)(spark, dir)
        val rows = Observation()
        df.observe(rows, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        (rows.get("rows").asInstanceOf[Long], df.schema)
      } { case (n, schema) =>
        Option.when(n != q.rows || render(schema) != q.schema)(
          s"${q.name}: $n rows, schema ${render(schema)}; frozen ${q.rows} rows, schema ${q.schema}")
      }
      spark.catalog.clearCache()
    }
    acc.result()
  }

  /** Passes differ in order only; two make the pass time a median. */
  override def minRounds(traced: Boolean): Int = 2

  def round(n: Int): Round = {
    val acc = new ctx.RoundAcc
    val r = Rng(ctx.seed, 2000L + n)
    frozen.map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2).foreach { q =>
      acc.op(q.group) {
        tracer.span(s"registry.${q.group}") {
          val df = tracer.span("queries.build")(
            SparkCounters.inBuild(spark.sparkContext)(Registry.queries(q.name)(spark, dir)))
          tracer.span("queries.plan")(if (ctx.traced) df.queryExecution.executedPlan)
          tracer.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
          df.schema
        }
      }(schema => Option.when(render(schema) != q.schema)(
        s"${q.name}: schema ${render(schema)}, frozen ${q.schema}"))
      spark.catalog.clearCache()
    }
    acc.result()
  }
}

object RegistryWorkload {
  val FrozenFile = "registry_frozen.tsv"

  /** One frozen query: its registry name, layer group, and the row count
    * and schema it had when the list was frozen. */
  final case class Frozen(name: String, group: String, rows: Long, schema: String)

  def render(s: StructType): String = s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** Layer group of a registry query, by name prefix. */
  def group(name: String): String = name.stripPrefix("q_").takeWhile(_ != '_') match {
    case "llm" => "llm"
    case "graph" => "graph"
    case "stats" => "stats"
    case "ts" => "ts"
    case "e" => "event"
    case "mm" => "mm"
    case _ => "core"
  }

  val Groups: Seq[String] = Seq("core", "llm", "graph", "stats", "ts", "event", "mm")

  def load(p: Path): Seq[Frozen] = {
    require(Files.isRegularFile(p), s"frozen query list $p missing")
    new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(name, g, rows, schema) = l.split("\t", 4)
        require(Registry.queries.contains(name), s"frozen query $name is not registered")
        Frozen(name, g, rows.toLong, schema)
      }
  }

  /** Every 20th registered query, plus the first every-10th query of each
    * group that sample misses, so every group is timed. */
  def selection(): Seq[String] = {
    val every10 = Registry.queries.keys.toSeq.zipWithIndex.collect { case (q, i) if i % 10 == 0 => q }
    val every20 = every10.zipWithIndex.collect { case (q, i) if i % 2 == 0 => q }
    val missing = Groups.filterNot(g => every20.exists(group(_) == g))
      .flatMap(g => every10.find(group(_) == g))
    val chosen = (every20 ++ missing).toSet
    Registry.queries.keys.toSeq.filter(chosen)
  }

  /** Freezes the selection's row counts and schemas over the generated
    * tables; the file then travels with the benchmark. */
  def freeze(spark: SparkSession, inputs: Path, out: Path): Unit = {
    val dir = RegistryData.ensure(spark, inputs).toString
    val lines = selection().map { name =>
      val df: DataFrame = Registry.queries(name)(spark, dir)
      val rows = df.collect().length
      spark.catalog.clearCache()
      s"$name\t${group(name)}\t$rows\t${render(df.schema)}"
    }
    Files.write(out, (Seq(
      "# Registry queries timed by the registry workload: name, group, row count, schema.",
      "# Frozen over the generated registry tables; see README.md before changing.") ++ lines)
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
