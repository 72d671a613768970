package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.IngestPipeline
import graft.queries.ReadQueries
import graft.store.VersionStore

import LookupInputs._

/** `lookup`: one client in a closed loop — each lookup waits for its
  * answer before the next is sent — against `*_current` views of a store
  * that set-up builds with `ingestFile`. Every answer is collected and
  * compared with the plain-Scala model. */
final class LookupWorkload(ctx: Ctx, sizes: Sizes) extends Workload {
  import ctx.{spark, tracer}

  private var dir: java.nio.file.Path = _
  private var src: Sources = _
  private var model: Model = _
  private var store: VersionStore = _

  def prepare(): Unit = {
    val (d, s) = LookupInputs.ensure(ctx.inputs, ctx.seed, sizes)
    dir = d
    src = s
    model = new Model(s)
  }

  /** The store build is set-up: users pay it once, not per lookup. */
  override def setup(): Unit = {
    val root = ctx.scratch.resolve("lookup-store")
    Manifest.deleteTree(root)
    store = new VersionStore(spark, root.toString)
    Uploads.foreach { case (source, file, variant) =>
      val r = IngestPipeline.ingestFile(spark, store, source, dir.resolve(file).toString,
        "2026-Q1", java.sql.Date.valueOf("2026-01-01"), variant)
      require(r.status == "completed", s"lookup store: $source ingest ${r.status}")
    }
  }

  /** A traced run reports the lookup tail over its traced rounds, so it
    * needs enough of them for [[LookupWorkload.TailP]] to have its tail. */
  override def minRounds(traced: Boolean): Int =
    if (!traced) 1
    else 2 * math.ceil(Stats.samplesFor(LookupWorkload.TailP).toDouble / RoundSize).toInt

  private def current(table: String, source: String, variant: Option[String] = None) =
    tracer.span("store.current_view")(store.currentView(table, source, variant))

  private def build(op: Op): DataFrame = op match {
    case Fee(h, m, l, cf) =>
      val fee = ReadQueries.feeFor(current("cms.pfs_rvu", "PFS_RVU"),
        current("cms.pfs_gpci", "PFS_GPCI"), h, l, Some(cf), Some(m))
      ReadQueries.cappedFeeFor(fee, current("cms.pfs_opps_cap", "PFS_OPPS_CAP"))
        .select("hcpcs_code", "mac_locality", "non_facility_fee", "facility_fee",
          "opps_cap_amount", "capped_fee")
    case Ptp(c) =>
      current("cms.ncci_ptp", "NCCI_PTP", Some("PRACTITIONER"))
        .filter(col("comprehensive_code") === c && col("deletion_date").isNull)
        .select("comprehensive_code", "component_code", "modifier_indicator", "rationale")
        .orderBy("component_code")
    case Mue(h) =>
      current("cms.ncci_mue", "NCCI_MUE_PRAC").filter(col("hcpcs_code") === h)
        .select("hcpcs_code", "mue_value", "mai_id", "mue_rationale")
    case Anes(l, b, t) =>
      ReadQueries.anesthesiaFee(current("cms.pfs_anes_cf", "PFS_ANES_CF"), l, b, t)
  }

  override def warmUpRounds: Int = 2

  def round(n: Int): Round = {
    val acc = new ctx.RoundAcc
    roundOps(ctx.seed, n, src).foreach { op =>
      acc.op(op.kind) {
        val df = tracer.span("queries.build")(SparkCounters.inBuild(spark.sparkContext)(build(op)))
        tracer.span("queries.plan")(if (ctx.traced) df.queryExecution.executedPlan)
        tracer.span("queries.exec")(df.collect())
      }((rows: Array[Row]) => model.check(op, rows.toSeq.map(_.toSeq)))
    }
    acc.result()
  }
}

object LookupWorkload {
  /** The reported tail percentile of lookup latency: p90, whose 100-sample
    * minimum fits a run; p95 would need 200 traced lookups. */
  val TailP = 0.9
}
