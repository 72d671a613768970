package perfbench

import java.nio.file.Path

import scala.math.BigDecimal.RoundingMode

/** The `lookup` workload's store sources (written as CSV uploads and
  * ingested by graft during set-up), its seeded lookup sequence, and the
  * plain-Scala model that answers every lookup from the generated rows. */
object LookupInputs {

  final case class Sizes(ptpComps: Int, rvuCodes: Int, localities: Int, mueCodes: Int)

  final case class RvuRow(hcpcs: String, modifier: String, work: String, nfPe: String,
                          fPe: String, mp: String)
  final case class GpciRow(locality: String, work: String, pe: String, mp: String)
  final case class PtpRow(comp: String, comp2: String, modifier: String, deletion: String,
                          rationale: String)
  final case class MueRow(hcpcs: String, value: Int, mai: String, rationale: String)

  /** One generated store: rows in file order, duplicates included. */
  final case class Sources(rvu: IndexedSeq[RvuRow], gpci: IndexedSeq[GpciRow],
                           anes: IndexedSeq[(String, String)], opps: IndexedSeq[(String, String)],
                           ptp: IndexedSeq[PtpRow], mue: IndexedSeq[MueRow])

  sealed trait Op { def kind: String }
  final case class Fee(hcpcs: String, modifier: String, locality: String, cf: Double) extends Op {
    def kind = "fee" }
  final case class Ptp(code: String) extends Op { def kind = "ptp" }
  final case class Mue(hcpcs: String) extends Op { def kind = "mue" }
  final case class Anes(locality: String, base: Double, time: Double) extends Op { def kind = "anes" }

  /** Lookups per round, by kind; the order inside a round is seeded. */
  val RoundMix: Seq[(String, Int)] = Seq("fee" -> 8, "ptp" -> 5, "mue" -> 4, "anes" -> 3)
  val RoundSize: Int = RoundMix.map(_._2).sum
  val MissRate = 0.1

  private val Modifiers = IndexedSeq("26", "TC", "59")
  private val Mai = IndexedSeq("1 Line Edit", "2 Date of Service Edit: Policy",
    "3 Date of Service Edit: Clinical")
  private val CFs = IndexedSeq(32.7442, 33.2875, 32.3465)

  private def hcpcs(i: Int): String = f"${90000 + i}%05d"
  private def locality(i: Int): String = f"${1000 + i * 37}%05d"

  def sources(seed: Long, s: Sizes): Sources = {
    val r = Rng(seed, 10)
    val rvu = (0 until s.rvuCodes).flatMap { i =>
      val mods = Modifiers.filter(_ => r.nextDouble() < 0.6)
      (if (mods.isEmpty) Seq("26") else mods).flatMap { m =>
        def row() = RvuRow(hcpcs(i), m, Rng.decimal(r, 0, 20, 2), Rng.decimal(r, 0, 15, 2),
          Rng.decimal(r, 0, 10, 2), Rng.decimal(r, 0, 2, 2))
        val first = row()
        // ~1% keys repeat with different values: first-wins dedup must keep `first`.
        if (r.nextDouble() < 0.01) Seq(first, row()) else Seq(first)
      }
    }
    val gpci = (0 until s.localities).map(i => GpciRow(locality(i),
      Rng.decimal(r, 0.9, 1.2, 3), Rng.decimal(r, 0.8, 1.5, 3), Rng.decimal(r, 0.3, 1.5, 3)))
    val anes = (0 until s.localities).map(i => locality(i) -> Rng.decimal(r, 15, 25, 2))
    val opps = (0 until s.rvuCodes).filter(_ => r.nextDouble() < 0.3)
      .map(i => hcpcs(i) -> Rng.decimal(r, 20, 200, 2))
    val ptp = (0 until s.ptpComps).flatMap { c =>
      (0 until 8 + r.nextInt(24)).flatMap { j =>
        def row() = PtpRow(f"${10000 + c}%05d", f"${20000 + j * 7}%05d",
          Rng.pick(r, IndexedSeq("0", "1", "9")),
          if (r.nextDouble() < 0.3) "20250101" else "*",
          s"Edit rationale ${r.nextInt(50)}")
        val first = row()
        if (r.nextDouble() < 0.01) Seq(first, row()) else Seq(first)
      }
    }
    val mue = (0 until s.mueCodes).map(i => MueRow(hcpcs(i), r.nextInt(21), Rng.pick(r, Mai),
      s"Rationale ${r.nextInt(30)}"))
    Sources(rvu, gpci, anes, opps, ptp, mue)
  }

  /** Writes the six uploads named in [[Uploads]]. */
  def write(dir: Path, src: Sources): Unit = {
    Csv.write(dir.resolve("pfs_rvu.csv"), Iterator(
      // The title row spans the full width: graft sniffs the column count from line 1.
      Seq("PFS Relative Value File") ++ Seq.fill(7)(""),
      Seq("HCPCS", "MOD", "DESCRIPTION", "STATUS", "WORK RVU", "NON-FAC PE RVU", "FAC PE RVU", "MP RVU")) ++
      src.rvu.iterator.map(x => Seq(x.hcpcs, x.modifier, s"Procedure ${x.hcpcs}", "A",
        x.work, x.nfPe, x.fPe, x.mp)))
    Csv.write(dir.resolve("pfs_gpci.csv"), Iterator(
      Seq("LOCALITY", "LOCALITY NAME", "WORK GPCI", "PE GPCI", "MP GPCI")) ++
      src.gpci.iterator.map(g => Seq(g.locality, s"Locality ${g.locality}", g.work, g.pe, g.mp)))
    Csv.write(dir.resolve("pfs_anes_cf.csv"), Iterator(
      Seq("LOCALITY", "LOCALITY NAME", "ANESTHESIA CF")) ++
      src.anes.iterator.map { case (l, cf) => Seq(l, s"Locality $l", cf) })
    Csv.write(dir.resolve("pfs_opps_cap.csv"), Iterator(Seq("HCPCS", "OPPS CAP")) ++
      src.opps.iterator.map { case (h, c) => Seq(h, c) })
    Csv.write(dir.resolve("ncci_ptp.csv"), Iterator(
      Seq("Column 1", "Column 2", "Modifier 0=not allowed 1=allowed", "Effective Date",
        "Deletion Date", "PTP Edit Rationale")) ++
      src.ptp.iterator.map(p => Seq(p.comp, p.comp2, p.modifier, "20240101", p.deletion, p.rationale)))
    Csv.write(dir.resolve("ncci_mue_prac.csv"), Iterator(
      Seq("HCPCS/CPT Code", "Practitioner Services MUE Values", "MUE Adjudication Indicator",
        "MUE Rationale")) ++
      src.mue.iterator.map(m => Seq(m.hcpcs, m.value.toString, m.mai, m.rationale)))
  }

  /** (source code, file name, variant) in set-up order. */
  val Uploads: Seq[(String, String, Option[String])] = Seq(
    ("PFS_RVU", "pfs_rvu.csv", None), ("PFS_GPCI", "pfs_gpci.csv", None),
    ("PFS_ANES_CF", "pfs_anes_cf.csv", None), ("PFS_OPPS_CAP", "pfs_opps_cap.csv", None),
    ("NCCI_PTP", "ncci_ptp.csv", Some("PRACTITIONER")),
    ("NCCI_MUE_PRAC", "ncci_mue_prac.csv", None))

  def ensure(work: Path, seed: Long, s: Sizes): (Path, Sources) = {
    val src = sources(seed, s)
    val dir = Manifest.ensure(work.resolve(
      s"lookup-v1-s$seed-p${s.ptpComps}-r${s.rvuCodes}-l${s.localities}-m${s.mueCodes}"))(write(_, src))
    (dir, src)
  }

  /** The lookups of round `round`: [[RoundMix]] in seeded order, keys drawn
    * from the store with [[MissRate]] of them absent from it. */
  def roundOps(seed: Long, round: Int, src: Sources): IndexedSeq[Op] = {
    val r = Rng(seed, 1000L + round)
    def miss = r.nextDouble() < MissRate
    val kinds = RoundMix.flatMap { case (k, n) => Seq.fill(n)(k) }.toIndexedSeq
    val order = kinds.indices.map(i => (r.nextLong(), i)).sortBy(_._1).map(_._2)
    order.map(kinds).map {
      case "fee" =>
        val row = Rng.pick(r, src.rvu)
        Fee(if (miss) "Z9999" else row.hcpcs, row.modifier, Rng.pick(r, src.gpci).locality,
          Rng.pick(r, CFs))
      case "ptp" => Ptp(if (miss) "99999" else Rng.pick(r, src.ptp).comp)
      case "mue" => Mue(if (miss) "Z9999" else Rng.pick(r, src.mue).hcpcs)
      case _ => Anes(if (miss) "99999" else Rng.pick(r, src.anes)._1,
        3 + r.nextInt(8), 0.5 * r.nextInt(13))
    }
  }

  /** Answers computed from the generated rows with graft's documented
    * semantics: first row wins per unique key, fees in decimal arithmetic
    * (the sum of products rounded half-up to 6 places by the decimal type,
    * then to cents), the OPPS cap as a double minimum. */
  final class Model(src: Sources) {
    private def firstWins[K, V](rows: Seq[V])(key: V => K): Map[K, V] =
      rows.reverseIterator.map(v => key(v) -> v).toMap
    private val rvu = firstWins(src.rvu)(x => (x.hcpcs, x.modifier))
    private val gpci = firstWins(src.gpci)(_.locality)
    private val anes = src.anes.toMap
    private val opps = src.opps.toMap
    private val ptp = firstWins(src.ptp)(p => (p.comp, p.comp2)).values.toSeq
      .filter(_.deletion == "*").groupBy(_.comp)
    private val mue = firstWins(src.mue)(_.hcpcs)

    private def d(s: String) = BigDecimal(s)

    def answer(op: Op): Seq[Seq[Any]] = op match {
      case Fee(h, m, l, cf) =>
        (for (x <- rvu.get((h, m)); g <- gpci.get(l)) yield {
          def fee(pe: String) = ((d(x.work) * d(g.work) + d(pe) * d(g.pe) + d(x.mp) * d(g.mp)) *
            BigDecimal(cf)).setScale(6, RoundingMode.HALF_UP).setScale(2, RoundingMode.HALF_UP)
          val nf = fee(x.nfPe)
          val cap = opps.get(h).map(_.toDouble)
          Seq(h, l, nf, fee(x.fPe), cap.map(Double.box).orNull,
            cap.fold(nf.toDouble)(c => math.min(nf.toDouble, c)))
        }).toSeq
      case Ptp(c) =>
        ptp.getOrElse(c, Nil).sortBy(_.comp2)
          .map(p => Seq(p.comp, p.comp2, p.modifier.toLong, p.rationale))
      case Mue(h) =>
        mue.get(h).toSeq.map(x => Seq(x.hcpcs, x.value.toLong, x.mai.take(1).toLong, x.rationale))
      case Anes(l, b, t) =>
        anes.get(l).toSeq.map(cf => Seq(l,
          (BigDecimal(b + t) * d(cf)).setScale(2, RoundingMode.HALF_UP).toDouble))
    }

    /** None when `got` equals the model's answer, else what differs. */
    def check(op: Op, got: Seq[Seq[Any]]): Option[String] = {
      val want = answer(op)
      def norm(v: Any): Any = v match {
        case b: java.math.BigDecimal => BigDecimal(b).bigDecimal.stripTrailingZeros
        case b: BigDecimal => b.bigDecimal.stripTrailingZeros
        case x => x
      }
      val ok = want.length == got.length && want.zip(got).forall { case (w, g) =>
        w.length == g.length && w.zip(g).forall { case (a, b) => norm(a) == norm(b) }
      }
      if (ok) None else Some(s"$op: want $want, got $got")
    }
  }
}
