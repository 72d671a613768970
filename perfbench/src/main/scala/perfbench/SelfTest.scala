package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: input generation is a function of the seed,
  * the planted counts add up, the percentile helper refuses thin tails,
  * and the lookup checker rejects wrong answers. Prints one line per check
  * and returns the process exit code. */
object SelfTest {

  def run(work: Path): Int = {
    val dir = work.resolve(s"selftest-${ProcessHandle.current().pid()}")
    Manifest.deleteTree(dir)
    Files.createDirectories(dir)
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val passed = try ok catch { case e: Throwable => System.err.println(e); false }
      println(s"${if (passed) "ok  " else "FAIL"} $name")
      if (!passed) failures += 1
    }
    def manifest(p: Path) = new String(Files.readAllBytes(p.resolve(Manifest.FileName)), "UTF-8")
    try {
      val sizes = LookupInputs.Sizes(ptpComps = 50, rvuCodes = 40, localities = 5, mueCodes = 30)
      check("same seed, same ingest bytes; another seed, other bytes") {
        val a = IngestInputs.ensure(dir.resolve("a"), 7, 3000, 1500)
        val b = IngestInputs.ensure(dir.resolve("b"), 7, 3000, 1500)
        val c = IngestInputs.ensure(dir.resolve("c"), 8, 3000, 1500)
        manifest(a.csv.getParent) == manifest(b.csv.getParent) &&
          manifest(a.csv.getParent) != manifest(c.csv.getParent)
      }
      check("same seed, same lookup bytes") {
        manifest(LookupInputs.ensure(dir.resolve("a"), 7, sizes)._1) ==
          manifest(LookupInputs.ensure(dir.resolve("b"), 7, sizes)._1)
      }
      check("same data seed, same registry bytes") {
        val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false")
          .config("spark.driver.host", "localhost").config("spark.driver.bindAddress", "127.0.0.1")
          .config("spark.local.dir", dir.resolve("spark-local").toString).getOrCreate()
        try {
          val small = RegistryData.Scale(customer = 50, supplier = 10, part = 40, orders = 200,
            lineitem = 600, events = 100, documents = 20, embeddings = 20)
          manifest(RegistryData.ensure(spark, dir.resolve("a"), small)) ==
            manifest(RegistryData.ensure(spark, dir.resolve("b"), small))
        } finally spark.stop()
      }
      check("a manifest mismatch is refused") {
        val up = IngestInputs.ensure(dir.resolve("d"), 9, 300, 100)
        Files.write(up.csv, "tampered\n".getBytes("UTF-8"))
        try { IngestInputs.ensure(dir.resolve("d"), 9, 300, 100); false }
        catch { case _: IllegalArgumentException => true }
      }
      check("planted counts match a plain re-count of the written CSV") {
        (1L to 5L).forall { seed =>
          val up = IngestInputs.ensure(dir.resolve("e"), seed, 20000, 100)
          val p = up.part1
          IngestInputs.recount(up.csv, p.headerRowIndex) == p.counts &&
            p.counts.processed == p.counts.inserted + p.counts.invalid + p.counts.duplicates &&
            p.counts.duplicates > 0 && p.counts.invalid > 0 && p.data.exists(_.forall(_.isEmpty))
        }
      }
      check("percentile refuses a tail with fewer than 10 samples beyond it") {
        val xs = (1 to 199).map(_.toDouble)
        val refused = try { Stats.percentile(xs, 0.95); false }
          catch { case _: IllegalArgumentException => true }
        refused && Stats.percentile(xs :+ 200.0, 0.95) == 190.0 &&
          Stats.samplesFor(0.95) == 200 && Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5
      }
      check("lookup checker accepts the model's answers and rejects wrong ones") {
        val src = LookupInputs.sources(3, sizes)
        val model = new LookupInputs.Model(src)
        val ops = (0 until 20).flatMap(LookupInputs.roundOps(3, _, src))
        val hits = ops.filter(op => model.answer(op).nonEmpty)
        def wrong(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.updated(0, rows.head.map {
          case d: Double => d + 0.01
          case b: BigDecimal => b + BigDecimal("0.01")
          case l: Long => l + 1
          case s: String => s + "x"
          case x => x
        })
        ops.forall(op => model.check(op, model.answer(op)).isEmpty) &&
          hits.map(_.kind).toSet == Set("fee", "ptp", "mue", "anes") &&
          ops.exists(op => model.answer(op).isEmpty) &&
          hits.forall(op => model.check(op, wrong(model.answer(op))).nonEmpty) &&
          hits.forall(op => model.check(op, model.answer(op).tail).nonEmpty)
      }
    } finally Manifest.deleteTree(dir)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
