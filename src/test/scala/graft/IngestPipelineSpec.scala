package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.config.Catalog
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.pipeline.{IngestPipeline, Ingestor}
import graft.store.VersionStore

import scala.jdk.CollectionConverters._

/** End-to-end orchestration specs: partial success, all-fail, multi-part
  * append, failure paths, the jobs an ingest runs, and the dry-run
  * validation report. */
class IngestPipelineSpec extends SparkSpecBase {

  private def newStore(): VersionStore =
    new VersionStore(spark, Files.createTempDirectory("graft-ip").toString)

  private def csv(content: String): String = {
    val p = Files.createTempFile("graft-ip", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  private val d = java.sql.Date.valueOf("2026-01-01")

  private def dataDir(store: VersionStore, table: String, versionId: Long) =
    Paths.get(s"${store.root}/data/$table/data_version_id=$versionId")

  private def ptpCsv(rows: String*) = csv(
    ("Column 1,Column 2,Modifier,Effective Date,Deletion Date" +: rows)
      .mkString("", "\n", "\n"))

  /** Runs `f` and returns its result with, for every Spark job it started,
    * the call-site stack of the SQL execution the job belongs to ("" for a
    * job outside SQL). The job's own call site is no use here: adaptive
    * execution submits a query's stage jobs from a pool thread. */
  private def jobsOf[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobExecs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId.toString, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobExecs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).getOrElse(""))
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      SpecBus.drain(sc)
      (r, jobExecs.asScala.toSeq.map(id => Option(execSites.get(id)).getOrElse("")))
    } finally sc.removeSparkListener(listener)
  }

  test("partial success: valid rows land, invalid rows reported, status completed") {
    val store = newStore()
    val path = csv(
      """HCPCS,OPPS CAP
        |99213,120.50
        |,90.00
        |99214,140.00
        |99213,999.99
        |""".stripMargin)
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(r.status == "completed")
    assert(r.inserted == 2)      // 99213 + 99214 (dup 99213 removed)
    assert(r.invalid == 1)       // blank hcpcs_code
    assert(r.duplicates == 1)    // second 99213
    assert(r.errors.head.contains("Missing required key column 'hcpcs_code'"))
    val cur = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
    assert(cur.count() == 2)
    // first-wins: the kept 99213 carries the FIRST file value
    assert(cur.filter(col("hcpcs_code") === "99213").head
      .getAs[Double]("opps_cap_amount") == 120.50)
  }

  test("distributed-XLSX ingest releases its scratch XML after landing") {
    val store = newStore()
    val scratch = Files.createTempDirectory("graft-scratch").toString
    val dir = Files.createTempDirectory("graft-ip-xlsx").toString
    val p = s"$dir/ncci.xlsx"
    graft.io.SyntheticXlsx.writeNcciPtp(p, nRows = 2000)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", "65536")
    spark.conf.set("graft.xlsx.scratchDir", scratch)
    try {
      val r = IngestPipeline.ingestFile(spark, store, "NCCI_PTP", p,
        "2026-Q1", d, Some("PRACTITIONER"))
      assert(r.status == "completed" && r.inserted > 0)
      // the inflated sheet XML must not park on disk until JVM exit
      val leftovers = new java.io.File(scratch).listFiles()
      assert(leftovers == null || leftovers.isEmpty,
        s"scratch not released: ${leftovers.mkString(",")}")
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
      spark.conf.unset("graft.xlsx.scratchDir")
    }
  }

  test("all rows invalid -> status failed with first-5 error summary") {
    val store = newStore()
    val path = csv(
      """HCPCS,OPPS CAP
        |,1.00
        |,2.00
        |""".stripMargin)
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(r.status == "failed")
    assert(r.inserted == 0)
    val v = store.versions.filter(col("data_version_id") === r.versionId).head
    assert(v.getAs[String]("status") == "failed")
    assert(v.getAs[String]("error_message").contains("No rows inserted"))
    assert(!Files.exists(dataDir(store, "cms.pfs_opps_cap", r.versionId)))
  }

  test("a header-only upload fails with zero rows and leaves no data directory") {
    val store = newStore()
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP",
      csv("HCPCS,OPPS CAP\n"), "2026-Q1", d)
    assert(r.status == "failed" && r.processed == 0 && r.errors.isEmpty)
    assert(!Files.exists(dataDir(store, "cms.pfs_opps_cap", r.versionId)))
  }

  test("an exception in the data job fails the new version, drops its data, rethrows") {
    val store = newStore()
    // Header detection reads only the first rows; the last row exceeds the
    // CSV parser's 20480-column limit, so only the data job's task fails.
    val rows = (1 to 30).map(i => s"9${1000 + i},1.00") :+ Seq.fill(25000)("x").mkString(",")
    val path = csv(("HCPCS,OPPS CAP" +: rows).mkString("", "\n", "\n"))
    val e = intercept[Exception] {
      IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    }
    val v = store.versions.collect().toSeq
    assert(v.size == 1)
    assert(v.head.getAs[String]("status") == "failed")
    assert(v.head.getAs[String]("error_message") == e.getMessage)
    assert(!Files.exists(dataDir(store, "cms.pfs_opps_cap", v.head.getAs[Long]("data_version_id"))))
  }

  test("one data job per file; metadata transitions launch no job") {
    val store = newStore()
    val (r1, jobs1) = jobsOf(IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
      ptpCsv("00100,00101,1,20240101,*", ",00102,1,20240101,*", "00100,00101,0,20240101,*"),
      "2026-Q1", d, Some("HOSPITAL")))
    val (r2, jobs2) = jobsOf(IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
      ptpCsv("00200,00201,0,20240101,*"), "2026-Q1", d, Some("HOSPITAL")))
    assert(r1.status == "completed" && r1.inserted == 1 && r1.invalid == 1 && r1.duplicates == 1)
    assert(r2.versionId == r1.versionId && r2.inserted == 1)
    for ((name, jobs) <- Seq("new version" -> jobs1, "append" -> jobs2)) {
      val (head, rest) = jobs.partition(_.contains("FileReader$.firstRows"))
      val (write, other) = rest.partition(_.contains("VersionStore.writeData"))
      assert(head.size == 1, s"$name: header fetch jobs")
      // the dedup window's shuffle stage, then the write's result stage
      assert(write.size == 2, s"$name: data jobs:\n${jobs.mkString("\n---\n")}")
      assert(other.isEmpty, s"$name: jobs outside the data path:\n${other.mkString("\n---\n")}")
    }
  }

  test("store metadata transitions launch no Spark job") {
    val store = newStore()
    val (_, jobs) = jobsOf {
      val id = store.createVersion("NCCI_PTP", "2026-Q1", d, Some("HOSPITAL"), "h", "f.csv")
      store.completeVersion(id, 3, markCurrentFor = Some(("NCCI_PTP", Some("HOSPITAL"))))
      store.appendPart(id, 2, "h2", "f2.csv", 4)
      store.log(id, "INFO", "Appended part 2 (4 rows)")
      store.markCurrent(id, "NCCI_PTP", Some("HOSPITAL"))
      store.failVersion(store.createVersion("NCCI_PTP", "2026-Q2", d, None, "h3", "g.csv"), "boom")
      assert(store.hasPart(id, 2) && store.currentVersionIds("NCCI_PTP", Some("HOSPITAL")) == Seq(id))
    }
    assert(jobs.isEmpty, jobs.mkString("\n---\n"))
  }

  test("errors from several XLSX partitions equal the first rows in row order") {
    val dir = Files.createTempDirectory("graft-ip-xlsx").toString
    val p = s"$dir/ncci.xlsx"
    graft.io.SyntheticXlsx.writeNcciPtp(p, nRows = 4000)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", "65536")
    // keep the post-shuffle stage at several partitions, so the error
    // lists of several tasks are merged
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val source = Catalog("NCCI_PTP")
      val raw = FileReader.parseFile(spark, p)._1
      val head = FileReader.firstRows(raw, HeaderDetector.MaxScanRows)
      val det = HeaderDetector.detectHeaderRow(head, IngestPipeline.mappingsOf(source))
      val hdrIdx = det.headerRowIndex.get
      val colIdx = HeaderDetector.getColumnIndex(head(hdrIdx), det.columnMap)
      val dataRows = FileReader.withRowNumbers(raw).filter(col("_row_number") > hdrIdx + 1)
      val typed = Ingestor.transformColumns(Ingestor.project(
        Ingestor.filterEmptyRows(dataRows, colIdx.values.map(i => s"_c$i").toSeq), colIdx), source)
      val (_, quarantine) = Ingestor.validateSplit(typed, source.uniqueKeys)
      assert(quarantine.select(spark_partition_id()).distinct().count() > 1,
        "invalid rows must fall in several partitions")
      val expected = quarantine.orderBy("_row_number").limit(Catalog.Limits.maxCollectedErrors)
        .select("_error").collect().map(_.getString(0)).toSeq
      val r = IngestPipeline.ingestFile(spark, newStore(), "NCCI_PTP", p,
        "2026-Q1", d, Some("PRACTITIONER"))
      assert(expected.size > 1 && r.invalid == expected.size)
      assert(r.errors == expected)
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      FileReader.releaseScratch()
    }
  }

  test("NCCI_PTP multi-part: second file appends under the same version id") {
    val store = newStore()
    val r1 = IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
      ptpCsv("00100,00101,1,20240101,*"), "2026-Q1", d, Some("HOSPITAL"))
    assert(r1.status == "completed")
    val r2 = IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
      ptpCsv("00200,00201,0,20240101,*", "00300,00301,9,20240101,20250101"),
      "2026-Q1", d, Some("HOSPITAL"))
    assert(r2.versionId == r1.versionId) // appended, not a new version
    val v = store.versions.filter(col("data_version_id") === r1.versionId).head
    assert(v.getAs[Long]("record_count") == 3)  // 1 + 2
    assert(v.getAs[Int]("part_count") == 2)
    assert(store.parts.filter(col("data_version_id") === r1.versionId).count() == 1)
    assert(store.data("cms.ncci_ptp")
      .filter(col("data_version_id") === r1.versionId).count() == 3)
  }

  test("validation report: counts, drift warning, sampled type warnings, dup file") {
    val store = newStore()
    val good = csv(
      """HCPCS,OPPS CAP
        |99213,120.50
        |99214,oops
        |99215,140.00
        |99216,1.00
        |""".stripMargin)
    val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", good, "2026-Q1")
    assert(rep.valid && rep.dataRows == 4 && rep.headerRowIndex.contains(0))
    assert(rep.warnings.exists(w => w.contains("opps_cap_amount") && w.contains("oops")))

    // ingest it, then a tiny file must trigger the drift warning, and the
    // same file again must flag duplicate
    IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", good, "2026-Q1", d)
    val tiny = csv("HCPCS,OPPS CAP\n99213,1.00\n")
    val rep2 = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", tiny, "2026-Q2")
    assert(rep2.warnings.exists(_.contains("less than half")))
    val rep3 = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", good, "2026-Q2")
    assert(rep3.duplicateFile && !rep3.valid)
  }

  test("oversized upload is rejected with the reference's size-cap message") {
    val store = newStore()
    // A sparse file: size() reports >100 MB without writing the bytes — the
    // cap must reject on size alone, before any read of the content.
    val big = Files.createTempFile("graft-ip", ".csv")
    val raf = new java.io.RandomAccessFile(big.toFile, "rw")
    try raf.setLength(105L * 1024 * 1024) finally raf.close()
    val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", big.toString, "2026-Q1")
    assert(!rep.valid)
    assert(rep.errors == Seq("File size (105.0 MB) exceeds maximum (100 MB)"))
  }

  test("all-invalid file: error list capped at 10k, counts stay exact") {
    val store = newStore()
    val n = graft.config.Catalog.Limits.maxCollectedErrors + 50
    val body = (1 to n).map(_ => ",1.00").mkString("\n")
    val path = csv(s"HCPCS,OPPS CAP\n$body\n")
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(r.status == "failed")
    assert(r.invalid == n)                 // exact, computed distributed
    assert(r.errors.size == graft.config.Catalog.Limits.maxCollectedErrors)
    assert(r.errors.head.contains("Row 2:")) // first-N by row order
  }

  test("ingest of a headerless file raises the detector's message") {
    val store = newStore()
    val noHdr = csv("a,b\n1,2\n")
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", noHdr, "2026-Q1", d)
    }
    assert(e.getMessage.contains("Could not find header row"))
    assert(store.versions.isEmpty) // nothing half-created
  }

  test("unsupported extension and missing header are reported, not thrown") {
    val store = newStore()
    val pdf = Files.createTempFile("graft-ip", ".pdf")
    Files.writeString(pdf, "junk")
    val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", pdf.toString, "2026-Q1")
    assert(!rep.valid && rep.errors.head.contains("Unsupported file type"))
    val noHdr = csv("a,b\n1,2\n")
    val rep2 = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", noHdr, "2026-Q1")
    assert(!rep2.valid && rep2.errors.head.contains("Could not find header row"))
  }
}
