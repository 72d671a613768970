package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.Catalog
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.pipeline.{IngestPipeline, Ingestor}
import graft.pipeline.IngestPipeline.IngestResult
import graft.store.VersionStore

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** `ingest`: one two-part NCCI_PTP upload per round into a fresh store —
  * the CSV part creates the version, the XLSX part appends to it — timed
  * from the first `ingestFile` call until the current view has been read
  * in full. Traced rounds replay `ingestFile`'s public call sequence with
  * a span around each layer, and must reproduce the untraced results. */
final class IngestWorkload(ctx: Ctx, csvRows: Int, xlsxRows: Int) extends Workload {
  import IngestWorkload._
  import ctx.{spark, tracer}

  private var upload: IngestInputs.Upload = _
  /** Results of the untraced warm-up round, which every round must equal. */
  private var reference: Option[(IngestResult, IngestResult)] = None

  def prepare(): Unit =
    upload = IngestInputs.ensure(ctx.inputs, ctx.seed, csvRows, xlsxRows)

  /** Round times keep falling for about eight rounds while the JIT
    * compiles the pipeline's driver-side code. */
  override def warmUpRounds: Int = 8

  def round(n: Int): Round = {
    val acc = new ctx.RoundAcc
    val root = ctx.scratch.resolve(s"ingest-store-$n")
    Manifest.deleteTree(root)
    val store = new VersionStore(spark, root.toString)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val swaps = new Array[Int](1)
    val out = acc.op("ingest") {
      val ingest: Path => IngestResult =
        if (ctx.traced) replay(store, _, swaps, acc)
        else p => IngestPipeline.ingestFile(spark, store, Source, p.toString, Label, Effective, Variant)
      val r1 = ingest(upload.csv)
      val r2 = ingest(upload.xlsx)
      val view = tracer.span("store.current_view") {
        val v = store.currentView(Table, Source, Variant)
        v.write.format("noop").mode("overwrite").save()
        v
      }
      (r1, r2, view)
    }(check)
    out.foreach { case (r1, r2, _) =>
      if (reference.isEmpty && !ctx.traced) reference = Some((r1, r2))
      val versionDir = root.resolve(s"data/$Table/data_version_id=${r1.versionId}")
      val bytes = Manifest.treeBytes(versionDir)
      val files = Files.list(versionDir)
      try acc.add("store.files_written",
        files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")))
      finally files.close()
      acc.add("store.bytes_written", bytes.toDouble)
      acc.add("store.bytes_per_input_byte", bytes.toDouble / upload.inputBytes)
      acc.add("store.meta_swaps", swaps(0))
      acc.add("io.peak_heap_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      Seq(r1, r2).foreach { r =>
        acc.add("pipeline.rows_processed", r.processed.toDouble)
        acc.add("pipeline.rows_inserted", r.inserted.toDouble)
        acc.add("pipeline.rows_invalid", r.invalid.toDouble)
        acc.add("pipeline.rows_duplicate", r.duplicates.toDouble)
      }
    }
    Manifest.deleteTree(root)
    acc.result()
  }

  /** Counters equal the planted counts, both parts land in one version,
    * the current view holds exactly the inserted rows with unique keys,
    * and a traced replay reproduces the untraced results. */
  private def check(out: (IngestResult, IngestResult, DataFrame)): Option[String] = {
    val (r1, r2, view) = out
    def part(r: IngestResult, p: IngestInputs.Part, name: String): Seq[String] = {
      val got = IngestInputs.Counts(r.processed, r.inserted, r.invalid, r.duplicates)
      Seq(
        Option.when(r.status != "completed")(s"$name status ${r.status}"),
        Option.when(got != p.counts)(s"$name counts $got, planted ${p.counts}"),
        Option.when(r.headerRowIndex != p.headerRowIndex)(
          s"$name header row ${r.headerRowIndex}, planted ${p.headerRowIndex}")).flatten
    }
    val stats = view.agg(count(lit(1)), countDistinct(col("comprehensive_code"),
      col("component_code"))).head()
    val inserted = r1.inserted + r2.inserted
    val problems = part(r1, upload.part1, "part 1") ++ part(r2, upload.part2, "part 2") ++
      Option.when(r1.versionId != r2.versionId)(s"part 2 landed in version ${r2.versionId}") ++
      Option.when(stats.getLong(0) != inserted || stats.getLong(1) != inserted)(
        s"current view rows ${stats.getLong(0)} (distinct keys ${stats.getLong(1)}), inserted $inserted") ++
      reference.filter(_ != ((r1, r2))).map(ref => s"results $r1, $r2 differ from untraced $ref")
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** `IngestPipeline.ingestFile` as a sequence of public calls, one span
    * per layer. Mirrors the pipeline step for step: any divergence shows as
    * a mismatch against the untraced results. */
  private def replay(store: VersionStore, path: Path, swaps: Array[Int],
                     acc: Ctx#RoundAcc): IngestResult = try {
    val source = Catalog(Source)
    val file = path.toString
    val ext = file.substring(file.lastIndexOf('.') + 1)
    val io = s"io.parse_$ext"
    val (fileHash, existing) = tracer.span("store.meta") {
      (VersionStore.sha256File(file), store.versions.filter(
        col("source_code") === source.sourceCode && col("version_label") === Label &&
          (col("variant") <=> lit(Variant.orNull)) && col("status") === "completed")
        .select("data_version_id", "part_count").collect().headOption)
    }
    val raw = tracer.span(io)(FileReader.parseFile(spark, file)._1)
    if (ext == "xlsx") acc.add("io.xlsx_scratch_bytes", xlsxScratchBytes.toDouble)
    val head = tracer.span(io)(FileReader.firstRows(raw, HeaderDetector.MaxScanRows))
    val (det, colIdx) = tracer.span("header.detect") {
      val det = HeaderDetector.detectHeaderRow(head, Mappings)
      if (!det.found) throw new IllegalArgumentException(det.error.getOrElse("header not found"))
      (det, HeaderDetector.getColumnIndex(head(det.headerRowIndex.get), det.columnMap))
    }
    val hdrIdx = det.headerRowIndex.get
    val numbered = tracer.span(io)(FileReader.withRowNumbers(raw))
    val typed = tracer.span("pipeline.transform") {
      val dataRows = numbered.filter(col("_row_number") > hdrIdx + 1)
      val nonEmpty = Ingestor.filterEmptyRows(dataRows, colIdx.values.map(i => s"_c$i").toSeq)
      Ingestor.transformColumns(Ingestor.project(nonEmpty, colIdx), source).localCheckpoint()
    }
    val (valid, quarantine) = tracer.span("pipeline.validate")(
      Ingestor.validateSplit(typed, source.uniqueKeys))
    val (toWrite, inserted) = tracer.span("pipeline.dedup") {
      val (unique, _) = Ingestor.dedupFirstWins(valid, source.uniqueKeys)
      val w = unique.drop("_row_number").persist()
      (w, w.count())
    }
    val (validCount, invalidCount) = tracer.span("pipeline.validate")(
      Ingestor.validCounts(typed, source.uniqueKeys))
    val dupCount = validCount - inserted
    val invalidRows = tracer.span("pipeline.errors") {
      quarantine.select("_error", "_row_number").orderBy("_row_number")
        .limit(Catalog.Limits.maxCollectedErrors).collect().map(_.getString(0)).toSeq
    }
    def result(id: Long, status: String, processed: Long, ins: Long) =
      IngestResult(id, status, processed, ins, invalidCount, dupCount, invalidRows,
        hdrIdx, det.unmappedColumns)
    val fileName = path.getFileName.toString
    val res = existing match {
      case Some(row) =>
        val versionId = row.getLong(0)
        tracer.span("store.write")(store.writeData(source.targetTable, versionId, toWrite, append = true))
        tracer.span("store.meta") {
          store.appendPart(versionId, row.getInt(1) + 1, fileHash, fileName, inserted)
          store.log(versionId, "INFO", s"Appended part ${row.getInt(1) + 1} ($inserted rows)")
        }
        swaps(0) += 3
        result(versionId, "completed", inserted + invalidCount + dupCount, inserted)
      case None =>
        val versionId = tracer.span("store.meta")(store.createVersion(source.sourceCode, Label,
          Effective, Variant, fileHash, fileName))
        swaps(0) += 1
        if (inserted > 0) {
          tracer.span("store.write")(store.writeData(source.targetTable, versionId, toWrite))
          tracer.span("store.meta") {
            store.completeVersion(versionId, inserted, markCurrentFor = Some((source.sourceCode, Variant)))
            swaps(0) += 1
            if (invalidCount > 0) {
              store.log(versionId, "WARNING", s"$invalidCount rows failed validation",
                Some(invalidRows.take(5).mkString("[\"", "\",\"", "\"]")))
              swaps(0) += 1
            }
          }
          result(versionId, "completed", inserted + invalidCount + dupCount, inserted)
        } else {
          tracer.span("store.meta")(store.failVersion(versionId,
            s"No rows inserted. First errors: ${invalidRows.take(5).mkString("; ")}"))
          swaps(0) += 1
          result(versionId, "failed", invalidCount + dupCount, 0)
        }
    }
    toWrite.unpersist()
    typed.unpersist()
    res
  } finally FileReader.releaseScratch()

  private def xlsxScratchBytes: Long = {
    val dir = ctx.scratch.resolve("xlsx")
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-xlsx-"))
        .map(Files.size).sum
      finally s.close()
    }
  }
}

object IngestWorkload {
  val Source = "NCCI_PTP"
  val Table: String = Catalog(Source).targetTable
  val Variant: Option[String] = Some("PRACTITIONER")
  val Label = "2026-Q1"
  val Effective: java.sql.Date = java.sql.Date.valueOf("2026-01-01")

  /** Header-detection mappings of the source, from its public catalog. */
  val Mappings: ListMap[String, HeaderDetector.ColumnMapping] =
    ListMap(Catalog(Source).columns.collect {
      case c if c.acceptedHeaders.nonEmpty =>
        c.internalName -> HeaderDetector.ColumnMapping(c.acceptedHeaders, c.isRequired)
    }: _*)
}
