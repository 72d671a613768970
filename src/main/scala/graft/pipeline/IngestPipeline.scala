package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{Catalog, SourceConfig}
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.store.VersionStore

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** The end-to-end ingest orchestration — the Spark re-expression of the
  * reference's `POST /upload/{source}/ingest` flow (upload.py:419-561 →
  * ingestor.py:691-783 → 504-648) and its `validate` dry-run twin
  * (upload.py:196-416).
  *
  * An ingest runs the reference's order: header detection on the first 15
  * rows (one small job), a `processing` version row, then ONE data job
  * that parses, projects, transforms, validates, dedups and writes the
  * file, then the version's completion. Validation and dedup share one
  * window (see [[Ingestor.rankDuplicates]]), and the inserted, duplicate
  * and invalid counts plus the first `maxCollectedErrors` error strings are
  * observed on that plan above the window — in the write's result stage, so
  * a retried task is counted once. No intermediate is cached, counted or
  * collected. The quarantine split replaces the reference's
  * write-then-retry-per-row fallback: identical observable outcome (partial
  * success + per-row error strings), one pass. Metadata transitions run no
  * Spark job (see [[VersionStore]]).
  */
object IngestPipeline {

  final case class IngestResult(
      versionId: Long, status: String, processed: Long, inserted: Long,
      invalid: Long, duplicates: Long, errors: Seq[String],
      headerRowIndex: Int, unmappedColumns: Seq[String])

  final case class ValidationReport(
      valid: Boolean, dataRows: Long, headerRowIndex: Option[Int],
      columnMap: Map[String, String], unmappedColumns: Seq[String],
      errors: Seq[String], warnings: Seq[String], duplicateFile: Boolean,
      willAppend: Boolean)

  private[graft] def mappingsOf(source: SourceConfig): ListMap[String, HeaderDetector.ColumnMapping] =
    ListMap(source.columns.collect {
      case c if c.acceptedHeaders.nonEmpty =>
        c.internalName -> HeaderDetector.ColumnMapping(c.acceptedHeaders, c.isRequired)
    }: _*)

  /** Parse + detect + project + transform, lazily: the only job here is
    * header detection's bounded fetch of the first rows. Returns the typed
    * rows (with `_row_number`) and the detection. */
  private def prepare(spark: SparkSession, source: SourceConfig, path: String):
      (DataFrame, HeaderDetector.Detection) = {
    val (raw, _) = FileReader.parseFile(spark, path)
    val head = FileReader.firstRows(raw, HeaderDetector.MaxScanRows)
    val det = HeaderDetector.detectHeaderRow(head, mappingsOf(source))
    if (!det.found)
      throw new IllegalArgumentException(det.error.getOrElse("header not found"))
    val hdrIdx = det.headerRowIndex.get
    val colIdx = HeaderDetector.getColumnIndex(head(hdrIdx), det.columnMap)
    val numbered = FileReader.withRowNumbers(raw)
    val dataRows = numbered.filter(col("_row_number") > hdrIdx + 1)
    val nonEmpty = Ingestor.filterEmptyRows(dataRows, colIdx.values.map(i => s"_c$i").toSeq)
    (Ingestor.transformColumns(Ingestor.project(nonEmpty, colIdx), source), det)
  }

  /** What the data job observed while writing one file. */
  private final case class Landed(inserted: Long, duplicates: Long, invalid: Long,
                                  errors: Seq[String])

  /** The data job: writes the first-wins rows of `typed` into the version's
    * partition and returns the counts and first errors observed on the way. */
  private def land(store: VersionStore, source: SourceConfig, typed: DataFrame,
                   versionId: Long, append: Boolean): Landed = {
    val obs = Observation()
    val rank = col("_dup_rank")
    val ranked = Ingestor.rankDuplicates(typed, source.uniqueKeys).observe(obs,
      count(when(rank === 1, lit(1))).as("inserted"),
      count(when(rank > 1, lit(1))).as("duplicates"),
      count(when(rank.isNull, lit(1))).as("invalid"),
      Ingestor.firstErrors(col("_row_number"), Ingestor.missingKeyError(source.uniqueKeys),
        Catalog.Limits.maxCollectedErrors).as("errors"))
    store.writeData(source.targetTable, versionId,
      ranked.filter(rank === 1).drop("_dup_rank", "_row_number"), append)
    val m = obs.get
    Landed(m("inserted").asInstanceOf[Long], m("duplicates").asInstanceOf[Long],
      m("invalid").asInstanceOf[Long], m("errors").asInstanceOf[scala.collection.Seq[String]].toSeq)
  }

  /** Full ingest with the reference's partial-success semantics:
    * `completed` iff any rows landed (ingestor.py:624, 747-768); all-fail →
    * `failed` with a first-5 error summary (770-774), and an exception in
    * the data job → `failed` with its message, then rethrown. A failed new
    * version keeps no data directory. NCCI_PTP multi-part: if a completed
    * version already exists for (source, label, variant) the file appends
    * under the SAME version id (691-783). */
  def ingestFile(spark: SparkSession, store: VersionStore, sourceCode: String,
                 path: String, versionLabel: String,
                 effectiveDate: java.sql.Date, variant: Option[String] = None,
                 markAsCurrent: Boolean = true): IngestResult = try {
    val source = Catalog(sourceCode)
    val fileHash = VersionStore.sha256File(path)
    val fileName = path.substring(path.lastIndexOf('/') + 1)

    val existing = if (source.multiPart)
      store.versions.filter(
        col("source_code") === source.sourceCode &&
          col("version_label") === versionLabel &&
          (col("variant") <=> lit(variant.orNull)) &&
          col("status") === "completed")
        .select("data_version_id", "part_count").collect().headOption
    else None

    val (typed, det) = prepare(spark, source, path)
    def result(versionId: Long, status: String, l: Landed) =
      IngestResult(versionId, status, l.inserted + l.invalid + l.duplicates,
        l.inserted, l.invalid, l.duplicates, l.errors,
        det.headerRowIndex.get, det.unmappedColumns)

    existing match {
      case Some(row) => // U4 append path
        val versionId = row.getLong(0)
        val part = row.getInt(1) + 1
        val l = land(store, source, typed, versionId, append = true)
        store.appendPart(versionId, part, fileHash, fileName, l.inserted)
        store.log(versionId, "INFO", s"Appended part $part (${l.inserted} rows)")
        result(versionId, "completed", l)
      case None =>
        val versionId = store.createVersion(source.sourceCode, versionLabel,
          effectiveDate, variant, fileHash, fileName)
        val l = try land(store, source, typed, versionId, append = false) catch {
          case NonFatal(e) =>
            store.deleteData(source.targetTable, versionId)
            store.failVersion(versionId, Option(e.getMessage).getOrElse(e.toString))
            throw e
        }
        if (l.inserted > 0) {
          store.completeVersion(versionId, l.inserted,
            markCurrentFor = if (markAsCurrent) Some((source.sourceCode, variant)) else None)
          if (l.invalid > 0)
            store.log(versionId, "WARNING",
              s"${l.invalid} rows failed validation",
              Some(l.errors.take(5).mkString("[\"", "\",\"", "\"]")))
          result(versionId, "completed", l)
        } else {
          store.deleteData(source.targetTable, versionId)
          store.failVersion(versionId,
            s"No rows inserted. First errors: ${l.errors.take(5).mkString("; ")}")
          result(versionId, "failed", l)
        }
    }
  } finally {
    // The write has read the upload for the last time, so any XLSX scratch
    // XML can go now instead of parking ~10× the upload size on disk until
    // JVM exit.
    FileReader.releaseScratch()
  }

  /** Dry-run validation preview (upload.py:196-416 + validator.py:13-87):
    * extension/duplicate checks, header detection, row counts, drift
    * warnings vs the previous completed version, sampled type warnings. */
  def validateFile(spark: SparkSession, store: VersionStore, sourceCode: String,
                   path: String, versionLabel: String,
                   variant: Option[String] = None): ValidationReport = {
    val source = Catalog(sourceCode)
    val ext = path.substring((path.lastIndexOf('.') max 0)).toLowerCase
    if (!Seq(".csv", ".xlsx", ".xls", ".txt").contains(ext))
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        Seq(s"Unsupported file type: $ext"), Seq.empty,
        duplicateFile = false, willAppend = false)

    // Size cap before any read of the content — the reference rejects
    // oversized uploads with this exact message (upload.py:231-242,
    // config.py:22 max_upload_size_mb=100).
    val fileSize = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    if (fileSize > Catalog.Limits.maxFileSizeBytes) {
      val sizeMb = String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(fileSize / 1024.0 / 1024.0))
      val maxMb = Catalog.Limits.maxFileSizeBytes / 1024 / 1024
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        Seq(s"File size ($sizeMb MB) exceeds maximum ($maxMb MB)"), Seq.empty,
        duplicateFile = false, willAppend = false)
    }

    val fileHash = VersionStore.sha256File(path)
    val isDup = store.isDuplicateFile(source.sourceCode, fileHash)

    try {
    val (raw, _) = FileReader.parseFile(spark, path)
    val head = FileReader.firstRows(raw, HeaderDetector.MaxScanRows)
    val det = HeaderDetector.detectHeaderRow(head, mappingsOf(source))
    if (!det.found)
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        det.error.toSeq, Seq.empty, isDup, willAppend = false)

    val hdrIdx = det.headerRowIndex.get
    val colIdx = HeaderDetector.getColumnIndex(head(hdrIdx), det.columnMap)
    val numbered = FileReader.withRowNumbers(raw)
    val dataRows = numbered.filter(col("_row_number") > hdrIdx + 1)
    val nData = dataRows.count()
    val errors = if (nData == 0) Seq("File contains no data rows") else Seq.empty

    // D5 drift vs previous completed version of this source
    val prevCount = store.versions
      .filter(col("source_code") === source.sourceCode && col("status") === "completed")
      .orderBy(col("effective_date").desc).limit(1)
      .select("record_count").collect().headOption.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[Long])
    val driftWarnings = prevCount.toSeq.collect {
      case p if nData < p * 0.5 =>
        s"Row count $nData is less than half the previous upload ($p)"
      case p if nData > p * 1.5 =>
        s"Row count $nData is more than 1.5x the previous upload ($p)"
    }

    // D6 sampled type warnings over the first 100 data rows
    val projected = Ingestor.project(dataRows.limit(Catalog.Limits.typeValidationSampleRows), colIdx)
    val typeWarnings = Ingestor.typeValidationWarnings(projected, source)
      .collect().map { r =>
        s"Column '${r.getAs[String]("column")}' expects ${r.getAs[String]("expected_type")} " +
          s"but row ${r.getAs[Long]("row_number")} has '${r.getAs[String]("value")}'"
      }.toSeq

    val willAppend = source.multiPart && !store.versions.filter(
      col("source_code") === source.sourceCode &&
        col("version_label") === versionLabel &&
        (col("variant") <=> lit(variant.orNull)) &&
        col("status") === "completed").isEmpty

    ValidationReport(errors.isEmpty && !isDup, nData, Some(hdrIdx),
      det.columnMap, det.unmappedColumns, errors,
      driftWarnings ++ typeWarnings, isDup, willAppend)
    // All report fields are computed values; nothing re-reads the upload
    // after this point, so the dry run cleans up its scratch XML too.
    } finally FileReader.releaseScratch()
  }
}
