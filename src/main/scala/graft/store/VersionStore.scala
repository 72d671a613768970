package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.Catalog

/** Versioned relational store over parquet.
  *
  * Layout: `root/data/<table>/data_version_id=<id>/…parquet` (hive-style
  * partitioning so version predicates prune at the FILE level — a "current
  * version" read of a 100 TB table touches only that version's files), plus
  * small metadata parquet tables `root/meta/{data_versions,parts,logs}`.
  *
  * Reference semantics: scripts/init_db.py:36-155 (metadata schema),
  * app/services/ingestor.py:101-259 (lifecycle), 691-783 (multi-part append),
  * scripts/init_db.py:418-518 (current views).
  *
  * Metadata is written as driver-local parquet: the rows are KB-scale and
  * already on the driver, so each file goes through Spark's own parquet
  * writer (session codec, Spark-readable) from the driver — no job, no
  * task, no commit protocol. A metadata transition launches no Spark job.
  *
  * Atomicity (U3): updates to the versions and parts tables are
  * write-new-then-rename swaps of the whole table directory — the same
  * observable contract as the reference's DB transaction, under a
  * single-writer discipline. A log row is written under a hidden name and
  * renamed in, so readers never see a partial file.
  */
final class VersionStore(val spark: SparkSession, val root: String) {
  import VersionStore._

  private val metaDir = s"$root/meta"
  private val dataDir = s"$root/data"

  def versionsPath: String = s"$metaDir/data_versions"
  def partsPath: String = s"$metaDir/data_version_parts"
  def logsPath: String = s"$metaDir/ingestion_logs"

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  // The versions/parts metadata tables are KB-scale and this store is
  // single-writer (class contract above), so they are cached as driver-local
  // rows and served as LocalRelations: a metadata read costs no file-scan
  // job, and a swap costs one local collect plus one driver-written parquet
  // file. The parquet under `meta/` stays the source of truth on disk —
  // a fresh VersionStore instance on the same root reloads it.
  private var versionsCache: Option[Seq[Row]] = None
  private var partsCache: Option[Seq[Row]] = None

  private def localDF(rows: Seq[Row], schema: StructType): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }

  private def loadMeta(cache: Option[Seq[Row]], path: String): Seq[Row] =
    cache.getOrElse {
      if (exists(path)) spark.read.parquet(path).collect().toSeq
      else Seq.empty
    }

  /** Cached versions rows for driver-side metadata reads. Positional field
    * access only — rows constructed here are schemaless GenericRows. */
  private def versionRows: Seq[Row] = {
    val rows = loadMeta(versionsCache, versionsPath)
    versionsCache = Some(rows)
    rows
  }

  /** Versions metadata DF (empty-shaped if none yet). */
  def versions: DataFrame = localDF(versionRows, versionSchema)

  private def partRows: Seq[Row] = {
    val rows = loadMeta(partsCache, partsPath)
    partsCache = Some(rows)
    rows
  }

  def parts: DataFrame = localDF(partRows, partSchema)

  def logs: DataFrame =
    if (exists(logsPath)) spark.read.parquet(logsPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)

  /** Write `rows` as one parquet file in `dir` from the driver, through the
    * same ParquetFileFormat writer a Spark write uses. The file is written
    * under a hidden name (readers skip `.`-prefixed files) and renamed in;
    * the Hadoop rename carries the local filesystem's `.crc` along. Columns
    * are written nullable, as a Spark write would. */
  private def writeLocalParquet(rows: Seq[Row], schema: StructType, dir: String): Unit = {
    val fileSchema = StructType(schema.map(_.copy(nullable = true)))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, fileSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}${factory.getFileExtension(ctx)}"
    val hidden = new Path(dir, s".$name")
    val writer = factory.newInstance(hidden.toString, fileSchema, ctx)
    val toInternal = ExpressionEncoder(fileSchema, true).createSerializer()
    try rows.foreach(r => writer.write(toInternal(r))) finally writer.close()
    val fs = hidden.getFileSystem(job.getConfiguration)
    if (!fs.rename(hidden, new Path(dir, name)))
      throw new java.io.IOException(s"could not rename $hidden into $dir")
  }

  /** Atomic swap: write the new state to a temp dir, then rename it over
    * the live one. The rows are cached for subsequent metadata reads. */
  private def swapWrite(df: DataFrame, path: String): Unit =
    swapWriteRows(df.collect().toSeq, df.schema, path)

  private def swapWriteRows(rows: Seq[Row], schema: StructType, path: String): Unit = {
    if (path == versionsPath) versionsCache = Some(rows)
    else if (path == partsPath) partsCache = Some(rows)
    val tmp = Paths.get(path + ".tmp")
    deleteRecursively(tmp)
    writeLocalParquet(rows, schema, tmp.toString)
    val live = Paths.get(path)
    val old = Paths.get(path + ".old")
    if (Files.exists(live)) {
      deleteRecursively(old)
      Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** U2 create a version in 'processing' state; returns its id. The new row
    * is built driver-side from the cached metadata. */
  def createVersion(sourceCode: String, versionLabel: String,
                    effectiveDate: java.sql.Date, variant: Option[String],
                    fileHash: String, fileName: String): Long = {
    val cur = versionRows
    val nextId =
      if (cur.isEmpty) 1L else cur.map(_.getLong(0)).max + 1L
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val row = Row(
      nextId, sourceCode, versionLabel, effectiveDate, variant.orNull,
      "processing", fileHash, fileName, null, false, now, 1, null)
    swapWriteRows(cur :+ row, versionSchema, versionsPath)
    nextId
  }

  /** U2 transition: completed (+record_count) or failed (+error). When
    * `markCurrentFor` is set, the U3 current-swap happens in the SAME
    * metadata swap — one atomic transition, like the reference's single DB
    * transaction (and one fewer metadata write per ingest). */
  def completeVersion(id: Long, recordCount: Long,
                      markCurrentFor: Option[(String, Option[String])] = None): Unit =
    updateVersion(id, v => {
      val completed = v
        .withColumn("status", when(col("data_version_id") === id, "completed").otherwise(col("status")))
        .withColumn("record_count", when(col("data_version_id") === id, recordCount).otherwise(col("record_count")))
      markCurrentFor match {
        case Some((sourceCode, variant)) =>
          val scope = col("source_code") === sourceCode &&
            (col("variant") <=> lit(variant.orNull))
          completed.withColumn("is_current",
            when(col("data_version_id") === id, true)
              .when(scope, false)
              .otherwise(col("is_current")))
        case None => completed
      }
    })

  def failVersion(id: Long, error: String): Unit = updateVersion(id,
    _.withColumn("status", when(col("data_version_id") === id, "failed").otherwise(col("status")))
      .withColumn("error_message", when(col("data_version_id") === id, error).otherwise(col("error_message"))))

  private def updateVersion(id: Long, f: DataFrame => DataFrame): Unit =
    swapWrite(f(versions), versionsPath)

  /** U3 mark-as-current: one swap clears is_current for the (source,
    * variant) scope and sets it on the new version — null-safe variant
    * compare, like the reference's `IS NOT DISTINCT FROM` (ingestor.py:226-259). */
  def markCurrent(id: Long, sourceCode: String, variant: Option[String]): Unit = {
    val scope = col("source_code") === sourceCode &&
      (col("variant") <=> lit(variant.orNull))
    updateVersion(id, v =>
      v.withColumn("is_current",
        when(col("data_version_id") === id, true)
          .when(scope, false)
          .otherwise(col("is_current"))))
  }

  /** Write a version's data partition (U4 append mode for multi-part).
    * The partition value is a constant for the whole write, so the files go
    * straight into the hive-style `data_version_id=<id>` directory — the
    * on-disk layout (and the partition-pruned read path) is identical to a
    * `partitionBy` write, without the dynamic-partition writer, and
    * Overwrite is scoped to THIS version's directory instead of risking a
    * static-mode truncate of every other version's partition. */
  def writeData(table: String, versionId: Long, df: DataFrame, append: Boolean = false): Unit = {
    df.write.mode(if (append) SaveMode.Append else SaveMode.Overwrite)
      .parquet(s"$dataDir/$table/data_version_id=$versionId")
  }

  /** Remove a version's data partition, if any. */
  def deleteData(table: String, versionId: Long): Unit =
    deleteRecursively(Paths.get(s"$dataDir/$table/data_version_id=$versionId"))

  /** Part already committed to the ledger? (The exactly-once probe.) */
  def hasPart(versionId: Long, partNumber: Int): Boolean =
    partRows.exists(r => r.getLong(0) == versionId && r.getInt(1) == partNumber)

  /** Land one part EXACTLY ONCE even under crash/replay: skip if the part
    * is on the ledger, otherwise [[stagePart]] (idempotent data move) then
    * [[commitPart]] (ledger append — the commit point). Any crash before
    * the ledger append leaves a state a replay repairs: re-staging
    * deletes that part's previous files (deterministic `p<part>-<i>` names)
    * before renaming the fresh ones in, so a half-moved earlier attempt
    * can never leave extra rows behind. Returns rows landed (0 = skipped).
    *
    * Concurrency contract: ONE writer per store root. The metadata swap is
    * a whole-file rename with a per-JVM cache, so two concurrent driver
    * processes can interleave hasPart→stage→commit and double-append the
    * ledger (data files stay deduplicated via the deterministic names; the
    * part ledger and its counters would not). Within one JVM the re-probe
    * inside the synchronized [[commitPart]] closes that window — a zombie
    * foreachBatch replay on the same driver lands exactly once. */
  def landPart(table: String, versionId: Long, partNumber: Int,
               df: DataFrame, fileHash: String, fileName: String): Long = {
    if (hasPart(versionId, partNumber)) return 0L
    val n = stagePart(table, versionId, partNumber, df)
    commitPart(versionId, partNumber, fileHash, fileName, n)
    n
  }

  /** Idempotent data move for [[landPart]]: write the part to a staging
    * dir, delete any `p<part>-*.parquet` files a previous (crashed)
    * attempt moved, then rename the staged files to those deterministic
    * names. Exposed separately so specs can exercise the
    * crash-after-stage-before-commit window directly. */
  private[graft] def stagePart(table: String, versionId: Long,
                               partNumber: Int, df: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = new org.apache.hadoop.fs.Path(
      s"$dataDir/$table/.staging-v$versionId-p$partNumber")
    val dest = new org.apache.hadoop.fs.Path(
      s"$dataDir/$table/data_version_id=$versionId")
    val fs = staging.getFileSystem(conf)
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.mkdirs(dest)
    // Sweep any earlier attempt's files for THIS part, then move.
    fs.globStatus(new org.apache.hadoop.fs.Path(dest, s"p$partNumber-*.parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    val n = spark.read.parquet(staging.toString).count()
    val staged = fs.listStatus(staging)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    staged.zipWithIndex.foreach { case (st, i) =>
      val target = new org.apache.hadoop.fs.Path(dest, s"p$partNumber-$i.parquet")
      fs.rename(st.getPath, target): Unit
    }
    fs.delete(staging, true): Unit
    n
  }

  /** Ledger append — the atomic commit point of [[landPart]]. The
    * uniqueness guard lives HERE, not only in the caller's earlier
    * [[hasPart]] probe: re-probing under the lock turns landPart's
    * check-then-act into a safe compare-and-commit for same-JVM replays. */
  private[graft] def commitPart(versionId: Long, partNumber: Int,
                                fileHash: String, fileName: String,
                                recordCount: Long): Unit = synchronized {
    if (!hasPart(versionId, partNumber))
      appendPart(versionId, partNumber, fileHash, fileName, recordCount)
  }

  /** S7's relational-sink sibling: write a version's rows to an external
    * RDBMS over JDBC in 1000-row insert batches — the same page size as the
    * reference's `execute_values(..., page_size=1000)` bulk insert
    * (ingestor.py:383-438, config `insertBatchSize`). Executors open their
    * own connections and batch independently, so the insert parallelism
    * scales with the DataFrame's partitioning (repartition upstream to match
    * what the target database can absorb). */
  def writeJdbc(url: String, table: String, versionId: Long, df: DataFrame,
                properties: java.util.Properties = new java.util.Properties(),
                mode: SaveMode = SaveMode.Append): Unit =
    df.withColumn("data_version_id", lit(versionId))
      .write.mode(mode)
      .option("batchsize", Catalog.Limits.insertBatchSize)
      .jdbc(url, table, properties)

  /** Compact one version's data directory into `targetFiles` parquet files,
    * with the same write-new-then-rename swap the metadata uses. The ingest
    * parallelism that made the WRITE fast leaves file counts sized for the
    * writing cluster, not the readers — at scale, every query thereafter
    * pays the listing + footer cost of thousands of small files until a
    * compaction pass amortizes it away. Readers see the old files or the
    * new ones, never a mix. */
  def compactVersion(table: String, versionId: Long, targetFiles: Int = 1): Unit = {
    val dir = s"$dataDir/$table/data_version_id=$versionId"
    val tmp = dir + ".compact-tmp"
    spark.read.parquet(dir).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val live = Paths.get(dir)
    val old = Paths.get(dir + ".old")
    deleteRecursively(old)
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  def data(table: String): DataFrame = spark.read.parquet(s"$dataDir/$table")

  /** J2 current view. The current version ids are resolved DRIVER-SIDE from
    * the cached metadata and emitted as a static `isin` partition filter, so
    * the scan provably prunes to the current version's files at PLANNING
    * time — on a table with years of version history this is the difference
    * between listing one `data_version_id=<id>` directory and scanning them
    * all (a broadcast join would at best prune dynamically at runtime).
    * Null-safe variant compare mirrors the reference's
    * `IS NOT DISTINCT FROM` (init_db.py:418-518). */
  def currentView(table: String, sourceCode: String, variant: Option[String] = None): DataFrame = {
    val ids = currentVersionIds(sourceCode, variant)
    data(table).filter(col("data_version_id").isin(ids.map(Long.box): _*))
  }

  /** Current completed version ids for a (source, variant) scope, from the
    * driver-side metadata cache — zero jobs. */
  def currentVersionIds(sourceCode: String, variant: Option[String]): Seq[Long] =
    versionRows.collect {
      case r if r.getString(1) == sourceCode && r.getBoolean(9) &&
        r.getString(5) == "completed" && Option(r.getString(4)) == variant =>
        r.getLong(0)
    }

  /** U5 cascade delete: version data files + metadata rows. */
  def deleteVersion(id: Long, table: String): Unit = {
    deleteData(table, id)
    swapWrite(versions.filter(col("data_version_id") =!= id), versionsPath)
    if (exists(partsPath))
      swapWrite(parts.filter(col("data_version_id") =!= id), partsPath)
  }

  /** U4 part bookkeeping: add a part row and bump the version's counters
    * (record_count += n, part_count += 1 — reference ingestor.py:153-195). */
  def appendPart(versionId: Long, partNumber: Int, fileHash: String,
                 fileName: String, recordCount: Long): Unit = {
    swapWriteRows(partRows :+ Row(versionId, partNumber, fileHash, fileName, recordCount),
      partSchema, partsPath)
    updateVersion(versionId, v => v
      .withColumn("record_count", when(col("data_version_id") === versionId,
        coalesce(col("record_count"), lit(0L)) + recordCount).otherwise(col("record_count")))
      .withColumn("part_count", when(col("data_version_id") === versionId,
        coalesce(col("part_count"), lit(1)) + 1).otherwise(col("part_count"))))
  }

  /** U6 ingestion event log append: one driver-written file per entry. */
  def log(versionId: Long, level: String, message: String, detailsJson: Option[String] = None): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    writeLocalParquet(Seq(Row(versionId, level, message, detailsJson.orNull, now)),
      logSchema, logsPath)
  }

  /** D2 duplicate-file detection: any completed version of this source with
    * the same hash blocks re-upload (reference: validator.py:178-214).
    * Driver-side over the cached metadata rows — zero jobs. */
  def isDuplicateFile(sourceCode: String, fileHash: String): Boolean =
    versionRows.exists(r => r.getString(1) == sourceCode &&
      r.getString(6) == fileHash && r.getString(5) == "completed")
}

object VersionStore {
  import org.apache.spark.sql.types._

  /** Audit diff between two versions of a relation on its unique keys:
    * one row per key present in either side, classified added / removed /
    * changed / unchanged (value compare is null-safe). The full-outer join
    * shuffles both sides once on the key columns — the scalable shape for
    * "what changed in this quarter's file" over any size history. */
  def diffVersions(oldV: DataFrame, newV: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    val o = oldV.select((keys ++ compareCols).map(col): _*)
      .withColumns(compareCols.map(c => s"_old_$c" -> col(c)).toMap)
      .drop(compareCols: _*)
      .withColumn("_in_old", lit(true))
    val n = newV.select((keys ++ compareCols).map(col): _*)
      .withColumns(compareCols.map(c => s"_new_$c" -> col(c)).toMap)
      .drop(compareCols: _*)
      .withColumn("_in_new", lit(true))
    val joined = o.join(n, keys, "full_outer")
    val differs = compareCols.map(c => !(col(s"_old_$c") <=> col(s"_new_$c")))
      .reduce(_ || _)
    joined.select(keys.map(col) :+
      when(col("_in_old").isNull, "added")
        .when(col("_in_new").isNull, "removed")
        .when(differs, "changed")
        .otherwise("unchanged").as("change_type"): _*)
  }

  val versionSchema: StructType = StructType(Seq(
    StructField("data_version_id", LongType, nullable = false),
    StructField("source_code", StringType, nullable = false),
    StructField("version_label", StringType, nullable = false),
    StructField("effective_date", DateType, nullable = true),
    StructField("variant", StringType, nullable = true),
    StructField("status", StringType, nullable = false),
    StructField("file_hash", StringType, nullable = true),
    StructField("file_name", StringType, nullable = true),
    StructField("record_count", LongType, nullable = true),
    StructField("is_current", BooleanType, nullable = false),
    StructField("imported_at", TimestampType, nullable = false),
    StructField("part_count", IntegerType, nullable = true),
    StructField("error_message", StringType, nullable = true),
  ))

  val partSchema: StructType = StructType(Seq(
    StructField("data_version_id", LongType, nullable = false),
    StructField("part_number", IntegerType, nullable = false),
    StructField("file_hash", StringType, nullable = true),
    StructField("file_name", StringType, nullable = true),
    StructField("record_count", LongType, nullable = true),
  ))

  val logSchema: StructType = StructType(Seq(
    StructField("data_version_id", LongType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("message", StringType, nullable = false),
    StructField("details", StringType, nullable = true),
    StructField("logged_at", TimestampType, nullable = false),
  ))

  /** F13 SHA-256 of a file's raw bytes (reference: upload.py:47-49). */
  def sha256File(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val bytes = Files.readAllBytes(Paths.get(path))
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  private[store] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}
