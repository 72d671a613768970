package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.config.{Catalog, LogicalType, SourceConfig}
import graft.transform.Transformers

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The ingest pipeline core, re-expressed as declarative DataFrame stages.
  *
  * The reference iterates rows in a Python loop (ingestor.py:552-590); here
  * every stage is a Column expression or window, so Catalyst fuses the whole
  * transform into one codegen stage and the plan scales horizontally: the
  * only shuffle in the entire pipeline is the dedup window, partitioned by
  * the source's unique keys.
  */
object Ingestor {

  /** P2 empty-row filter: drop rows where ≥ threshold of cells strip to
    * {"","nan","NaN","None"} (reference: ingestor.py:291-303). Pure Column
    * arithmetic — no UDF, no collect. */
  def filterEmptyRows(df: DataFrame, dataCols: Seq[String],
                      threshold: Double = Catalog.Limits.emptyRowThreshold): DataFrame = {
    val emptyCount = dataCols.map { c =>
      when(col(c).isNull || trim(col(c)).isin("", "nan", "NaN", "None"), 1).otherwise(0)
    }.reduce(_ + _)
    df.filter(emptyCount.cast("double") / lit(dataCols.length.toDouble) < threshold)
  }

  /** P3 projection + rename: positional file columns -> canonical names via
    * the header-detection index map (reference: ingestor.py:316-320). Extra
    * columns (e.g. _row_number) are carried through. */
  def project(df: DataFrame, colIdx: ListMap[String, Int],
              carry: Seq[String] = Seq("_row_number")): DataFrame = {
    val mapped = colIdx.map { case (name, i) => col(s"_c$i").as(name) }.toSeq
    val carried = carry.filter(df.columns.contains).map(col)
    df.select(mapped ++ carried: _*)
  }

  /** transform_record: apply the per-source transform dispatch to every
    * mapped canonical column (reference: ingestor.py:306-355). Special
    * cases: NCCI_MUE mai_id is derived from mai_description's RAW value;
    * NCCI_PTP has three bespoke parsers; `*_code` columns always use
    * clean_code regardless of declared type. Input columns are the raw
    * strings already renamed to canonical names (post-project). */
  def transformColumns(df: DataFrame, source: SourceConfig): DataFrame = {
    val present = df.columns.toSet
    val exprs = source.columns.flatMap { c =>
      val name = c.internalName
      if (source.sourceCode.startsWith("NCCI_MUE") && name == "mai_id") {
        // Cross-column derivation — must run while mai_description raw is live.
        if (present.contains("mai_description"))
          Some(Transformers.parseMaiId(col("mai_description")).as("mai_id"))
        else None
      } else if (!present.contains(name)) None
      else if (source.sourceCode.startsWith("NCCI_MUE") && name == "mue_value")
        Some(Transformers.parseMueValue(col(name)).as(name))
      else if (source.sourceCode == "NCCI_PTP" && name == "deletion_date")
        Some(Transformers.parseDeletionDate(col(name)).as(name))
      else if (source.sourceCode == "NCCI_PTP" && name == "modifier_indicator")
        Some(Transformers.parseModifierIndicator(col(name)).as(name))
      else if (source.sourceCode == "NCCI_PTP" && name == "prior_1996_flag")
        Some(Transformers.parsePrior1996Flag(col(name)).as(name))
      else if (name.endsWith("_code"))
        Some(Transformers.cleanCode(col(name)).as(name))
      else
        Some(Transformers.transformValue(col(name), c.dataType.name).as(name))
    }
    val carried = df.columns.filterNot(source.columnNames.contains).map(col)
    df.select(exprs ++ carried: _*)
  }

  /** True when every unique-key column is non-null. */
  private def allKeysPresent(uniqueKeys: Seq[String]): Column =
    uniqueKeys.map(col(_).isNotNull).reduce(_ && _)

  /** The reference's quarantine message for a row with a NULL unique key,
    * naming the FIRST missing key in key order
    * ("Row N: Missing required key column 'k'", reference: ingestor.py:358-375).
    * NULL when every key is present. */
  def missingKeyError(uniqueKeys: Seq[String], rowNumberCol: String = "_row_number"): Column =
    concat(lit("Row "), col(rowNumberCol).cast("string"),
      lit(": Missing required key column '"),
      coalesce(uniqueKeys.map(k => when(col(k).isNull, lit(k))): _*), lit("'"))

  /** Valid/invalid row counts in ONE action (the split frames would cost a
    * job each; an ingest is fixed-overhead-bound at KB scale). */
  def validCounts(df: DataFrame, uniqueKeys: Seq[String]): (Long, Long) = {
    val allPresent = allKeysPresent(uniqueKeys)
    val r = df.select(
      count(when(allPresent, lit(1))).as("v"),
      count(when(!allPresent, lit(1))).as("q")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** P5/S8 key validation + quarantine split: rows with any NULL unique-key
    * column are routed to a quarantine DataFrame carrying
    * [[missingKeyError]] as `_error`. Returns (valid, quarantine-with-_error).
    * One pass, no write-then-retry: validate-before-write replaces the
    * reference's per-row INSERT fallback. */
  def validateSplit(df: DataFrame, uniqueKeys: Seq[String],
                    rowNumberCol: String = "_row_number"): (DataFrame, DataFrame) = {
    val allPresent = allKeysPresent(uniqueKeys)
    val valid = df.filter(allPresent)
    val quarantine = df.filter(!allPresent)
      .withColumn("_error", missingKeyError(uniqueKeys, rowNumberCol))
    (valid, quarantine)
  }

  /** Validation and D1 dedup as ONE window over every row: `_dup_rank` is
    * the row's first-wins rank among the rows sharing its unique key
    * (1 = kept, >1 = duplicate) and NULL for a row missing a key (invalid).
    * Invalid rows add their row number to the window key, so an upload full
    * of null keys spreads across partitions instead of piling into one. */
  def rankDuplicates(df: DataFrame, uniqueKeys: Seq[String],
                     orderCol: String = "_row_number"): DataFrame = {
    val allPresent = allKeysPresent(uniqueKeys)
    val w = Window.partitionBy(uniqueKeys.map(col) :+ when(!allPresent, col(orderCol)): _*)
      .orderBy(col(orderCol))
    df.withColumn("_dup_rank", when(allPresent, row_number().over(w)))
  }

  /** The first `cap` error strings by row number — a bounded aggregate, so
    * an all-invalid upload ships at most `cap` strings per task to the
    * driver. NULL errors (valid rows) are skipped. */
  private final class FirstErrors(cap: Int)
      extends Aggregator[(Long, String), java.util.TreeMap[java.lang.Long, String], Seq[String]] {
    private type Buf = java.util.TreeMap[java.lang.Long, String]
    private def add(b: Buf, row: java.lang.Long, error: String): Buf = {
      b.put(row, error)
      if (b.size > cap) b.pollLastEntry()
      b
    }
    def zero: Buf = new java.util.TreeMap[java.lang.Long, String]()
    def reduce(b: Buf, in: (Long, String)): Buf =
      if (in._2 == null) b else add(b, in._1, in._2)
    def merge(b1: Buf, b2: Buf): Buf = {
      b2.forEach((k, v) => add(b1, k, v): Unit)
      b1
    }
    def finish(b: Buf): Seq[String] = b.values.asScala.toSeq
    def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  }

  /** [[FirstErrors]] as a Column over (row number, error string). */
  def firstErrors(rowNumber: Column, error: Column, cap: Int): Column =
    udaf(new FirstErrors(cap), Encoders.tuple(Encoders.scalaLong, Encoders.STRING))(rowNumber, error)

  /** D1 in-file dedup, first-occurrence-wins, null-key rows exempt
    * (reference: ingestor.py:468-496). Window formulation: shuffle by the
    * unique keys only for rows with fully-non-null keys; null-key rows are
    * unioned back untouched. Returns (unique, duplicates).
    *
    * Scale note: partitionBy(uniqueKeys) distributes by key cardinality —
    * at 100 TB the key space (e.g. code pairs) is large, so partitions stay
    * balanced; no global sort, no collect. */
  def dedupFirstWins(df: DataFrame, uniqueKeys: Seq[String],
                     orderCol: String = "_row_number"): (DataFrame, DataFrame) = {
    val anyNull = uniqueKeys.map(col(_).isNull).reduce(_ || _)
    val exempt = df.filter(anyNull)
    val keyed = df.filter(!anyNull)
    val w = Window.partitionBy(uniqueKeys.map(col): _*).orderBy(col(orderCol))
    val ranked = keyed.withColumn("_dup_rank", row_number().over(w))
    val unique = ranked.filter(col("_dup_rank") === 1).drop("_dup_rank").unionByName(exempt)
    val dups = ranked.filter(col("_dup_rank") > 1).drop("_dup_rank")
    (unique, dups)
  }

  /** D3 column statistics: per-column null count / null %, and up to 3
    * deterministic sample values (reference: ingestor.py:576-582 collects
    * the first 3 seen; distributed "first" is nondeterministic, so we pin
    * the 3 smallest _row_number values — same information, stable result). */
  def columnStats(df: DataFrame, dataCols: Seq[String]): DataFrame = {
    val aggs = dataCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls")) :+
      count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    // unpivot one wide row to (column, null_count, null_pct) — single pass,
    // single job, no per-column actions.
    val pairs = dataCols.map { c =>
      struct(lit(c).as("column"), col(s"${c}__nulls").as("null_count"))
    }
    row.select(explode(array(pairs: _*)).as("s"), col("__total"))
      .select(col("s.column"), col("s.null_count"),
        round(col("s.null_count").cast("double") / col("__total").cast("double") * 100, 2)
          .as("null_pct"))
  }

  /** D5 row-count drift check: warn when count < 0.5× or > 1.5× the previous
    * completed version's count (reference: validator.py:53-79). Expressed
    * over a metadata DataFrame so it is also usable as a batch audit across
    * all versions at once (window lag per source). */
  def driftCheck(versions: DataFrame, sourceCol: String = "source_code",
                 orderCol: String = "effective_date",
                 countCol: String = "record_count"): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(orderCol))
    versions
      .withColumn("prev_count", lag(col(countCol), 1).over(w))
      .withColumn("drift_warning",
        col("prev_count").isNotNull &&
          (col(countCol) < col("prev_count") * 0.5 ||
            col(countCol) > col("prev_count") * 1.5))
  }

  /** D6 sample-based type validation: over the first `sampleRows` data rows,
    * report per column the first (lowest row number) raw value that fails
    * its declared NUMERIC/INTEGER/DATE parse while not being a sentinel
    * (reference: validator.py:90-175 — early-exit per column). */
  def typeValidationWarnings(raw: DataFrame, source: SourceConfig,
                             sampleRows: Int = Catalog.Limits.typeValidationSampleRows): DataFrame = {
    val sample = raw.limit(sampleRows)
    val checks = source.columns.filter(c =>
      c.dataType == LogicalType.Numeric || c.dataType == LogicalType.Integer ||
        c.dataType == LogicalType.Date)
      .filter(c => raw.columns.contains(c.internalName))
    val checked = checks.map { c =>
      val v = col(c.internalName)
      val sentinel = trim(v).isin("", "*", "NULL", "N/A", "nan", "NaN") || v.isNull
      val parsed = c.dataType match {
        case LogicalType.Date => Transformers.parseDate(v).cast("string")
        case _ => Transformers.parseNumeric(v).cast("string")
      }
      val bad = !sentinel && parsed.isNull
      sample.filter(bad).select(
        lit(c.internalName).as("column"),
        lit(c.dataType.name).as("expected_type"),
        col("_row_number").as("row_number"),
        v.cast("string").as("value"))
    }
    checked.reduceOption(_ unionByName _) match {
      case None => raw.sparkSession.emptyDataFrame
      case Some(all) =>
        val w = Window.partitionBy(col("column")).orderBy(col("row_number"))
        all.withColumn("_r", row_number().over(w)).filter(col("_r") === 1).drop("_r")
    }
  }
}
