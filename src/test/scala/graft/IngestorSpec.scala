package graft

import org.apache.spark.sql.functions._

import graft.config.Catalog
import graft.pipeline.Ingestor

/** Port of the reference's ingestor suite: config invariants, dedup
  * first-wins/null-exempt/ordering, empty-row filter, key validation
  * (reference: tests/test_ingestor.py:16-43, 182-260). */
class IngestorSpec extends SparkSpecBase {
  import scala.jdk.CollectionConverters._

  // ---- TABLE_CONFIG invariants (test_ingestor.py:16-43)
  test("every source's unique keys are a subset of its columns") {
    for (s <- Catalog.sources)
      assert(s.uniqueKeys.toSet.subsetOf(s.columnNames.toSet),
        s"${s.sourceCode}: ${s.uniqueKeys} not all in columns")
  }
  test("all ten sources present with expected target tables") {
    assert(Catalog.sources.map(_.sourceCode).toSet == Set(
      "PFS_RVU", "PFS_GPCI", "PFS_LOCALITY", "PFS_ANES_CF", "PFS_OPPS_CAP",
      "HCPCS", "NCCI_PTP", "NCCI_MUE_DME", "NCCI_MUE_PRAC", "NCCI_MUE_OPH"))
    assert(Catalog.sources.filter(_.sourceCode.startsWith("NCCI_MUE"))
      .map(_.targetTable).toSet == Set("cms.ncci_mue"))
    assert(Catalog("pfs_rvu").sourceCode == "PFS_RVU") // case-insensitive lookup
  }

  private def dedupInput(rows: Seq[(java.lang.Long, String, Long)]) = {
    import spark.implicits._
    rows.toDF("k1", "k2", "_row_number")
  }

  // ---- D1 dedup (test_ingestor.py:182-260)
  test("dedup first occurrence wins, in file order") {
    val df = dedupInput(Seq(
      (1L: java.lang.Long, "a", 1L), (2L: java.lang.Long, "b", 2L),
      (1L: java.lang.Long, "a", 3L), (3L: java.lang.Long, "c", 4L),
      (1L: java.lang.Long, "a", 5L)))
    val (unique, dups) = Ingestor.dedupFirstWins(df, Seq("k1", "k2"))
    val kept = unique.orderBy("_row_number").collect().map(_.getLong(2))
    assert(kept.toSeq == Seq(1L, 2L, 4L))
    assert(dups.count() == 2)
    val dupRows = dups.orderBy("_row_number").collect().map(_.getLong(2))
    assert(dupRows.toSeq == Seq(3L, 5L))
  }

  test("rows with any null key bypass dedup entirely (test_ingestor.py:232-245)") {
    val df = dedupInput(Seq(
      (null: java.lang.Long, "a", 1L), (null: java.lang.Long, "a", 2L),
      (1L: java.lang.Long, "a", 3L), (1L: java.lang.Long, "a", 4L)))
    val (unique, dups) = Ingestor.dedupFirstWins(df, Seq("k1", "k2"))
    assert(unique.count() == 3) // both null-key rows kept + first keyed
    assert(dups.count() == 1)
  }

  test("first errors: the capped first rows by row number, merged across partitions") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, if (i % 3 == 0) s"e$i" else null)).toDF("n", "err")
      .repartition(8)
    val got = df.agg(Ingestor.firstErrors(col("n"), col("err"), 5)).head.getSeq[String](0)
    assert(got == Seq("e3", "e6", "e9", "e12", "e15"))
  }

  // ---- P2 empty-row filter (ingestor.py:291-303)
  test("empty-row filter drops rows at >= 80% empty cells") {
    import spark.implicits._
    val df = Seq(
      ("a", "b", "c", "d", "e"),       // 0% empty -> keep
      ("", "nan", "None", "NaN", "x"), // 80% -> drop
      ("", "", "x", "y", "z"),         // 40% -> keep
      ("", "", "", "", ""),            // 100% -> drop
    ).toDF("c1", "c2", "c3", "c4", "c5")
    val kept = Ingestor.filterEmptyRows(df, Seq("c1", "c2", "c3", "c4", "c5"))
    assert(kept.count() == 2)
  }

  // ---- P5 validation split (ingestor.py:358-375)
  test("validation split routes null-key rows to quarantine with exact error") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("x"), 1L), (None, Some("y"), 2L), (Some(3L), None, 3L))
      .toDF("key_a", "key_b", "_row_number")
    val (valid, quarantine) = Ingestor.validateSplit(df, Seq("key_a", "key_b"))
    assert(valid.count() == 1)
    val errs = quarantine.orderBy("_row_number").collect().map(_.getAs[String]("_error"))
    assert(errs.toSeq == Seq(
      "Row 2: Missing required key column 'key_a'",
      "Row 3: Missing required key column 'key_b'"))
  }

  // ---- transform wiring (ingestor.py:306-355)
  test("NCCI_MUE mai_id derives from mai_description's raw value") {
    import spark.implicits._
    val df = Seq(("J1234", "5", "2 Date of Service Edit: Policy", "r", 1L))
      .toDF("hcpcs_code", "mue_value", "mai_description", "mue_rationale", "_row_number")
    val out = Ingestor.transformColumns(df, Catalog("NCCI_MUE_PRAC"))
    val row = out.head
    assert(row.getAs[Long]("mai_id") == 2L)
    assert(row.getAs[Long]("mue_value") == 5L)
    assert(row.getAs[String]("hcpcs_code") == "J1234")
  }

  test("NCCI_PTP special parsers wired; *_code columns cleaned") {
    import spark.implicits._
    val df = Seq(("00100 ", "j0101", "0=not allowed", "20240101", "*", "misc", "*", 1L))
      .toDF("comprehensive_code", "component_code", "modifier_indicator",
        "effective_date", "deletion_date", "rationale", "prior_1996_flag", "_row_number")
    val row = Ingestor.transformColumns(df, Catalog("NCCI_PTP")).head
    assert(row.getAs[String]("comprehensive_code") == "00100")
    assert(row.getAs[String]("component_code") == "J0101")
    assert(row.getAs[Long]("modifier_indicator") == 0L)
    assert(row.getAs[java.sql.Date]("effective_date") == java.sql.Date.valueOf("2024-01-01"))
    assert(row.getAs[java.sql.Date]("deletion_date") == null)
    assert(row.getAs[Boolean]("prior_1996_flag"))
  }

  // ---- D3 stats
  test("column stats null counts and percentages") {
    import spark.implicits._
    val df = Seq((Some(1), Some("x")), (None, Some("y")), (None, None), (Some(4), Some("z")))
      .toDF("a", "b")
    val m = Ingestor.columnStats(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m("a") == ((2L, 50.0)))
    assert(m("b") == ((1L, 25.0)))
  }
}
