package graft

import org.apache.spark.sql.functions._

import graft.store.VersionStore

/** Version lifecycle (U2-U5), current views (J2), duplicate-file detection
  * (D2) over a temp store root. */
class VersionStoreSpec extends SparkSpecBase {

  private def newStore(): VersionStore = {
    val root = java.nio.file.Files.createTempDirectory("graft-store").toString
    new VersionStore(spark, root)
  }

  private def sampleData(v: Int) = {
    import spark.implicits._
    Seq((s"code$v", v * 1.0), (s"other$v", v * 2.0)).toDF("hcpcs_code", "amount")
  }

  test("lifecycle: create -> complete -> mark current -> current view resolves") {
    val store = newStore()
    val id1 = store.createVersion("PFS_OPPS_CAP", "2025-Q4",
      java.sql.Date.valueOf("2025-10-01"), None, "hash1", "f1.csv")
    store.writeData("cms.pfs_opps_cap", id1, sampleData(1))
    store.completeVersion(id1, 2)
    store.markCurrent(id1, "PFS_OPPS_CAP", None)

    val id2 = store.createVersion("PFS_OPPS_CAP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "hash2", "f2.csv")
    store.writeData("cms.pfs_opps_cap", id2, sampleData(2))
    store.completeVersion(id2, 2)
    store.markCurrent(id2, "PFS_OPPS_CAP", None)

    // current view sees ONLY version 2's rows
    val cur = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
    assert(cur.count() == 2)
    assert(cur.select("hcpcs_code").collect().map(_.getString(0)).toSet ==
      Set("code2", "other2"))
    // exactly one current version per (source, variant) scope
    assert(store.versions.filter(col("is_current")).count() == 1)
  }

  test("failed version is excluded from current view; error recorded") {
    val store = newStore()
    val id = store.createVersion("HCPCS", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    store.failVersion(id, "boom")
    val v = store.versions.filter(col("data_version_id") === id).head
    assert(v.getAs[String]("status") == "failed")
    assert(v.getAs[String]("error_message") == "boom")
  }

  test("variant scoping: HOSPITAL current swap leaves PRACTITIONER untouched") {
    val store = newStore()
    val h1 = store.createVersion("NCCI_PTP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), Some("HOSPITAL"), "h1", "h.csv")
    store.completeVersion(h1, 1); store.markCurrent(h1, "NCCI_PTP", Some("HOSPITAL"))
    val p1 = store.createVersion("NCCI_PTP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), Some("PRACTITIONER"), "p1", "p.csv")
    store.completeVersion(p1, 1); store.markCurrent(p1, "NCCI_PTP", Some("PRACTITIONER"))
    val h2 = store.createVersion("NCCI_PTP", "2026-Q2",
      java.sql.Date.valueOf("2026-04-01"), Some("HOSPITAL"), "h2", "h2.csv")
    store.completeVersion(h2, 1); store.markCurrent(h2, "NCCI_PTP", Some("HOSPITAL"))

    val current = store.versions.filter(col("is_current"))
      .select("data_version_id").collect().map(_.getLong(0)).toSet
    assert(current == Set(p1, h2))
  }

  test("duplicate-file detection blocks completed hashes only (D2)") {
    val store = newStore()
    val id = store.createVersion("HCPCS", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "samehash", "f.csv")
    assert(!store.isDuplicateFile("HCPCS", "samehash")) // processing, not completed
    store.completeVersion(id, 1)
    assert(store.isDuplicateFile("HCPCS", "samehash"))
    assert(!store.isDuplicateFile("HCPCS", "otherhash"))
  }

  test("metadata survives a fresh store instance on the same root") {
    val store = newStore()
    val id = store.createVersion("PFS_OPPS_CAP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "hash1", "f1.csv")
    store.writeData("cms.pfs_opps_cap", id, sampleData(1))
    store.completeVersion(id, 2, markCurrentFor = Some(("PFS_OPPS_CAP", None)))
    // a NEW instance must reload the durable parquet, not see empty caches
    store.appendPart(id, 2, "hash2", "f2.csv", 3)
    store.log(id, "INFO", "Appended part 2 (3 rows)")
    store.log(id, "WARNING", "1 rows failed validation", Some("[\"Row 2: x\"]"))
    val reopened = new VersionStore(spark, store.root)
    assert(reopened.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP").count() == 2)
    assert(reopened.isDuplicateFile("PFS_OPPS_CAP", "hash1"))
    assert(reopened.versions.filter(col("is_current")).count() == 1)
    val v = reopened.versions.head
    assert(v.getAs[Long]("record_count") == 5 && v.getAs[Int]("part_count") == 2)
    assert(reopened.parts.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq == Seq((id, 2, "hash2", "f2.csv", 3L)))
    assert(reopened.logs.orderBy("logged_at", "level").select("data_version_id", "level", "message", "details")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq ==
      Seq((id, "INFO", "Appended part 2 (3 rows)", null),
        (id, "WARNING", "1 rows failed validation", "[\"Row 2: x\"]")))
  }

  test("log appends leave only readable part files, no temp or orphaned checksum files") {
    val store = newStore()
    (1 to 4).foreach(i => store.log(7L, "INFO", s"entry $i"))
    val names = new java.io.File(store.logsPath).listFiles.map(_.getName).toSeq
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.size == 4)
    // the local filesystem's checksums, one per part file and nothing else
    assert(names.toSet == parts.toSet ++ parts.map(n => s".$n.crc"), names)
    assert(spark.read.parquet(store.logsPath).count() == 4)
  }

  test("metadata tables read back with the store's schemas") {
    val store = newStore()
    val id = store.createVersion("NCCI_PTP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), Some("HOSPITAL"), "h", "f.csv")
    store.appendPart(id, 2, "h2", "f2.csv", 1)
    store.log(id, "INFO", "x")
    def shape(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType)
    for ((path, schema) <- Seq(store.versionsPath -> VersionStore.versionSchema,
        store.partsPath -> VersionStore.partSchema, store.logsPath -> VersionStore.logSchema))
      assert(shape(spark.read.parquet(path).schema) == shape(schema), path)
  }

  test("JDBC sink writes version rows in 1000-row insert batches (S7)") {
    val store = newStore()
    val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val id = store.createVersion("PFS_GPCI", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    store.writeJdbc(url, "pfs_gpci", id, sampleData(1), props)
    val back = spark.read.jdbc(url, "pfs_gpci", props)
    assert(back.count() == 2)
    assert(back.columns.map(_.toLowerCase).toSet ==
      Set("hcpcs_code", "amount", "data_version_id"))
    assert(back.filter(col("data_version_id") === id).count() == 2)
  }

  test("compaction merges a version's files without changing its rows") {
    import spark.implicits._
    val store = newStore()
    val id = store.createVersion("PFS_OPPS_CAP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    val wide = (0 until 1000).map(i => (s"code$i", i * 1.0))
      .toDF("hcpcs_code", "amount").repartition(8)
    store.writeData("cms.pfs_opps_cap", id, wide)
    store.completeVersion(id, 1000, markCurrentFor = Some(("PFS_OPPS_CAP", None)))
    val dir = new java.io.File(s"${store.root}/data/cms.pfs_opps_cap/data_version_id=$id")
    def files = dir.listFiles.count(_.getName.endsWith(".parquet"))
    assert(files == 8)
    val checksumBefore = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
      .agg(sum("amount"), count(lit(1))).head
    store.compactVersion("cms.pfs_opps_cap", id, targetFiles = 2)
    assert(files == 2)
    val checksumAfter = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
      .agg(sum("amount"), count(lit(1))).head
    assert(checksumBefore == checksumAfter)
  }

  test("version diff classifies added/removed/changed/unchanged keys") {
    import spark.implicits._
    val v1 = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v")
    val v2 = Seq(("a", 1.0), ("b", 9.0), ("d", 4.0)).toDF("k", "v")
    val out = VersionStore.diffVersions(v1, v2, Seq("k"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "unchanged", "b" -> "changed",
      "c" -> "removed", "d" -> "added"))
  }

  test("cascade delete removes data and metadata (U5)") {
    val store = newStore()
    val id = store.createVersion("PFS_GPCI", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    store.writeData("cms.pfs_gpci", id, sampleData(1))
    store.completeVersion(id, 2)
    store.deleteVersion(id, "cms.pfs_gpci")
    assert(store.versions.filter(col("data_version_id") === id).isEmpty)
  }
}
