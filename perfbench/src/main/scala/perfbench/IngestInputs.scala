package perfbench

import java.io.{BufferedOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The `ingest` workload's upload: one NCCI_PTP version in two parts, a
  * dirty CSV and an XLSX appended to the same version. The dirt follows
  * graft's IngestScale/SyntheticXlsx exercise — title rows above the
  * header, blank rows, ~1% duplicate keys, ~0.5% rows missing a key — but
  * is placed by the seed, and the generator counts what it planted. */
object IngestInputs {

  final case class Counts(processed: Long, inserted: Long, invalid: Long, duplicates: Long)

  /** One upload part: `titles` junk rows, the header row, then data rows
    * (blank rows included). */
  final case class Part(titles: Int, data: IndexedSeq[IndexedSeq[String]], counts: Counts) {
    def headerRowIndex: Int = titles
    def allRows: Iterator[IndexedSeq[String]] =
      Iterator.tabulate(titles)(i => Title(i) +: IndexedSeq.fill(Header.length - 1)("")) ++
        Iterator.single(Header) ++ data.iterator
  }

  final case class Upload(csv: Path, xlsx: Path, part1: Part, part2: Part) {
    def inputBytes: Long = Files.size(csv) + Files.size(xlsx)
  }

  val Header: IndexedSeq[String] = IndexedSeq("Column 1", "Column 2", "Modifier",
    "Effective Date", "Deletion Date", "PTP Edit Rationale", "*=in existence prior to 1996")
  private val Title = IndexedSeq("National Correct Coding Initiative PTP Edits",
    "Practitioner Services", "Quarterly release")
  private val Rationales = IndexedSeq("Misuse of column two with column one",
    "Standards of medical / surgical practice", "Mutually exclusive procedures",
    "CPT Manual or CMS manual coding instructions")
  private val EffectiveDates = IndexedSeq("20240101", "20230701", "20220401", "19960101")

  val BlankRate = 0.002
  val DuplicateRate = 0.01
  val MissingKeyRate = 0.005

  /** `n` data rows whose keys are disjoint from every other `codeBase`. */
  def part(seed: Long, stream: Int, n: Int, codeBase: Int): Part = {
    val r = Rng(seed, stream)
    val titles = 1 + r.nextInt(Title.length)
    val data = IndexedSeq.newBuilder[IndexedSeq[String]]
    var inserted, invalid, dups = 0L
    var lastKey: Option[(String, String)] = None
    var k = 0
    var i = 0
    while (i < n) {
      if (r.nextDouble() < BlankRate) data += IndexedSeq.fill(Header.length)("")
      val u = r.nextDouble()
      val (comp, comp2) =
        if (u < DuplicateRate && lastKey.nonEmpty) { dups += 1; lastKey.get }
        else if (u < DuplicateRate + MissingKeyRate) {
          invalid += 1
          (f"${10000 + codeBase + r.nextInt(1000)}%05d", "")
        } else {
          inserted += 1
          val key = (f"${10000 + codeBase + k / 40}%05d", f"${20000 + (k % 40) * 13}%05d")
          k += 1
          lastKey = Some(key)
          key
        }
      val modifier = if (r.nextDouble() < 0.003) "" else Rng.pick(r, IndexedSeq("0", "1", "9"))
      val deletion = if (r.nextDouble() < 0.2) "20250101" else "*"
      val prior = if (r.nextDouble() < 0.1) "*" else ""
      data += IndexedSeq(comp, comp2, modifier, Rng.pick(r, EffectiveDates), deletion,
        s"${Rng.pick(r, Rationales)} ${r.nextInt(1000)}", prior)
      i += 1
    }
    Part(titles, data.result(), Counts(inserted + invalid + dups, inserted, invalid, dups))
  }

  def generate(seed: Long, csvRows: Int, xlsxRows: Int): (Part, Part) =
    (part(seed, 1, csvRows, 0), part(seed, 2, xlsxRows, 5000))

  def ensure(work: Path, seed: Long, csvRows: Int, xlsxRows: Int): Upload = {
    lazy val parts = generate(seed, csvRows, xlsxRows)
    val dir = Manifest.ensure(work.resolve(s"ingest-v1-s$seed-c$csvRows-x$xlsxRows")) { d =>
      Csv.write(d.resolve("ptp_part1.csv"), parts._1.allRows)
      Xlsx.write(d.resolve("ptp_part2.xlsx"), parts._2.allRows)
    }
    Upload(dir.resolve("ptp_part1.csv"), dir.resolve("ptp_part2.xlsx"), parts._1, parts._2)
  }

  /** Plain re-count of a written CSV part, independent of the generator's
    * own bookkeeping (used by the self-test). */
  def recount(csv: Path, headerRowIndex: Int): Counts = {
    val lines = new String(Files.readAllBytes(csv), "UTF-8").split("\n", -1)
      .dropRight(1).drop(headerRowIndex + 1).map(_.split(",", -1).toSeq)
    val rows = lines.filterNot(_.forall(_.isEmpty))
    val (valid, invalid) = rows.partition(r => r(0).nonEmpty && r(1).nonEmpty)
    val distinct = valid.map(r => (r(0), r(1))).distinct.length
    Counts(rows.length, distinct, invalid.length, valid.length - distinct)
  }
}

/** Minimal XLSX writer for the upload's second part, using the cell kinds
  * graft's reader handles: shared strings for the text of the first five
  * rows (titles, header, maybe a data row) and for the flag cells, numeric
  * cells for codes and dates, inline strings for other text. */
object Xlsx {
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def write(path: Path, rows: Iterator[IndexedSeq[String]]): Unit = {
    val all = rows.toIndexedSeq
    val shared = all.take(5).flatten.filter(_.exists(_.isLetter)).distinct ++ Seq("*", "")
    val sharedIdx = shared.zipWithIndex.toMap
    val zo = new ZipOutputStream(new BufferedOutputStream(Files.newOutputStream(path), 1 << 20))
    // Fixed entry times keep the archive's bytes a function of the seed.
    def entry(name: String)(body: OutputStreamWriter => Unit): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L)
      zo.putNextEntry(e)
      val w = new OutputStreamWriter(zo, "UTF-8")
      body(w)
      w.flush()
      zo.closeEntry()
    }
    val xml = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val ns = "http://schemas.openxmlformats.org"
    entry("[Content_Types].xml")(_.write(s"""$xml<Types xmlns="$ns/package/2006/content-types">""" +
      s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      s"""<Default Extension="xml" ContentType="application/xml"/>""" +
      s"""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      s"""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      s"""<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""))
    entry("_rels/.rels")(_.write(s"""$xml<Relationships xmlns="$ns/package/2006/relationships">""" +
      s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""))
    entry("xl/workbook.xml")(_.write(s"""$xml<workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="PTP" sheetId="1" r:id="rId1"/></sheets></workbook>"""))
    entry("xl/_rels/workbook.xml.rels")(_.write(s"""$xml<Relationships xmlns="$ns/package/2006/relationships">""" +
      s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""))
    entry("xl/sharedStrings.xml")(_.write(
      s"""$xml<sst xmlns="$ns/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""" +
        shared.map(s => s"<si><t>${esc(s)}</t></si>").mkString + "</sst>"))
    entry("xl/worksheets/sheet1.xml") { w =>
      w.write(s"""$xml<worksheet xmlns="$ns/spreadsheetml/2006/main"><sheetData>""")
      all.foreach { row =>
        w.write("<row>")
        row.foreach { v =>
          sharedIdx.get(v) match {
            case Some(i) => w.write(s"""<c t="s"><v>$i</v></c>""")
            case None if v.forall(_.isDigit) => w.write(s"<c><v>$v</v></c>")
            case None => w.write(s"""<c t="inlineStr"><is><t>${esc(v)}</t></is></c>""")
          }
        }
        w.write("</row>")
      }
      w.write("</sheetData></worksheet>")
    }
    zo.close()
  }
}
