package graft.io

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}
import java.util.zip.ZipFile

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** All-string file readers (S1–S6).
  *
  * Contract (reference: app/services/file_parser.py:15-19): no header
  * assumption, every cell a string, empty cells stay "" (never null),
  * positional column names _c0.._cN.
  *
  * The sniffing steps (encoding, delimiter, column count) are deliberately
  * driver-side over a bounded byte sample — they mirror the reference's own
  * bounded probes and cost O(4KB) regardless of file size. The actual data
  * read is a distributed `spark.read.csv` with the sniffed options, so a
  * 100 GB CSV still scans in parallel across executors.
  */
object FileReader {

  /** Detected per-file read plan. */
  final case class ReadPlan(encoding: String, delimiter: String, numColumns: Int)

  /** S1 encoding cascade: utf-8 → latin-1 (reference tries cp1252 third, but
    * latin-1 decodes any byte sequence, so it is the effective terminal
    * fallback — reference: file_parser.py:79-101). Whole-file probe to match
    * pandas' whole-file decode semantics; reference inputs cap at 100 MB. */
  def detectEncoding(path: String): String = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try { dec.decode(java.nio.ByteBuffer.wrap(bytes)); "UTF-8" }
    catch { case _: java.nio.charset.CharacterCodingException => "ISO-8859-1" }
  }

  /** S4 delimiter sniff on a 4096-char sample: pick max count among
    * tab/comma/pipe; ties prefer tab, then pipe (reference: file_parser.py:110-125).
    * Reads only the head of the file (the 100 MB ingestion exercise caught
    * the first cut re-reading the whole upload to sample 4 KB); lenient
    * decoding tolerates a multi-byte char truncated at the 64 KB cut. */
  def sniffDelimiter(path: String, encoding: String = "UTF-8"): String = {
    val in = new java.io.FileInputStream(path)
    val bytes = try in.readNBytes(65536) finally in.close()
    val dec = Charset.forName(encoding).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val text = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    val sample = text.substring(0, math.min(4096, text.length))
    val tab = sample.count(_ == '\t')
    val comma = sample.count(_ == ',')
    val pipe = sample.count(_ == '|')
    if (tab >= comma && tab >= pipe) "\t"
    else if (pipe >= comma) "|"
    else ","
  }

  /** Column count from the first non-empty line, honoring quoted fields —
    * pandas sizes the frame from its first row the same way. */
  def sniffColumnCount(path: String, encoding: String, delimiter: String): Int = {
    val src = scala.io.Source.fromFile(path, encoding)
    try {
      val first = src.getLines().find(_.nonEmpty).getOrElse("")
      splitCsvLine(first, delimiter.charAt(0)).length
    } finally src.close()
  }

  /** Minimal RFC-4180 field split for sniffing (quotes + embedded delimiters). */
  private[io] def splitCsvLine(line: String, sep: Char): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQuotes) {
        if (ch == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQuotes = false
        } else cur += ch
      } else if (ch == '"') inQuotes = true
      else if (ch == sep) { out += cur.toString(); cur.clear() }
      else cur += ch
      i += 1
    }
    out += cur.toString()
    out.toSeq
  }

  private def allStringSchema(n: Int): StructType =
    StructType((0 until n).map(i => StructField(s"_c$i", StringType, nullable = true)))

  /** Shared CSV/TXT distributed read with the all-string contract. The
    * nullValue sentinel is a string that cannot occur in data, so empty
    * fields surface as "" (univocity's emptyValue) instead of null. */
  private def readDelimited(spark: SparkSession, path: String, plan: ReadPlan): DataFrame = {
    val df = spark.read
      .schema(allStringSchema(plan.numColumns))
      .option("header", "false")
      .option("sep", plan.delimiter)
      .option("encoding", plan.encoding)
      .option("mode", "PERMISSIVE")
      .option("nullValue", "\u0000\u0000graft-null-sentinel")
      .option("emptyValue", "")
      // The reference parses with pandas, which honors newlines embedded in
      // quoted fields; Spark's default line-split mode would shear such
      // records. multiLine makes each file non-splittable — acceptable
      // because ingest inputs are capped at 100 MB per file (the validate-
      // time size cap); the DATA tables the engine queries are parquet.
      .option("multiLine", "true")
      .csv(path)
    // Ragged rows: pandas pads short rows with NaN -> str "nan"? The
    // reference files are rectangular; we normalize missing tail cells to ""
    // to keep the all-string contract. One select, so the plan is analysed
    // once rather than once per column.
    df.select(df.columns.map(c => coalesce(col(c), lit("")).as(c)): _*)
  }

  /** S1 CSV scan with encoding cascade. */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val enc = detectEncoding(path)
    val n = sniffColumnCount(path, enc, ",")
    readDelimited(spark, path, ReadPlan(enc, ",", n))
  }

  /** S4 TXT scan with delimiter sniffing (always utf-8-with-replacement in
    * the reference; Spark's csv reader replaces malformed bytes already). */
  def readTxt(spark: SparkSession, path: String): DataFrame = {
    val enc = detectEncoding(path)
    val sep = sniffDelimiter(path, enc)
    val n = sniffColumnCount(path, enc, sep)
    readDelimited(spark, path, ReadPlan(enc, sep, n))
  }

  /** S2 XLSX scan — hand-rolled zip+XML bridge (no POI in this image).
    * XLSX is a zip holding sharedStrings.xml + worksheets/sheet1.xml,
    * both parsed with the JDK StAX parser. Two physical paths:
    *
    *  - SMALL sheets (decompressed size under
    *    `graft.xlsx.distributedThresholdBytes`, default 8 MB): parsed
    *    driver-side streaming off the inflater, then parallelized —
    *    cheapest for the common upload and for header detection.
    *  - LARGE sheets: the DISTRIBUTED path. DEFLATE is not seekable, so
    *    the driver inflates the sheet ONCE to a scratch file (O(buffer)
    *    heap), byte-scans it for `<row` boundaries (sound because `<` is
    *    escaped in XML text/attributes and the scan skips the three
    *    constructs that may carry it raw — comments, CDATA, processing
    *    instructions), and hands byte RANGES to executors; each task re-wraps
    *    its range in the captured `<worksheet …>` open tag (preserving
    *    xmlns bindings) and runs the SAME StAX row parser against the
    *    broadcast sharedStrings table. Driver heap at the 100 MB envelope
    *    ceiling drops from the full 2.6M-row grid (~10 GB of String
    *    objects) to the sharedStrings table + an inflate buffer. The
    *    sharedStrings table itself stays driver-resident (+1 broadcast
    *    copy) — the remaining bound, and a bounded one: the ingest
    *    contract caps uploads at 100 MB, so even a pathological
    *    all-shared-strings sheet inflates to ~1 GB of sst, well inside
    *    the default 8 GB heap.
    *    `graft.xlsx.scratchDir` must point at storage every executor can
    *    read on a multi-node cluster (defaults to java.io.tmpdir, correct
    *    for local mode).
    *
    * Numbers render like pandas dtype=str: integral floats lose the
    * trailing ".0". */
  def readXlsx(spark: SparkSession, path: String): DataFrame =
    xlsxToDf(spark, path)

  /** Driver-parsed row grid → DataFrame. parallelize preserves element
    * order across slices, so P4 row numbering (zipWithIndex) is
    * unaffected by the slice count. */
  private def rowsToDf(spark: SparkSession,
                       rows: IndexedSeq[IndexedSeq[String]]): DataFrame = {
    val n = if (rows.isEmpty) 0 else rows.map(_.length).max
    val padded = rows.map(r => Row.fromSeq(r.padTo(n, "")))
    val slices = math.max(1, padded.length / 100000)
    spark.createDataFrame(
      spark.sparkContext.parallelize(padded.toSeq, slices), allStringSchema(n))
  }

  /** Dispatch between the driver-parsed and distributed XLSX paths on the
    * worksheet's decompressed size (falls back to compressed×8 when the
    * central directory omits it). */
  private def xlsxToDf(spark: SparkSession, path: String): DataFrame = {
    val threshold = spark.conf.getOption("graft.xlsx.distributedThresholdBytes")
      .map(_.toLong).getOrElse(8L << 20)
    val zip = new ZipFile(path)
    val sheetSize = try {
      val name = firstSheetName(zip, path)
      val e = zip.getEntry(name)
      if (e.getSize >= 0) e.getSize else e.getCompressedSize * 8
    } finally zip.close()
    if (sheetSize < threshold) rowsToDf(spark, readXlsxRows(path))
    else readXlsxDistributed(spark, path)
  }

  private def firstSheetName(zip: ZipFile, path: String): String =
    zip.entries().asScala.map(_.getName)
      .filter(n => n.startsWith("xl/worksheets/sheet") && n.endsWith(".xml"))
      .toSeq.sorted.headOption
      .getOrElse(throw new IllegalArgumentException(s"No worksheet in $path"))

  /** Distributed XLSX grid: inflate-once to scratch, byte-scan row
    * boundaries, parse ranges on executors. Falls back to the driver
    * parse when the scan cannot find the expected worksheet structure
    * (prefixed elements, exotic producers). */
  private def readXlsxDistributed(spark: SparkSession, path: String): DataFrame = {
    val chunkBytes = spark.conf.getOption("graft.xlsx.chunkBytes")
      .map(_.toLong).getOrElse(32L << 20)
    val scratchDir = spark.conf.getOption("graft.xlsx.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val zip = new ZipFile(path)
    val (shared, scratch) = try {
      val sh: IndexedSeq[String] =
        Option(zip.getEntry("xl/sharedStrings.xml")).map { e =>
          val is = zip.getInputStream(e)
          try parseSharedStrings(is) finally is.close()
        }.getOrElse(IndexedSeq.empty)
      val sheet = zip.getEntry(firstSheetName(zip, path))
      val sc = java.nio.file.Files.createTempFile(
        Paths.get(scratchDir), "graft-xlsx-", ".xml")
      sc.toFile.deleteOnExit()
      scratchRegistry.add(sc)
      val out = new java.io.BufferedOutputStream(
        Files.newOutputStream(sc), 1 << 20)
      val in = zip.getInputStream(sheet)
      try in.transferTo(out) finally { in.close(); out.close() }
      (sh, sc)
    } finally zip.close()
    scanSheetLayout(scratch, chunkBytes) match {
      case None =>
        Files.delete(scratch)
        rowsToDf(spark, readXlsxRows(path)) // structure not recognized
      case Some(SheetLayout(_, ranges)) if ranges.isEmpty =>
        Files.delete(scratch)
        rowsToDf(spark, IndexedSeq.empty)
      case Some(SheetLayout(openTag, ranges)) =>
        val sc = spark.sparkContext
        val sharedB = sc.broadcast(shared)
        val scratchPath = scratch.toString
        val head = (openTag + "<sheetData>").getBytes("UTF-8")
        val tail = "</sheetData></worksheet>".getBytes("UTF-8")
        def parsed = sc.parallelize(ranges, ranges.size).map {
          case (start, end) =>
            // A range is chunkBytes plus at most one row; a single row
            // larger than 2 GB cannot be buffered — fail with the cause
            // rather than a NegativeArraySizeException.
            require(end - start < Int.MaxValue,
              s"worksheet row run of ${end - start} bytes exceeds the " +
                "2 GB task buffer — one row is larger than chunkBytes " +
                "allows; this sheet cannot be range-parsed")
            val bytes = new Array[Byte]((end - start).toInt)
            val raf = new java.io.RandomAccessFile(scratchPath, "r")
            try { raf.seek(start); raf.readFully(bytes) } finally raf.close()
            val in = new java.io.SequenceInputStream(
              java.util.Collections.enumeration(java.util.List.of[java.io.InputStream](
                new java.io.ByteArrayInputStream(head),
                new java.io.ByteArrayInputStream(bytes),
                new java.io.ByteArrayInputStream(tail))))
            try parseSheet(in, sharedB.value) finally in.close()
        }
        // Two jobs, two parses: the global column count must be known
        // before rows can be padded into a fixed schema, and caching the
        // parsed grid between jobs would reintroduce (in executor memory)
        // exactly the footprint this path removes. StAX over 32 MB chunks
        // is CPU-cheap relative to the inflate.
        val n = parsed.map(rows => rows.foldLeft(0)((m, r) => m max r.length))
          .fold(0)(_ max _)
        val rdd = parsed.flatMap(_.iterator.map(r => Row.fromSeq(r.padTo(n, ""))))
        spark.createDataFrame(rdd, allStringSchema(n))
    }
  }

  /** Scratch files created by the distributed XLSX path. A scratch file
    * must outlive every re-evaluation of the DataFrame built over it, so
    * deletion is the CALLER's lifecycle decision: the ingest pipeline
    * releases once its data job has written the store
    * (deleteOnExit remains the backstop for ad-hoc readers). Ingests run
    * one file at a time (the reference's upload flow), so releaseScratch
    * deleting every tracked file is safe. */
  private val scratchRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Delete every tracked XLSX scratch file — call only once no DataFrame
    * returned by [[parseFile]]/[[readXlsx]] will be evaluated again (e.g.
    * after the ingest's store write). Without this, each
    * 100 MB ceiling ingest parks ~1 GB of decompressed XML on disk until
    * JVM exit. */
  def releaseScratch(): Unit = {
    var p = scratchRegistry.poll()
    while (p != null) {
      try Files.deleteIfExists(p)
      catch { case _: java.io.IOException => } // backstop: deleteOnExit
      p = scratchRegistry.poll()
    }
  }

  /** Worksheet scratch-file layout: the `<worksheet …>` open tag (xmlns
    * bindings live there) and the chunked [start, end) byte ranges of
    * whole-`<row>` runs inside sheetData. */
  private[io] final case class SheetLayout(openTag: String,
                                           ranges: Seq[(Long, Long)])

  /** One streaming byte scan of the decompressed sheet XML. Only `<`
    * triggers lookahead: every literal `<` in XML TEXT or ATTRIBUTES is
    * escaped, and the three constructs that may carry a raw `<` —
    * comments, CDATA sections, and processing instructions — are
    * recognized and skipped whole, so a `<row` seen by the scan is
    * guaranteed element markup. The scan recognizes `<worksheet …>`,
    * `<sheetData>`, `<row`-followed-by-delimiter starts, and
    * `</sheetData`, and cuts a new range at the first row start after
    * every `chunkBytes` of sheet data. None when the expected structure
    * is absent or a special construct is unterminated (caller falls
    * back to the driver parse). */
  private[io] def scanSheetLayout(file: java.nio.file.Path,
                                  chunkBytes: Long): Option[SheetLayout] = {
    val in = new java.io.BufferedInputStream(Files.newInputStream(file), 1 << 20)
    try {
      val buf = new Array[Byte](1 << 20)
      var len = 0
      var base = 0L   // file offset of buf(0)
      var i = 0       // cursor within buf
      def refill(): Boolean = {
        // keep a 16-byte lookahead window across block boundaries
        val keep = len - i
        System.arraycopy(buf, i, buf, 0, keep)
        base += i; i = 0; len = keep
        var n = in.read(buf, len, buf.length - len)
        while (n > 0) {
          len += n
          if (len >= buf.length) return true
          n = in.read(buf, len, buf.length - len)
        }
        n >= 0 || keep > 0
      }
      def ensure(k: Int): Boolean = (len - i >= k) || { refill(); len - i >= k }
      def matches(s: String): Boolean = {
        if (!ensure(s.length)) return false
        var j = 0
        while (j < s.length) {
          if (buf(i + j) != s.charAt(j)) return false
          j += 1
        }
        true
      }
      def isDelim(b: Byte): Boolean =
        b == ' ' || b == '>' || b == '/' || b == '\t' || b == '\n' || b == '\r'
      // Advance past `term` (first occurrence at or after the cursor);
      // false only at EOF — the construct was unterminated.
      def skipPast(term: String): Boolean = {
        while (ensure(term.length)) {
          if (matches(term)) { i += term.length; return true }
          i += 1
        }
        false
      }
      // At a '<': 0 = ordinary markup, 1 = skipped a comment / CDATA /
      // processing instruction (all may carry a raw '<' legally),
      // -1 = such a construct never terminated (malformed file).
      def skipSpecial(): Int =
        if (matches("<!--")) { i += 4; if (skipPast("-->")) 1 else -1 }
        else if (matches("<![CDATA[")) { i += 9; if (skipPast("]]>")) 1 else -1 }
        else if (matches("<?")) { i += 2; if (skipPast("?>")) 1 else -1 }
        else 0

      // Phase 1: find <worksheet …> and capture the open tag verbatim.
      // Bytes, not chars: the tag may carry multi-byte UTF-8 attribute
      // content; decode ONCE at the end (a per-byte toChar would mojibake
      // the executor-side re-wrapped XML head).
      val tagBytes = new java.io.ByteArrayOutputStream(256)
      def tagStr: String = new String(tagBytes.toByteArray, StandardCharsets.UTF_8)
      var foundWs = false
      while (!foundWs && ensure(1)) {
        if (buf(i) == '<') skipSpecial() match {
          case 1 => ()
          case -1 => return None
          case _ =>
            if (matches("<worksheet") && ensure(11) && isDelim(buf(i + 10))) {
              foundWs = true
              var closed = false
              while (!closed && ensure(1)) {
                val b = buf(i); tagBytes.write(b.toInt); i += 1
                if (b == '>') closed = true
              }
              if (!closed) return None
            } else i += 1
        } else i += 1
      }
      if (!foundWs) return None
      if (tagStr.endsWith("/>"))
        return Some(SheetLayout(tagStr, Nil))

      // Phase 2: find <sheetData> (or <sheetData/> = empty sheet).
      var inData = false
      while (!inData && ensure(1)) {
        if (buf(i) == '<') skipSpecial() match {
          case 1 => ()
          case -1 => return None
          case _ =>
            if (matches("<sheetData") && ensure(11) && isDelim(buf(i + 10))) {
              if (buf(i + 10) == '/')
                return Some(SheetLayout(tagStr, Nil))
              i += 11 // past "<sheetData>"
              inData = true
            } else i += 1
        } else i += 1
      }
      if (!inData) return None

      // Phase 3: row starts + </sheetData.
      val ranges = ArrayBuffer.empty[(Long, Long)]
      var rangeStart = -1L
      var done = false
      while (!done && ensure(1)) {
        if (buf(i) == '<') {
          val off = base + i
          skipSpecial() match {
            case 1 => ()
            case -1 => return None
            case _ =>
              if (matches("<row") && ensure(5) && isDelim(buf(i + 4))) {
                if (rangeStart < 0) rangeStart = off
                else if (off - rangeStart >= chunkBytes) {
                  ranges += ((rangeStart, off)); rangeStart = off
                }
                i += 4
              } else if (matches("</sheetData")) {
                if (rangeStart >= 0) ranges += ((rangeStart, off))
                done = true
              } else i += 1
          }
        } else i += 1
      }
      if (!done) return None // truncated: no </sheetData>
      Some(SheetLayout(tagStr, ranges.toSeq))
    } finally in.close()
  }

  /** Raw XLSX cell grid as strings (first worksheet). */
  def readXlsxRows(path: String): IndexedSeq[IndexedSeq[String]] = {
    val zip = new ZipFile(path)
    try {
      val shared: IndexedSeq[String] =
        Option(zip.getEntry("xl/sharedStrings.xml")).map { e =>
          val is = zip.getInputStream(e)
          try parseSharedStrings(is) finally is.close()
        }.getOrElse(IndexedSeq.empty)
      val is = zip.getInputStream(zip.getEntry(firstSheetName(zip, path)))
      try parseSheet(is, shared) finally is.close()
    } finally zip.close()
  }

  private def parseSharedStrings(in: java.io.InputStream): IndexedSeq[String] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(in)
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; cur.clear()
            case "t" if inSi => inT = true
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS
           | javax.xml.stream.XMLStreamConstants.CDATA if inT =>
          cur.appendAll(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => inSi = false; out += cur.toString()
            case _ =>
          }
        case _ =>
      }
    }
    out.toIndexedSeq
  }

  /** Excel column letter(s) -> 0-based index ("A"->0, "AA"->26). */
  def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
  }

  /** Render a numeric cell the way pandas dtype=str does: ints stay ints. */
  def renderNumber(v: String): String = {
    try {
      val d = v.toDouble
      if (d.isWhole && math.abs(d) < 1e15 && !v.toLowerCase.contains("e"))
        d.toLong.toString
      else v
    } catch { case _: NumberFormatException => v }
  }

  private def parseSheet(in: java.io.InputStream, shared: IndexedSeq[String]): IndexedSeq[IndexedSeq[String]] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(in)
    val rows = ArrayBuffer.empty[IndexedSeq[String]]
    var row: ArrayBuffer[String] = null
    var cellType = ""
    var cellCol = -1
    var inV = false
    var inIs = false
    val text = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => row = ArrayBuffer.empty[String]
            case "c" =>
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              cellCol = Option(r.getAttributeValue(null, "r")).map(colIndex)
                .getOrElse(if (row == null) 0 else row.length)
            case "v" => inV = true; text.clear()
            case "is" => inIs = true
            case "t" if inIs => inV = true; text.clear()
            case _ =>
          }
        // CDATA arrives as its own event type (the JDK parser does not
        // coalesce by default); a producer may legally wrap cell text in
        // it, so both branches feed the same buffer.
        case javax.xml.stream.XMLStreamConstants.CHARACTERS
           | javax.xml.stream.XMLStreamConstants.CDATA if inV =>
          text.appendAll(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" | "t" if inV =>
              inV = false
              if (row != null) {
                while (row.length < cellCol) row += ""
                val raw = text.toString()
                val value = cellType match {
                  case "s" => shared.lift(raw.trim.toInt).getOrElse("")
                  case "b" => if (raw.trim == "1") "True" else "False"
                  case "n" => renderNumber(raw)
                  case _ => raw
                }
                if (row.length == cellCol) row += value else row(cellCol) = value
              }
            case "is" => inIs = false
            case "row" => rows += row.toIndexedSeq; row = null
            case _ =>
          }
        case _ =>
      }
    }
    rows.toIndexedSeq
  }

  /** S3 legacy XLS scan via the BIFF8 subset reader; files that are really
    * zip containers (xlsx renamed .xls) fall through to the XLSX bridge. */
  def readXls(spark: SparkSession, path: String): DataFrame = {
    val head = Files.newInputStream(Paths.get(path))
    val magic = try { val b = new Array[Byte](4); head.read(b); b } finally head.close()
    if (magic.take(2).sameElements(Array[Byte]('P', 'K'))) xlsxToDf(spark, path)
    else rowsToDf(spark, XlsReader.readRows(path))
  }

  /** S5 dispatch by extension; same error contract as the reference
    * (file_parser.py:32-70). */
  def parseFile(spark: SparkSession, path: String): (DataFrame, String) = {
    if (!Files.exists(Paths.get(path)))
      throw new java.io.FileNotFoundException(s"File not found: $path")
    val ext = path.substring(path.lastIndexOf('.') max 0).toLowerCase
    ext match {
      case ".csv" => (readCsv(spark, path), ext)
      case ".xlsx" => (readXlsx(spark, path), ext)
      case ".xls" => (readXls(spark, path), ext)
      case ".txt" => (readTxt(spark, path), ext)
      case _ => throw new IllegalArgumentException(s"Unsupported file type: $ext")
    }
  }

  /** S6 row-as-strings accessor: bounded driver-side fetch used by header
    * detection (reference: file_parser.py:138-152). */
  def firstRows(df: DataFrame, n: Int): IndexedSeq[Seq[String]] =
    df.limit(n).collect().toIndexedSeq.map(_.toSeq.map(v => Option(v).map(_.toString.trim).getOrElse("")))

  /** P1/P4 stable 1-based row numbers in file order via zipWithIndex —
    * deterministic across partitions because partition order follows file
    * offset order. */
  def withRowNumbers(df: DataFrame, colName: String = "_row_number"): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(colName, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (row, idx) => Row.fromSeq(row.toSeq :+ (idx + 1L)) }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
