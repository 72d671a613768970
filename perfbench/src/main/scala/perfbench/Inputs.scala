package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

/** Input directories written once per (workload, seed, size) and sealed
  * with a sha256 manifest. A directory is generated under a temporary name
  * and renamed into place only once complete, so a crash leaves no
  * half-written directory under the final name; a final directory whose
  * files do not match its manifest is refused, never silently reused. */
object Manifest {
  val FileName = "MANIFEST.sha256"

  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .filterNot(_.getFileName.toString == FileName).sorted
    finally s.close()
  }

  private def render(dir: Path): String =
    files(dir).map(p => s"${sha256(p)}  ${dir.relativize(p)}").mkString("", "\n", "\n")

  /** Refuse `dir` unless its files are exactly the ones its manifest lists,
    * with the listed digests. */
  def verify(dir: Path): Unit = {
    val m = dir.resolve(FileName)
    require(Files.isRegularFile(m), s"input directory $dir has no $FileName (partial?)")
    val want = new String(Files.readAllBytes(m), UTF_8)
    val got = render(dir)
    require(want == got, s"input directory $dir does not match its manifest")
  }

  /** The sealed directory `dir`, generating it with `gen` first if absent. */
  def ensure(dir: Path)(gen: Path => Unit): Path = {
    if (!Files.exists(dir)) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      deleteTree(tmp)
      Files.createDirectories(tmp)
      gen(tmp)
      Files.write(tmp.resolve(FileName), render(tmp).getBytes(UTF_8))
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    verify(dir)
    dir
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

/** Seeded random streams: one independent stream per (seed, purpose). */
object Rng {
  def apply(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL)

  def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))

  /** A decimal string with `scale` digits in [lo, hi). */
  def decimal(r: SplittableRandom, lo: Double, hi: Double, scale: Int): String =
    BigDecimal(lo + r.nextDouble() * (hi - lo))
      .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
}

/** Writes rows of string cells as a comma-separated file. Generated values
  * never contain commas, quotes or line breaks. */
object Csv {
  def write(p: Path, rows: Iterator[Seq[String]]): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try rows.foreach { r => w.write(r.mkString(",")); w.write('\n') } finally w.close()
  }
}
