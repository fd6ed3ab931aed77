package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A measured number with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}

object Util {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Called before each timed iteration: Spark's ContextCleaner frees a
    * finished query's shuffle, broadcast and checkpoint state only after a
    * GC, so without one state piles up across iterations (see graft.Bench).
    */
  def quiesce(): Unit = System.gc()

  /** Seconds taken by `body`, and its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def files(root: File): Seq[Path] =
    if (!root.exists()) Nil
    else {
      val s = Files.walk(root.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** Bytes of every regular file under `root`. */
  def du(root: File): Long = files(root).map(Files.size).sum

  /** Data files (Spark part files) under `root`. */
  def dataFiles(root: File): Int = files(root).count(_.getFileName.toString.startsWith("part-"))

  /** Lines of every Spark part file under `dir`, in file-name order. */
  def partLines(dir: File): Seq[String] =
    files(dir).filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala)

  def deleteTree(root: File): Unit = if (root.exists()) {
    val s = Files.walk(root.toPath)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(from: File, to: File): Unit = {
    val s = Files.walk(from.toPath)
    try s.iterator().asScala.foreach { p =>
      val t = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(f.toPath)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Whitespace tokens as the library's text operators split them. */
  def tokens(text: String): Seq[String] = text.split(" ").toSeq.filter(_.nonEmpty)
}
