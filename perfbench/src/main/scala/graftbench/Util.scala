package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Small helpers shared by the benchmark: clocks, order statistics, files
  * and a minimal JSON writer (the result file is flat, so no library). */
object Util {

  def nowS(): Double = System.nanoTime() / 1e9

  /** Seconds since this JVM started. */
  def uptimeS(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Runs `f` and returns (result, seconds). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Bytes this process has read through read(2) and friends (all
    * threads, any file descriptor), from `/proc/self/io`; 0 elsewhere. */
  def readChars(): Long =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toVector
      all.reverse.foreach(Files.deleteIfExists)
    }

  private def dataFiles(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f))
      .filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toVector

  /** Data files under `p` (hidden and `_SUCCESS`-style files excluded). */
  def fileCount(p: Path): Long = dataFiles(p).length.toLong
  def byteSize(p: Path): Long = dataFiles(p).map(Files.size).sum

  /** Deterministic 64-bit mix of a seed (splitmix64 finalizer). */
  def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---- JSON (writer only)
  def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")

  def jarr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

object Par {
  /** Maps `f` over `xs` on all cores, keeping order. */
  def map[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val n = Runtime.getRuntime.availableProcessors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
