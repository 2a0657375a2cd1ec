package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Process counters read from outside the engine: `/proc/self/io` for bytes
  * (Spark's `inputMetrics.bytesRead` undercounts parquet scans), and
  * `/proc/self/stat` for user CPU. */
object Proc {
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.US_ASCII)

  private def field(text: String, key: String): Long =
    text.linesIterator.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Bytes this process asked the kernel to read (`rchar`). */
  def rchar(): Long = field(read("/proc/self/io"), "rchar")
  def wchar(): Long = field(read("/proc/self/io"), "wchar")

  /** User CPU seconds of this process (utime, USER_HZ = 100). */
  def userCpuS(): Double = {
    val s = read("/proc/self/stat")
    s.substring(s.lastIndexOf(')') + 2).split(" ")(11).toDouble / 100.0
  }

  /** Peak resident set size in MB (`VmHWM`). */
  def peakRssMb(): Double = field(read("/proc/self/status"), "VmHWM") / 1024.0

  def gcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}

/** Progress lines on stderr (the launcher keeps them in the run log). */
object Log {
  def apply(msg: String): Unit = System.err.println(
    f"[graftbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.1fs] $msg")
}

/** Counter snapshot around a timed region. */
final case class Counters(wallNs: Long, userCpuS: Double, rchar: Long, wchar: Long, gcS: Double) {
  def delta(end: Counters): Map[String, Any] = Map(
    "wall_s" -> (end.wallNs - wallNs) / 1e9,
    "user_cpu_s" -> (end.userCpuS - userCpuS),
    "read_bytes" -> (end.rchar - rchar),
    "write_bytes" -> (end.wchar - wchar),
    "gc_s" -> (end.gcS - gcS))
}
object Counters {
  def now(): Counters =
    Counters(System.nanoTime(), Proc.userCpuS(), Proc.rchar(), Proc.wchar(), Proc.gcS())
}

object Fs {
  /** Relative path → size of every regular file under `root`. */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).values.sum

  /** Bytes of files present in `after` but not in `before`. */
  def added(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.filterNot { case (k, _) => before.contains(k) }.map(_._2).sum

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the result file (maps, sequences, numbers,
  * strings, booleans, options). */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.iterator.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** The plan file written by the launcher: one record per line, tokens
  * separated by spaces. */
object PlanFile {
  def read(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+"))

  def params(lines: Seq[Array[String]]): Map[String, String] =
    lines.filter(_.head == "param").map(a => a(1) -> a(2)).toMap
}
