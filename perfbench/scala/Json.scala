package perfbench

/** Minimal JSON writing for the result file the runner reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A number with all its digits; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Host and process context, read from /proc. */
object Host {
  def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  var clockTicks = 100.0

  /** JVM user+sys CPU seconds (utime + stime in clock ticks). */
  def cpuSeconds(): Double = {
    val stat = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    // fields after the parenthesised command name; utime and stime are
    // fields 14 and 15 of the whole line
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / clockTicks
  }

  /** Peak resident set size of this process in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
