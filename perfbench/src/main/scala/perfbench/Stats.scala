package perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The op tail: the sample at the highest rank with at least 10 samples
    * beyond it. In a run of 22 ops or fewer that rank is not above the
    * upper median, and the tail is the slowest op instead. Returns (value,
    * 1-based rank).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.length
    val rank = if (n - 10 > n / 2 + 1) n - 10 else n
    (s(rank - 1), rank)
  }

  /** Peak resident set of this JVM in MB (VmHWM), or 0 if unavailable. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }

  /** (file count, bytes) of data files under `dir` whose path satisfies
    * `keep`; hidden and `_`-prefixed files (checksums, markers) are
    * skipped unless `all`.
    */
  def files(dir: java.io.File, all: Boolean = false,
      keep: String => Boolean = _ => true): (Long, Long) = {
    var n = 0L
    var b = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if ((all || !(f.getName.startsWith(".") || f.getName.startsWith("_"))) &&
          keep(f.getPath)) { n += 1; b += f.length() }
    if (dir.exists) walk(dir)
    (n, b)
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
