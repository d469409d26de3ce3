package graft.perfbench

/** Small helpers shared by the workloads: JSON rendering, order statistics
  * and process facts read from /proc. */
object Util {

  def q(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Render a nested value: Map (ListMap keeps insertion order), Seq,
    * String, number or Boolean. */
  def json(v: Any): String = v match {
    case null                  => "null"
    case s: String             => q(s)
    case b: Boolean            => b.toString
    case i: Int                => i.toString
    case l: Long               => l.toString
    case d: Double             => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_]        => s.map(json).mkString("[", ",", "]")
    case other                 => q(other.toString)
  }

  /** Linear-interpolated quantile (numpy's default) of an unsorted sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (den == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = procStatusKb("VmHWM") / 1024.0

  private def procStatusKb(field: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** Jiffies (all, steal) from the cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Seq.empty }

  def nowMs(): Double = System.nanoTime() / 1e6

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
