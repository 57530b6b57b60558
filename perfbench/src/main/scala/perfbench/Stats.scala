package perfbench

/** Order statistics and digests shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile of an already sorted sample, `p` in [0, 1]. */
  def percentileSorted(s: Array[Double], p: Double): Double = {
    require(s.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(p * s.length - 1e-9).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  /** The tail percentile a sample of `n` supports: 0.99, or the highest
    * percentile that still leaves at least ten samples beyond it. Below 20
    * samples no such percentile lies above the median, and the maximum is
    * used.
    */
  def tailLevel(n: Int): Double =
    if (n < 20) 1.0 else math.min(0.99, (n - 10).toDouble / n)

  /** Median, tail (see [[tailLevel]]) and sample count of a latency sample. */
  final case class Summary(p50: Double, tail: Double, tailLevel: Double, n: Int)

  def summarize(xs: Seq[Double]): Summary = {
    val s = xs.toArray.sorted
    val level = tailLevel(s.length)
    Summary(median(s.toSeq), percentileSorted(s, level), level, s.length)
  }

  /** Least-squares slope of y over x: the backlog growth rate when x is
    * seconds and y the number of operations sent but not yet answered.
    * Zero when x does not vary.
    */
  def slope(points: Seq[(Double, Double)]): Double = {
    val n = points.length
    if (n < 2) return 0.0
    val mx = points.map(_._1).sum / n
    val my = points.map(_._2).sum / n
    val sxx = points.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0.0) 0.0
    else points.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Hex SHA-256 of the lines, each newline-terminated: the digest of a
    * generated operation sequence, where one line is one operation.
    */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
