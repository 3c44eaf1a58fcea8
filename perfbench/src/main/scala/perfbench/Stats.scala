package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it is unit-tested. */
object Stats {

  /** Length of the union of closed intervals `[a, b]` (any unit). Empty or
    * reversed intervals count for nothing. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) total += b - from
      end = math.max(end, b)
    }
    total
  }

  /** Intervals clipped to the window `[w0, w1]`; those outside it drop. */
  def clip(ivs: Seq[(Long, Long)], w0: Long, w1: Long): Seq[(Long, Long)] =
    ivs.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter(iv => iv._2 > iv._1)

  /** Percentile `p` in [0, 100] with linear interpolation between closest
    * ranks (the method numpy and Python's `statistics` call "inclusive"). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** `num / den`, or `ifZero` when the base is 0. */
  def ratio(num: Double, den: Double, ifZero: Double = 0.0): Double =
    if (den == 0.0) ifZero else num / den

  /** Worst stage skew: max over stages of (slowest task / median task). */
  def worstSkew(taskTimesByStage: Iterable[Seq[Double]]): Double =
    taskTimesByStage.filter(_.nonEmpty).map { ts =>
      ratio(ts.max, median(ts), ifZero = 1.0)
    }.foldLeft(1.0)(math.max)

  private val floatNum = "-?\\d+\\.\\d+(?:[eE][-+]?\\d+)?".r
  private val updatedAt = "\"updatedAt\":\\d+".r

  /** One report line in canonical form: `meta.updatedAt` blanked and every
    * floating-point number rounded to 9 significant digits, so sums taken
    * in a different task order read alike. */
  def canonicalLine(line: String): String =
    floatNum.replaceAllIn(updatedAt.replaceAllIn(line, "\"updatedAt\":0"), m =>
      java.math.BigDecimal.valueOf(m.matched.toDouble)
        .round(new java.math.MathContext(9)).stripTrailingZeros().toPlainString)

  /** Order-insensitive digest of (relative directory, line) pairs. */
  def digest(lines: Iterator[(String, String)]): String = {
    val hashes = lines.map { case (dir, l) =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(dir.getBytes("UTF-8")); md.update(0.toByte)
      md.update(canonicalLine(l).getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }.toVector.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    hashes.foreach(h => md.update(h.getBytes("UTF-8")))
    s"${hashes.size}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }
}
