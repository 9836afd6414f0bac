package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None when there are fewer than eleven samples.
    * With n samples it is the (n-10)-th smallest, i.e. p = 100·(n-10)/n.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 10
      Some((100.0 * k / s.size, s(k - 1)))
    }

  /** Peak resident set size of this process (VmHWM) in MiB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadavg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse("unknown")
}
