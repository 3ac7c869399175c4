package pipebench

/** The benchmark's own arithmetic, kept free of Spark so the self-tests
  * can check it exactly. */
object Stats {

  /** A latency summary: the median, the highest percentile that still
    * has at least `minBeyond` samples above it, and the sample count
    * both rest on. */
  final case class Summary(n: Int, p50: Double, tailPct: Double,
                           tail: Double) {
    def label: String = f"p50 ${p50}%.4f s, p${tailPct}%.1f ${tail}%.4f s (n=$n)"
  }

  /** Median: the middle sample, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least `minBeyond` samples strictly
    * beyond it. The sorted sample at 0-based index k has n-1-k samples
    * after it, so the answer is index n-1-minBeyond, the
    * 100·(n-minBeyond)/n-th percentile. With too few samples for any
    * such index at or above the median, the median stands in for the
    * tail, so the tail never reads below the median. */
  def summarize(xs: Seq[Double], minBeyond: Int = 10): Summary = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    val p50 = median(s)
    val k = n - 1 - minBeyond
    if (k >= 0 && s(k) >= p50)
      Summary(n, p50, 100.0 * (n - minBeyond) / n, s(k))
    else Summary(n, p50, 50.0, p50)
  }

  /** Bytes written to storage per byte of new user data delivered; 0
    * when nothing was delivered (a workload that loads no data). */
  def writeAmp(bytesWritten: Long, bytesDelivered: Long): Double =
    if (bytesDelivered <= 0) 0.0 else bytesWritten.toDouble / bytesDelivered

  /** Length of the union of half-open intervals [start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (children clipped to the parent; overlapping
    * children, as under fan-out, count once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
