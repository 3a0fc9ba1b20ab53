package graftbench

/** Latency summaries by the benchmark's reporting rule: the median,
  * the highest percentile that still has at least [[Stats.Beyond]]
  * samples beyond it, and the sample count. */
object Stats {
  val Beyond = 10

  final case class Summary(n: Int, p50: Double, hiPct: Option[Int], hi: Option[Double])

  /** nearest-rank percentile (p in (0, 100]) of sorted values */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(math.max(rank, 1), sorted.size) - 1)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** the highest whole percentile p whose nearest-rank value has at
    * least `beyond` samples strictly after it, if any */
  def highestPercentile(n: Int, beyond: Int = Beyond): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Summary(0, Double.NaN, None, None)
    else {
      val hp = highestPercentile(s.size)
      Summary(s.size, median(s), hp, hp.map(p => percentile(s, p)))
    }
  }
}
