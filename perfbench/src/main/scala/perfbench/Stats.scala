package perfbench

object Stats {

  /** The q-th percentile (0..100) by linear interpolation between the
    * closest ranks: rank = q/100 * (n - 1) over the sorted sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0 && q <= 100, s"percentile $q outside 0..100")
    val s = xs.sorted
    val rank = q / 100 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Median op latency: each op's median wall time over the passes it
    * ran in, then the median of those over the ops. */
  def opMedian(ops: Seq[Op]): Double =
    median(ops.groupBy(_.name).values.map(os => median(os.map(_.wallS))).toSeq)
}
