package perfbench

/** The benchmark's own arithmetic, kept free of Spark so it can be unit
  * tested: percentile selection, interval unions for span self time, and
  * the failure accounting of a run.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least `p`
    * percent of the samples are at or below it (`p` in (0, 100]). The
    * returned value is always one of the samples, so a p50 over an even
    * count is the lower of the two middle samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted((rank - 1).max(0))
  }

  /** Number of samples strictly above the `p` percentile: a tail
    * percentile says little unless at least ten samples lie beyond it.
    */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val cut = percentile(xs, p)
    xs.count(_ > cut)
  }

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span `[start, end)`: its duration minus the part of
    * that interval its children cover. Children are clipped to the parent
    * (a listener event can land a few ms outside it) and overlapping
    * children count once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (s.max(start), e.min(end)) }
    (end - start).max(0L) - unionLength(clipped)
  }

  /** Outcome of a run: `attempted` ops, of which `failed` failed. An op
    * that threw counts as failed; when the run's output check fails,
    * every op it covers counts as failed, since none of them can be
    * trusted to have produced its part of the output.
    */
  final case class Outcome(attempted: Int, failed: Int) {
    def correct: Boolean = failed == 0 && attempted > 0
  }

  def outcome(opsRun: Int, opsThrew: Int, outputOk: Boolean): Outcome =
    Outcome(opsRun, if (outputOk) opsThrew else opsRun)

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
