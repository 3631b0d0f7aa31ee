package cdcbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Samples a percentile must have strictly beyond it to be reported. */
  val MinBeyond = 10

  /** Smallest sample count for which percentile `p` may be reported. */
  def minSamples(p: Double): Int = {
    require(p > 0 && p < 100, s"percentile out of range: $p")
    math.ceil(MinBeyond / (1 - p / 100) - 1e-9).toInt
  }

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. Refuses, with an
    * exception, a percentile that would have fewer than [[MinBeyond]]
    * samples beyond it: a p90 needs at least 100 samples, a p50 at least
    * 20. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val n = xs.size
    require(n >= minSamples(p),
      s"p$p needs at least ${minSamples(p)} samples, got $n")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(p / 100 * n).toInt - 1))
  }

  /** Median of a handful of repeats (set-up times, per-round layer
    * timings). Unlike [[percentile]] it accepts any non-empty sample: it
    * summarises repeats of one measurement, not a latency distribution. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** One published log file: events with offsets in (`fromOffset`,
    * `toOffset`], due on the generator's schedule at wall-clock `dueMs`. */
  final case class Publish(fromOffset: Long, toOffset: Long, dueMs: Long)

  /** One committed trigger: the stream's committed offset moved to
    * `endOffset` at wall-clock `committedMs`. */
  final case class Commit(endOffset: Long, committedMs: Long)

  /** Per-event freshness: for every published event, the commit time of
    * the first trigger whose committed offset reaches the event's offset,
    * minus the time the event was due to be published. Timing from the
    * due time, not the actual publish, keeps a stalled generator's delay
    * in the figure. Events no trigger committed are left out. */
  def freshness(publishes: Seq[Publish], commits: Seq[Commit]): Seq[Double] = {
    val cs = commits.sortBy(_.endOffset).toIndexedSeq
    def firstCommitAtOrAfter(off: Long): Option[Commit] = {
      var lo = 0; var hi = cs.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cs(mid).endOffset < off) lo = mid + 1 else hi = mid
      }
      if (lo < cs.size) Some(cs(lo)) else None
    }
    publishes.flatMap { p =>
      (p.fromOffset + 1 to p.toOffset).iterator.flatMap { off =>
        firstCommitAtOrAfter(off).map(c => (c.committedMs - p.dueMs).toDouble)
      }
    }
  }
}
