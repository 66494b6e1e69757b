package perfbench

/** Order statistics used by every workload. Percentiles interpolate
  * linearly between closest ranks (numpy's default), so a metric moves
  * smoothly as samples change instead of jumping between neighbours. */
object Stats {
  def percentile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50.0)

  val TailCap = 95.0
  val TailBeyond = 10

  /** The highest percentile, capped at [[TailCap]], that leaves at least
    * [[TailBeyond]] of `n` samples above it: a tail figure is only reported
    * where enough samples support it. None when `n <= TailBeyond`. */
  def tailPercentile(n: Int): Option[Double] =
    if (n <= TailBeyond) None else Some(math.min(TailCap, 100.0 * (n - TailBeyond) / n))

  /** Tail value of `xs` under [[tailPercentile]], where support is counted
    * in `units` (e.g. micro-batches) rather than in samples; falls back to
    * the median when the tail is unsupported or lies below it. */
  def tail(xs: Iterable[Double], units: Int): Double =
    tailPercentile(units).filter(_ >= 50.0).fold(median(xs))(percentile(xs, _))
}

/** Latency of an open-loop stream computed from offsets alone. Record k of
  * the schedule (shard `k % shards`, index `k / shards` within it) is due at
  * `t0Ms + k * 1000 / ratePerSec`; a batch that commits shard s's index range
  * [a, b) at `endMs` gives each of those records latency `endMs - due`. */
object Latency {
  final case class Commit(endMs: Double, ranges: Map[Int, (Long, Long)])

  /** A micro-batch's commit from its progress report: it ends at the
    * trigger start plus `triggerExecution`, and covers each shard's range
    * between the source's start and end offsets (a null start offset is the
    * first batch, starting at 0). */
  def commitOf(timestampIso: String, triggerMs: Double, startOffset: String, endOffset: String,
      index: String => Int): Commit = {
    def parse(s: String) =
      if (s == null || s == "null") Map.empty[String, Long] else graft.sources.GraftOffset.fromJson(s).positions
    val a = parse(startOffset)
    Commit(java.time.Instant.parse(timestampIso).toEpochMilli + triggerMs,
      parse(endOffset).map { case (sid, end) => index(sid) -> (a.getOrElse(sid, 0L), end) })
  }

  def dueMs(k: Long, t0Ms: Double, ratePerSec: Double): Double = t0Ms + k * 1000.0 / ratePerSec

  /** Latencies of the records at schedule positions `fromK` and later. */
  def recordLatencies(commits: Seq[Commit], shards: Int, t0Ms: Double,
      ratePerSec: Double, fromK: Long = 0L): Array[Double] = {
    val out = Array.newBuilder[Double]
    for (c <- commits; (s, (a, b)) <- c.ranges; i <- a until b if i * shards + s >= fromK)
      out += c.endMs - dueMs(i * shards + s, t0Ms, ratePerSec)
    out.result()
  }

  /** Per-shard committed ranges must tile [0, n) with no overlap or gap:
    * an overlap is a duplicate delivery, a gap a lost record. Returns the
    * problems found. */
  def tilingProblems(commits: Seq[Commit], expectedLen: Int => Long, shards: Int): Seq[String] = {
    val next = Array.fill(shards)(0L)
    val problems = Seq.newBuilder[String]
    for (c <- commits; (s, (a, b)) <- c.ranges.toSeq.sortBy(_._1) if b > a) {
      if (a != next(s)) problems += s"shard $s: batch range [$a, $b) after ${next(s)}"
      next(s) = math.max(next(s), b)
    }
    for (s <- 0 until shards if next(s) != expectedLen(s))
      problems += s"shard $s: committed ${next(s)} of ${expectedLen(s)}"
    problems.result()
  }
}
