package cdcbench

/** Timing summaries. A percentile is reported only where the sample
  * supports it: at least [[MinBeyond]] samples must lie beyond it. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile of an ascending array. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(p / 100.0 * sorted.length).toInt
    sorted(math.min(math.max(rank, 1), sorted.length) - 1)
  }

  /** Samples strictly beyond the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.min(math.max(math.ceil(p / 100.0 * n).toInt, 1), n)

  private val Ladder = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[Ladder]] with at least [[MinBeyond]]
    * samples beyond it in a sample of `n`, if any. */
  def highestSupported(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= MinBeyond).lastOption

  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toArray, 50)
}

/** An append-only primitive buffer (no boxing on the per-event path). */
final class LongBuf(initial: Int = 1024) {
  private var a = new Array[Long](initial)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(n) = v; n += 1
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}
