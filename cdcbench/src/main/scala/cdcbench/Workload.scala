package cdcbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one run of a workload hands back. `attempted`/`failed` count the
  * workload's own unit (events for replay, operations for the others); a
  * call that throws is counted as failed and never timed. */
case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double])

/** Per-run context. `work` is a scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val work: File) {
  def dir(name: String): String = new File(work, name).getAbsolutePath
  /** The measured phase ends at this `nanoTime`; set when it starts. */
  var deadlineNs: Long = 0L
  def startClock(): Unit = deadlineNs = System.nanoTime() + seconds * 1000000000L
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
}

/** One workload: `prepare` builds its inputs, `warm` runs the path
  * untimed, and `measure` runs the timed phase for the requested seconds. */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def warm(ctx: Ctx): Unit
  def measure(ctx: Ctx): Outcome
}

object Workload {
  val all: Map[String, Workload] = Map(
    "replay" -> Replay, "bootstrap" -> BootstrapLoad, "serve" -> Serve)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread, user and system), in ns.
    * Unlike wall time it does not count time the host withholds the CPU. */
  def cpuNs: Long = os.getProcessCpuTime

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Total bytes of the regular files under `path`. */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    walk(new File(path))
  }

  /** Parquet data files under `path`. */
  def parquetFilesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1L
      else 0L
    walk(new File(path))
  }

  def p(xs: Iterable[Double], pct: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs.toArray.sorted, pct)

  /** The latency end-to-end metrics of a sample in milliseconds. */
  def latencyMetrics(ms: Array[Double]): Map[String, Double] = {
    val sorted = ms.sorted
    if (Stats.beyond(sorted.length, 90) < Stats.MinBeyond)
      System.err.println(s"[cdcbench] note: ${sorted.length} latency samples support " +
        Stats.highestSupported(sorted.length).fold("no percentile")(p => s"p$p at most") +
        s" (${Stats.MinBeyond} beyond it); p90 is reported")
    Map("latency_p50_ms" -> Stats.percentile(sorted, 50),
      "latency_p90_ms" -> Stats.percentile(sorted, 90))
  }

  /** Per-trigger phase durations from `StreamingQueryProgress`, over the
    * triggers that carried data. */
  def triggerMetrics(ps: Seq[Progress]): Map[String, Double] = {
    val data = ps.filter(_.rows > 0)
    def d(key: String): Seq[Double] = data.map(_.durationMs.getOrElse(key, 0L).toDouble)
    val overhead = data.map(x => (x.durationMs.getOrElse("triggerExecution", 0L) -
      x.durationMs.getOrElse("addBatch", 0L)).toDouble)
    Map(
      "streaming.batches" -> data.size.toDouble,
      "streaming.add_batch_ms" -> p(d("addBatch"), 50),
      "streaming.trigger_overhead_ms" -> p(overhead, 50),
      "streaming.query_planning_ms" -> p(d("queryPlanning"), 50),
      "streaming.wal_commit_ms" -> p(d("walCommit"), 50),
      "streaming.commit_offsets_ms" -> p(d("commitOffsets"), 50),
      "sources.relay.latest_offset_ms" -> p(d("latestOffset"), 50))
  }
}
