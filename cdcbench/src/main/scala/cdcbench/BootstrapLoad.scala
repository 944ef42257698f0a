package cdcbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.model.Checkpoint
import graft.operators.Bootstrap
import graft.streaming.{Applier, RelayStream}

/** One closed sequence, repeated: a consumer whose checkpoint predates
  * the event log's minimum SCN detects the fall-off (`bufferInfo`),
  * bootstraps with `Bootstrap.snapshotPlusCatchup` to the log head,
  * materializes the result with `Applier.applyBatch`, then applies
  * [[Batches]] further change batches. This is the only workload with
  * the key shuffle and snapshot store writes. Bootstrap speed is reported
  * as events restored per second of the median bootstrap; latency is per
  * applied batch. */
object BootstrapLoad extends Workload {
  val LogEvents = 80000
  val Batches = 6
  val BatchEvents = 8000
  val Partitions = 8

  def spec(seed: Long): EnvelopeSpec = EnvelopeSpec(seed,
    events = LogEvents + Batches.toLong * BatchEvents, keys = 8000, zipfS = 1.0,
    sources = 5, partitions = Partitions, windowSize = 50, deleteShare = 0.10)

  /** A checkpoint from before the log's first window. */
  val StaleCheckpoint: Checkpoint = Checkpoint.online(10L)

  private var logDir: String = _
  private var batchDir: String = _
  private var writeSec = 0.0
  // reference state after the log, and after every batch
  private var afterLog: (Long, Long) = _
  private var afterBatches: (Long, Long) = _

  def prepare(ctx: Ctx): Unit = {
    val s = spec(ctx.seed)
    logDir = ctx.dir("log")
    batchDir = ctx.dir("batches")
    writeSec = Workload.seconds {
      Trace.span("sources", "RelayStream.writeEventLog") {
        RelayStream.writeEventLog(EnvelopeGen.frame(ctx.spark, s, until = LogEvents), logDir)
      }
    }._2
    EnvelopeGen.frame(ctx.spark, s, from = LogEvents, until = s.events)
      .withColumn("batch", ((col("seq") - LogEvents) / BatchEvents).cast("int"))
      .write.partitionBy("batch").parquet(batchDir)
    val state = mutable.LongMap.empty[(Long, Double)]
    Lww.fold(EnvelopeGen.iterator(s, 0, LogEvents), state)
    afterLog = (state.size.toLong, Lww.checksumOf(state))
    Lww.fold(EnvelopeGen.iterator(s, LogEvents, s.events), state)
    afterBatches = (state.size.toLong, Lww.checksumOf(state))
  }

  /** (live keys, checksum) of the materialized snapshot. */
  private def stateOf(ctx: Ctx, stateDir: String): (Long, Long) = {
    import ctx.spark.implicits._
    val rows = Applier.snapshot(ctx.spark, stateDir)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $stateDir"))
      .select("key_long", "seq", "value").as[(Long, Long, Double)].collect()
    (rows.length.toLong, Lww.checksum(rows.iterator))
  }

  private case class Cycle(bootstrapSec: Double, applyMs: Seq[Double],
      materializeSec: Double, bytesWritten: Long, batchBytesWritten: Long, cpuNs: Long,
      problems: Seq[String], failedOps: Int)

  /** Bootstrap then apply the first `batches` batches, checking the state
    * after each phase (the final check only once all are applied). */
  private def cycle(ctx: Ctx, n: Int, batches: Int = Batches): Cycle = {
    val spark = ctx.spark
    val stateDir = ctx.dir(s"state-$n")
    val problems = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    var bytes = 0L
    var materializeSec = 0.0
    var cpu0 = Workload.cpuNs
    val bootstrapSec = try {
      Workload.seconds {
        val (minScn, maxScn) = Trace.span("operators", "RelayStream.bufferInfo", n) {
          RelayStream.bufferInfo(spark, logDir)
        }
        require(StaleCheckpoint.windowScn < minScn, "the checkpoint did not fall off the log")
        val log = spark.read.schema(RelayStream.schema).parquet(logDir)
        val state = Trace.span("operators", "Bootstrap.snapshotPlusCatchup", n) {
          Bootstrap.snapshotPlusCatchup(log, startScn = minScn, targetScn = maxScn)
        }
        materializeSec = Workload.seconds {
          Trace.span("streaming", "Applier.applyBatch", n) { Applier.applyBatch(spark, state, stateDir) }
        }._2
      }._2
    } catch {
      case e: Exception =>
        problems += s"bootstrap $n threw: $e"
        return Cycle(0, Nil, 0, 0, 0, 0, problems.toSeq, 1 + Batches)
    }
    var cpuNs = Workload.cpuNs - cpu0
    bytes += Workload.bytesUnder(s"$stateDir/current")
    val materializeBytes = bytes
    val boot = stateOf(ctx, stateDir)
    if (boot != afterLog) {
      failedOps += 1
      problems += s"bootstrap $n: (live keys, checksum) $boot, reference $afterLog"
    }
    val applyMs = (0 until batches).flatMap { b =>
      try {
        val batch = spark.read.parquet(s"$batchDir/batch=$b")
        cpu0 = Workload.cpuNs
        val (_, sec) = Workload.seconds {
          Trace.span("streaming", "Applier.applyBatch", n) { Applier.applyBatch(spark, batch, stateDir) }
        }
        cpuNs += Workload.cpuNs - cpu0
        bytes += Workload.bytesUnder(s"$stateDir/current")
        Some(sec * 1000)
      } catch {
        case e: Exception =>
          failedOps += 1
          problems += s"apply $n/$b threw: $e"
          None
      }
    }
    val fin = if (batches == Batches) stateOf(ctx, stateDir) else afterBatches
    if (fin != afterBatches) {
      failedOps += 1
      problems += s"after batches $n: (live keys, checksum) $fin, reference $afterBatches"
    }
    Cycle(bootstrapSec, applyMs, materializeSec, bytes, bytes - materializeBytes, cpuNs,
      problems.toSeq, failedOps)
  }

  /** Two short cycles: the first bootstrap of a JVM runs much slower. */
  def warm(ctx: Ctx): Unit = Seq(-1, -2).foreach { n =>
    val c = cycle(ctx, n, batches = 1)
    if (c.problems.nonEmpty) throw new IllegalStateException(c.problems.mkString("; "))
  }

  def measure(ctx: Ctx): Outcome = {
    ctx.startClock()
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    while (cycles.isEmpty || ctx.timeLeft) cycles += cycle(ctx, cycles.size)
    val ok = cycles.filter(_.bootstrapSec > 0)
    val applies = cycles.flatMap(_.applyMs).toArray
    val events = ok.size.toLong * (LogEvents + Batches.toLong * BatchEvents)
    val e2e = Map(
      "throughput_per_s" -> LogEvents / Stats.median(ok.map(_.bootstrapSec).toSeq),
      "cpu_ms_per_unit" -> ok.map(_.cpuNs).sum / 1e6 / events,
      "bytes_written_per_event" -> ok.map(_.bytesWritten).sum.toDouble / events) ++
      (if (applies.nonEmpty) Workload.latencyMetrics(applies) else Map.empty)
    val layer = if (!Trace.enabled) Map.empty[String, Double] else {
      // the bootstrap alone, forced into a no-op sink, with its shuffle bytes
      val spark = ctx.spark
      val (minScn, maxScn) = RelayStream.bufferInfo(spark, logDir)
      val log = spark.read.schema(RelayStream.schema).parquet(logDir)
      val c0 = Trace.counts()
      val (_, sec) = Workload.seconds {
        Trace.span("operators", "snapshotPlusCatchup noop") {
          Bootstrap.snapshotPlusCatchup(log, minScn, maxScn)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val shuffled = (Trace.counts() - c0).shuffleBytes
      val applyCalls = 1 + Batches
      val batchInputBytes = Workload.bytesUnder(batchDir)
      Map(
        "sources.log_write_eps" -> LogEvents / writeSec,
        "operators.buffer_info_ms" -> Workload.p(
          Trace.spansOf("operators", "RelayStream.bufferInfo").map(_.ms), 50),
        "operators.snapshot_catchup_s" -> sec,
        "operators.bootstrap_shuffle_bytes" -> shuffled.toDouble,
        "streaming.apply_s" -> Stats.median(ok.map(_.materializeSec).toSeq),
        "streaming.apply_bytes_written" ->
          ok.map(_.bytesWritten).sum.toDouble / (ok.size * applyCalls),
        "streaming.apply_write_amp" -> ok.map(_.batchBytesWritten).sum.toDouble /
          (ok.size * batchInputBytes))
    }
    System.err.println(s"[cdcbench] bootstrap: ${cycles.size} cycles, bootstrap " +
      ok.map(c => f"${c.bootstrapSec}%.2f").mkString("/") + s" s, ${applies.length} applies")
    Outcome(cycles.size.toLong * (1 + Batches), cycles.map(_.failedOps).sum.toLong,
      cycles.flatMap(_.problems).toSeq, e2e, layer)
  }
}
