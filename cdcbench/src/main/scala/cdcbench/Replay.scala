package cdcbench

import scala.jdk.CollectionConverters._

import graft.operators.KeyModFilter
import graft.sources.relay.DbusV2Log
import graft.streaming.Dispatcher

/** Closed loop, one catching-up consumer: a DbusEventV2 wire log is
  * drained again and again, each time from the start with a fresh
  * checkpoint, through `format("graft-relay")`, a server-side KeyMod
  * 3-of-4 filter and `Dispatcher.start` with `Trigger.AvailableNow`; the
  * consumer stores every committed checkpoint with
  * `FileSystemCheckpointStore`. A drain is three micro-batches of about
  * 100k delivered events each, large enough that per-event work (decode,
  * filter, shuffle, sort, callbacks) outweighs the fixed cost of a batch
  * (its four jobs and trigger phases); three, an odd number, so that the
  * median event is delivered inside a batch rather than at a batch
  * boundary. An event is due when its drain starts, so its latency is how
  * long a lagging consumer waits for it. */
object Replay extends Workload {
  val Segments = 24
  val MaxSegmentsPerBatch = 8
  val Filter = KeyModFilter(4, 0, 3)
  val Partitions = 8

  def spec(seed: Long): EnvelopeSpec = EnvelopeSpec(seed, events = 400000,
    keys = 200000, zipfS = 1.0, sources = 5, partitions = Partitions,
    windowSize = 25, deleteShare = 0.05)

  private var logDir: String = _
  private var writeSec = 0.0
  private var expectedOffsets: Array[Long] = _

  def prepare(ctx: Ctx): Unit = {
    val s = spec(ctx.seed)
    logDir = ctx.dir("wire")
    writeSec = Workload.seconds {
      Trace.span("sources", "DbusV2Log.write") {
        DbusV2Log.write(EnvelopeGen.withPayload(EnvelopeGen.frame(ctx.spark, s)),
          logDir, Segments)
      }
    }._2
    val buf = new LongBuf
    EnvelopeGen.iterator(s).foreach { e =>
      if (math.abs(e.key_long) % 4 < 3) buf += e.seq
    }
    expectedOffsets = buf.toArray
  }

  private def newLog(ctx: Ctx): DeliveryLog = {
    val log = new DeliveryLog(spec(ctx.seed).events, Partitions)
    expectedOffsets.foreach(log.expected.set)
    log
  }

  /** One full drain; returns its seconds, or the error it threw. */
  private def drain(ctx: Ctx, log: DeliveryLog, n: Int): Either[Throwable, Double] = {
    val stream = ctx.spark.readStream.format("graft-relay")
      .option("path", logDir)
      .option("maxSegmentsPerBatch", MaxSegmentsPerBatch.toLong)
      .load()
      .where(Filter.toColumn)
    Delivery.current = log
    val t0 = System.nanoTime()
    log.dueUs = Clock.nowUs
    try {
      Trace.span("streaming", "Dispatcher.drain", n) {
        val q = Dispatcher.start(stream, new CheckingConsumer(Some(ctx.dir(s"cp-$n"))),
          ctx.dir(s"ckpt-$n"), availableNow = true)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception => Left(e) }
  }

  def warm(ctx: Ctx): Unit = {
    val log = newLog(ctx)
    drain(ctx, log, -1).left.foreach(e =>
      throw new IllegalStateException("warm-up drain failed", e))
    if (log.missing > 0 || log.violationCount > 0)
      throw new IllegalStateException(s"warm-up drain: ${log.missing} missing, " +
        log.firstProblem.getOrElse(""))
  }

  def measure(ctx: Ctx): Outcome = {
    val s = spec(ctx.seed)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var callbacks = 0L
    val drainSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val latMs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var callbackNs = 0L
    val storeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cpuNs = 0L
    val c0 = Trace.counts()
    val since = System.nanoTime()
    ctx.startClock()
    var n = 0
    while (n == 0 || ctx.timeLeft) {
      val log = newLog(ctx)
      attempted += expectedOffsets.length
      val cpu0 = Workload.cpuNs
      drain(ctx, log, n) match {
        case Left(e) =>
          failed += expectedOffsets.length
          problems += s"drain $n threw: $e"
        case Right(sec) =>
          drainSeconds += sec
          cpuNs += Workload.cpuNs - cpu0
          callbacks += log.callbacks.get
          failed += log.missing
          if (log.missing > 0) problems += s"drain $n: ${log.missing} expected events never delivered"
          log.firstProblem.foreach(m => problems += s"drain $n: ${log.violationCount} violations, first: $m")
          latMs += log.latencyUs.map(_ / 1000.0)
          callbackNs += log.callbackNs.get
          storeMs ++= log.storeMs.asScala
      }
      n += 1
    }
    val c = Trace.counts() - c0
    val progress = Trace.progressSince(since)
    val batches = progress.count(_.rows > 0)
    val allLat = latMs.flatten.toArray
    val e2e = Map(
      "throughput_per_s" -> (if (drainSeconds.nonEmpty) callbacks / drainSeconds.sum else 0.0),
      "cpu_ms_per_unit" -> cpuNs / 1e6 / math.max(callbacks, 1L),
      "bytes_written_per_event" -> Workload.bytesUnder(logDir).toDouble / s.events) ++
      (if (allLat.nonEmpty) Workload.latencyMetrics(allLat) else Map.empty)
    val layer = if (!Trace.enabled) Map.empty[String, Double] else {
      val decodeEps = (0 until 3).map { _ =>
        val (rows, sec) = Workload.seconds {
          Trace.span("sources.relay", "graft-relay batch read") {
            ctx.spark.read.format("graft-relay").option("path", logDir).load()
              .where(Filter.toColumn).queryExecution.toRdd.count()
          }
        }
        require(rows == expectedOffsets.length, s"batch read returned $rows rows")
        s.events / sec
      }
      Workload.triggerMetrics(progress) ++ Map(
        "sources.log_write_eps" -> s.events / writeSec,
        "sources.relay.decode_eps" -> Stats.median(decodeEps),
        "sources.relay.records_read_per_delivered" ->
          c.recordsRead.toDouble / math.max(callbacks, 1L),
        "streaming.jobs_per_batch" -> c.jobs.toDouble / math.max(batches, 1),
        "streaming.shuffle_bytes_per_event" ->
          c.shuffleBytes.toDouble / math.max(callbacks, 1L),
        "streaming.events_per_batch" -> callbacks.toDouble / math.max(batches, 1),
        "streaming.callback_ms" -> callbackNs / 1e6 / math.max(batches, 1),
        "model.checkpoint_store_ms" -> Workload.p(storeMs, 50))
    }
    System.err.println(s"[cdcbench] replay: $n drains, $callbacks callbacks, drains " +
      drainSeconds.map(d => f"$d%.2f").mkString("/") + " s")
    Outcome(attempted, failed, problems.toSeq, e2e, layer)
  }
}
