package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Checkpoint
import graft.pipeline.PlanCache

/** One delivered change event (typed dispatcher surface). */
case class EnvelopeRow(
    scn: Long, seq: Long, ts_us: Option[Long], source_id: Int,
    partition_id: Int, opcode: Option[String], key_long: Option[Long],
    value: Option[Double], props: Option[String])

/** Consumer callback surface — the engine's `DatabusStreamConsumer`
  * (databus-client-api/.../pub/DatabusStreamConsumer.java; dispatch loop
  * GenericDispatcher.java:671-980). Callbacks fire per executor partition
  * in (scn, seq) order; window boundaries are exact because micro-batches
  * only contain whole windows (RelayStream layout invariant).
  *
  * Must be Serializable — instances ship to executors.
  */
trait DatabusConsumer extends Serializable {
  /** onStartDataEventSequence analog. */
  def onStartWindow(scn: Long): Unit = {}
  /** onDataEvent analog. Return false to signal an error → Spark retries
    * the task = rollback-and-replay from the last checkpoint
    * (GenericDispatcher.java:551,921 contract: at-least-once). */
  def onEvent(e: EnvelopeRow): Boolean
  /** onEndDataEventSequence analog (EOW). */
  def onEndWindow(scn: Long): Unit = {}
  /** Fired on the driver after each committed micro-batch with the new
    * high-watermark checkpoint (onCheckpoint analog; persistence is the
    * streaming checkpointLocation). */
  def onCheckpoint(cp: Checkpoint): Unit = {}
  /** C5 — SCN regress: fired (driver-side) when a batch starts below the
    * last committed watermark — the relay-failover "reset decoder state"
    * signal (SCNRegressMessage.java:31; DbusEventBuffer.reset(prevScn)).
    * Also the rollback notification on replayed batches (at-least-once). */
  def onRollback(cp: Checkpoint): Unit = {}
}

/** Fan-out to N registered consumers — MultiConsumerCallback
  * (databus-client-common/.../consumer/MultiConsumerCallback.java:1): every
  * callback is delivered to each consumer in registration order; an error
  * (false) from any consumer fails the event (rollback for all — the
  * reference's all-or-nothing window semantics). */
case class MultiConsumer(consumers: Seq[DatabusConsumer]) extends DatabusConsumer {
  override def onStartWindow(scn: Long): Unit = consumers.foreach(_.onStartWindow(scn))
  override def onEvent(e: EnvelopeRow): Boolean = consumers.forall(_.onEvent(e))
  override def onEndWindow(scn: Long): Unit = consumers.foreach(_.onEndWindow(scn))
  override def onCheckpoint(cp: Checkpoint): Unit = consumers.foreach(_.onCheckpoint(cp))
  override def onRollback(cp: Checkpoint): Unit = consumers.foreach(_.onRollback(cp))
}

/** Ordered, windowed delivery of a relay stream into consumer callbacks —
  * the client dispatcher (K3) re-expressed as `foreachBatch`. Each
  * micro-batch is read once, as the reference dispatcher makes one pass
  * per window of events (GenericDispatcher.java:420-459):
  *
  *  - stage: one job decodes and filters the batch, repartitions it by
  *    physical partition, sorts within partition by (scn, seq) — the
  *    reference's per-timeline total order — and keeps the rows as
  *    `localCheckpoint` blocks; the same job fires an `observe()` of the
  *    batch's min/max scn;
  *  - regress check: a batch minimum below the committed watermark fires
  *    `onRollback` before any event is delivered (C5);
  *  - deliver: iterate the staged rows per partition, emitting start/end
  *    window callbacks at scn boundaries (EOW markers are implicit: scn
  *    change = window done, valid because batches hold whole windows);
  *    the staged blocks are freed afterwards, also when a consumer
  *    rejects an event;
  *  - checkpoint on batch commit with the batch maximum; task failure →
  *    micro-batch replay ⇒ at-least-once with rollback, same contract as
  *    the reference (consumer must be idempotent, as there).
  *
  * Trade-off: the staged blocks live on executors only, so a lost
  * executor fails the batch instead of recomputing a partition; the batch
  * then replays from the last committed checkpoint, so delivery stays
  * at-least-once (the discipline of every other `localCheckpoint(true)`
  * `foreachBatch` body in the engine).
  */
object Dispatcher {

  def start(stream: DataFrame, consumer: DatabusConsumer,
      checkpointDir: String, availableNow: Boolean = true): StreamingQuery = {
    // driver-side high-watermark for SCN-regress detection (C5)
    val watermark = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        val obs = Observation(s"dispatch_bounds_$batchId")
        val staged = batch
          .observe(obs, min("scn"), max("scn"))
          .repartition(col("partition_id"))
          .sortWithinPartitions(col("partition_id"), col("scn"), col("seq"))
          .localCheckpoint(true) // the one source read; fires `obs` too
        val bounds = try {
          // (min scn, max scn); should the observation not arrive, one
          // aggregate over the staged rows, never a second source read
          val b = PlanCache.observed(obs)
            .getOrElse(staged.agg(min("scn"), max("scn")).head())
          if (!b.isNullAt(0) && b.getLong(0) < watermark.get())
            consumer.onRollback(Checkpoint.online(b.getLong(0)))
          staged.as[EnvelopeRow].foreachPartition { (rows: Iterator[EnvelopeRow]) =>
            var openScn = Long.MinValue
            var openPartition = Int.MinValue
            rows.foreach { e =>
              if (e.partition_id != openPartition || e.scn != openScn) {
                if (openScn != Long.MinValue) consumer.onEndWindow(openScn)
                consumer.onStartWindow(e.scn)
                openScn = e.scn
                openPartition = e.partition_id
              }
              if (!consumer.onEvent(e))
                throw new IllegalStateException(
                  s"consumer rejected event seq=${e.seq} (rollback)")
            }
            if (openScn != Long.MinValue) consumer.onEndWindow(openScn)
          }
          b
        } finally PlanCache.freeLocalCheckpoint(staged)
        // driver-side checkpoint callback with the batch high-watermark;
        // windowOffset = -1 marks the watermark window fully consumed
        // (the reference's FULLY_CONSUMED_WINDOW_OFFSET, Checkpoint.java:
        // 167) — 0 would replay the whole window on resume
        if (!bounds.isNullAt(1)) {
          watermark.getAndUpdate(w => math.max(w, bounds.getLong(1)))
          consumer.onCheckpoint(Checkpoint.online(bounds.getLong(1),
            windowOffset = -1L, prevScn = -1L))
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** File-logging consumer sink (K5): persist every delivered event. */
  def fileLog(stream: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
