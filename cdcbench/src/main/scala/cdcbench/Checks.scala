package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.model.Checkpoint
import graft.streaming.{DatabusConsumer, EnvelopeRow}

/** Wall clock in microseconds with `nanoTime` resolution. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A fixed-size bit set safe for concurrent writers. */
final class AtomicBits(val size: Long) {
  private val words = new AtomicLongArray(((size + 63) / 64).toInt)
  /** Sets bit `i`; false if it was already set. */
  def set(i: Long): Boolean = {
    val w = (i >>> 6).toInt
    val m = 1L << (i & 63)
    var prev = words.get(w)
    while ((prev & m) == 0) {
      if (words.compareAndSet(w, prev, prev | m)) return true
      prev = words.get(w)
    }
    false
  }
  def get(i: Long): Boolean = i >= 0 && i < size &&
    (words.get((i >>> 6).toInt) & (1L << (i & 63))) != 0
  /** Bits set here and not in `other`. */
  def countMissingFrom(other: AtomicBits): Long =
    (0 until words.length).map(w =>
      java.lang.Long.bitCount(words.get(w) & ~other.words.get(w)).toLong).sum
}

/** What one consumer saw, checked as it arrives:
  *  - (scn, seq) strictly increases within each physical partition;
  *  - every window (partition, scn) is opened once, and all its events
  *    arrive between its start and end callbacks;
  *  - every delivered event is expected (bit `seq` of `expected`); at
  *    the end every expected event must have been delivered at least once.
  * Latency of each callback is measured from `dueUs`, when the events
  * became due. */
final class DeliveryLog(capacity: Long, partitions: Int) {
  val expected = new AtomicBits(capacity)
  val delivered = new AtomicBits(capacity)
  @volatile var dueUs: Long = Clock.nowUs
  val callbacks = new AtomicLong
  val duplicates = new AtomicLong
  val callbackNs = new AtomicLong
  private val lastScn = new AtomicLongArray(partitions)
  private val lastSeq = new AtomicLongArray(partitions)
  (0 until partitions).foreach { p => lastScn.set(p, Long.MinValue); lastSeq.set(p, Long.MinValue) }
  private val windows = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()
  private val violations = new AtomicLong
  private val firstViolation = new AtomicReference[String]
  /** Milliseconds of each checkpoint store, one per committed batch. */
  val storeMs = new ConcurrentLinkedQueue[Double]
  private val latencies = new ConcurrentLinkedQueue[LongBuf]
  private val myLatencies = ThreadLocal.withInitial[LongBuf](() => {
    val b = new LongBuf(1 << 14); latencies.add(b); b
  })
  // per-thread open window: (active, scn, partition)
  private val open = ThreadLocal.withInitial[Array[Long]](() => Array(0L, 0L, -1L))

  def violation(msg: String): Unit = {
    violations.incrementAndGet()
    firstViolation.compareAndSet(null, msg)
  }

  def startWindow(scn: Long): Unit = {
    val w = open.get
    if (w(0) != 0) violation(s"window ${w(1)} never ended before window $scn started")
    w(0) = 1; w(1) = scn; w(2) = -1
  }

  def event(e: EnvelopeRow): Unit = {
    val now = Clock.nowUs
    callbacks.incrementAndGet()
    val w = open.get
    val p = e.partition_id
    if (w(0) == 0 || w(1) != e.scn) violation(s"event seq=${e.seq} outside its window ${e.scn}")
    else if (w(2) < 0) {
      w(2) = p
      if (!windows.add((p, e.scn)))
        violation(s"window (partition $p, scn ${e.scn}) split across callbacks")
    } else if (w(2) != p) violation(s"window ${e.scn} mixes partitions ${w(2)} and $p")
    if (p < 0 || p >= lastScn.length()) violation(s"unknown partition $p")
    else {
      val (ls, lq) = (lastScn.get(p), lastSeq.get(p))
      if (e.scn < ls || (e.scn == ls && e.seq <= lq))
        violation(s"partition $p: (${e.scn}, ${e.seq}) delivered after ($ls, $lq)")
      lastScn.set(p, e.scn); lastSeq.set(p, e.seq)
    }
    if (!expected.get(e.seq)) violation(s"unexpected event seq=${e.seq}")
    else if (!delivered.set(e.seq)) duplicates.incrementAndGet()
    myLatencies.get += now - dueUs
  }

  def endWindow(scn: Long): Unit = {
    val w = open.get
    if (w(0) == 0 || w(1) != scn) violation(s"end of window $scn without its start")
    w(0) = 0
  }

  /** Expected events not delivered (so far). */
  def missing: Long = expected.countMissingFrom(delivered)
  def violationCount: Long = violations.get
  def firstProblem: Option[String] = Option(firstViolation.get)
  /** Callback latencies in microseconds, one per delivered event. */
  def latencyUs: Array[Long] = latencies.asScala.toArray.flatMap(_.toArray)
}

/** The current [[DeliveryLog]] (callbacks run inside Spark tasks of this
  * JVM, so the consumer reaches its log through this static slot). */
object Delivery {
  @volatile var current: DeliveryLog = _
}

/** The benchmark's consumer: checks and times every callback. With
  * `store` set, each committed batch's checkpoint is persisted through
  * the engine's checkpoint store (timed as the `model` layer). */
final class CheckingConsumer(store: Option[String] = None)
    extends DatabusConsumer {
  override def onStartWindow(scn: Long): Unit = Delivery.current.startWindow(scn)
  override def onEvent(e: EnvelopeRow): Boolean = {
    val log = Delivery.current
    if (Trace.enabled) {
      val t0 = System.nanoTime()
      log.event(e)
      log.callbackNs.addAndGet(System.nanoTime() - t0)
    } else log.event(e)
    true
  }
  override def onEndWindow(scn: Long): Unit = Delivery.current.endWindow(scn)
  override def onRollback(cp: Checkpoint): Unit =
    Delivery.current.violation(s"unexpected rollback to ${cp.windowScn}")
  override def onCheckpoint(cp: Checkpoint): Unit = store.foreach { root =>
    val t0 = System.nanoTime()
    Trace.span("model", "FileSystemCheckpointStore.store") {
      new graft.model.FileSystemCheckpointStore(root).store("cdcbench",
        graft.model.CheckpointMult(Map(0.toShort -> cp)))
    }
    Delivery.current.storeMs.add((System.nanoTime() - t0) / 1e6)
  }
}

/** Last-writer-wins reference state and the checksum both sides use. */
object Lww {
  /** key → winning (seq, value) after folding `events` in generation
    * order ((scn, seq) order); a DELETE removes the key. */
  def fold(events: Iterator[GenEvent],
      state: scala.collection.mutable.LongMap[(Long, Double)]): Unit =
    events.foreach { e =>
      if (e.opcode == "DELETE") state.remove(e.key_long)
      else state.update(e.key_long, (e.seq, e.value))
    }

  /** Order-independent checksum of (key, seq, value) rows. */
  def checksum(rows: Iterator[(Long, Long, Double)]): Long =
    rows.foldLeft(0L) { case (acc, (k, s, v)) =>
      acc + Mix.mix64(k * 31 + Mix.mix64(s ^ java.lang.Double.doubleToLongBits(v)))
    }

  def checksumOf(state: scala.collection.mutable.LongMap[(Long, Double)]): Long =
    checksum(state.iterator.map { case (k, (s, v)) => (k, s, v) })
}

/** Checks on served nearest-neighbour results. */
object AnnChecks {
  /** Queries whose rank-1 neighbour is not their planted twin. */
  def wrongTop1(rows: Seq[(Long, Long, Int)], twinOf: Map[Long, Long]): Seq[Long] =
    twinOf.keys.toSeq.filterNot { q =>
      rows.exists { case (qq, n, r) => qq == q && r == 1 && n == twinOf(q) }
    }

  /** Queries whose result is not `k` distinct neighbours ranked 1..k. */
  def malformed(rows: Seq[(Long, Long, Int)], queries: Seq[Long], k: Int): Seq[Long] = {
    val byQuery = rows.groupBy(_._1)
    queries.distinct.filterNot { q =>
      val rs = byQuery.getOrElse(q, Nil)
      rs.map(_._3).sorted == (1 to k) && rs.map(_._2).distinct.size == k
    }
  }

  /** Mean share of the exact top-k found by the approximate top-k. */
  def recall(approx: Seq[(Long, Long)], exact: Seq[(Long, Long)]): Double = {
    val a = approx.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val byQuery = exact.groupBy(_._1)
    byQuery.map { case (q, ns) =>
      val truth = ns.map(_._2).toSet
      truth.count(a.getOrElse(q, Set.empty[Long])).toDouble / truth.size
    }.sum / math.max(byQuery.size, 1)
  }
}
