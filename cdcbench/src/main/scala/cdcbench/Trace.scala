package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into a layer. Times are `System.nanoTime`; the counter
  * fields are listener totals read at the span's start and end. */
case class Span(id: Int, parent: Int, layer: String, name: String,
    request: Long, startNs: Long, endNs: Long, thread: String, counts: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Listener totals: jobs started, task input records, shuffle bytes
  * written, and milliseconds from submission to end summed over the jobs
  * that ended. */
case class Counts(jobs: Long, recordsRead: Long, shuffleBytes: Long, jobMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, recordsRead - o.recordsRead,
    shuffleBytes - o.shuffleBytes, jobMs - o.jobMs)
}

/** One streaming trigger as Spark reports it (`StreamingQueryProgress`). */
case class Progress(rows: Long, durationMs: Map[String, Long],
    endNs: Long)

/** Spark's own counters, read through a `SparkListener`. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val recordsRead = new AtomicLong
  val shuffleBytes = new AtomicLong
  val jobMs = new AtomicLong
  private val submitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    submitted.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(submitted.remove(e.jobId)).foreach(t0 => jobMs.addAndGet(e.time - t0))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snapshot: Counts = Counts(jobs.get, recordsRead.get, shuffleBytes.get, jobMs.get)
}

/** Traced mode: in-memory spans around every call into an engine layer,
  * listener counters at the same boundaries, streaming progress, and the
  * old-generation heap after each GC. When tracing is off every hook is a
  * plain call. Spans are written out once, when the run ends. */
object Trace {
  @volatile private var on = false
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]
  private val progress = new ConcurrentLinkedQueue[Progress]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val oldGenPeak = new AtomicLong
  @volatile private var counters: Counters = _
  @volatile private var sc: SparkContext = _

  def enabled: Boolean = on

  def start(spark: SparkSession): Unit = {
    on = true
    sc = spark.sparkContext
    counters = new Counters
    sc.addSparkListener(counters)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          System.nanoTime()))
      }
    })
    watchOldGen()
  }

  /** Time `body` as a span of `layer`; nested spans record their parent. */
  def span[T](layer: String, name: String, request: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val c0 = counters.snapshot
      val t0 = System.nanoTime()
      stack.set(id :: parents)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0), layer, name,
          request, t0, t1, Thread.currentThread.getName, counters.snapshot - c0))
      }
    }

  /** Listener totals once all events posted so far have been delivered.
    * Zero when tracing is off. */
  def counts(): Counts =
    if (!on) Counts(0L, 0L, 0L, 0L)
    else { org.apache.spark.BenchBridge.drainListeners(sc); counters.snapshot }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def spansOf(layer: String, name: String): Seq[Span] =
    allSpans.filter(s => s.layer == layer && s.name == name)
  def progressSince(ns: Long): Seq[Progress] = {
    if (on) org.apache.spark.BenchBridge.drainListeners(sc)
    progress.asScala.toSeq.filter(_.endNs >= ns)
  }
  def oldGenPeakMb: Double = oldGenPeak.get / 1048576.0

  /** Self time per layer: each span's duration minus the time its child
    * spans (same thread, properly nested) cover. */
  def selfMs: Map[String, Double] = {
    val all = allSpans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = allSpans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","request":${s.request},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"thread":"${s.thread.replace("\"", "'")}",""" +
        s""""jobs":${s.counts.jobs},"job_ms":${s.counts.jobMs},""" +
        s""""records_read":${s.counts.recordsRead},"shuffle_bytes":${s.counts.shuffleBytes}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  private def watchOldGen(): Unit = {
    import java.lang.management.ManagementFactory
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured"))
            oldGenPeak.accumulateAndGet(u.getUsed, math.max(_, _))
        }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
