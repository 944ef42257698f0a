package cdcbench

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EnvelopeRow

class ChecksSpec extends AnyFunSuite {

  test("percentile helper: nearest rank, and the highest percentile with 10 samples beyond") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Array(4.0), 99) == 4.0)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.highestSupported(100).contains(90.0))
    assert(Stats.highestSupported(99).contains(75.0))
    assert(Stats.highestSupported(1000).contains(99.0))
    assert(Stats.highestSupported(20).contains(50.0))
    assert(Stats.highestSupported(19).isEmpty)
  }

  private def ev(scn: Long, seq: Long, partition: Int) =
    EnvelopeRow(scn, seq, Some(0L), 1, partition, Some("UPSERT"), Some(seq), Some(1.0), None)

  /** Delivers `windows` (each a list of events of one partition and scn)
    * to a fresh log expecting seqs 0 until `expected`. */
  private def deliver(expected: Int, windows: Seq[Seq[EnvelopeRow]]): DeliveryLog = {
    val log = new DeliveryLog(expected, 4)
    (0 until expected).foreach(i => log.expected.set(i.toLong))
    Delivery.current = log
    val c = new CheckingConsumer()
    windows.foreach { w =>
      c.onStartWindow(w.head.scn)
      w.foreach(c.onEvent)
      c.onEndWindow(w.head.scn)
    }
    log
  }

  private val good = Seq(
    Seq(ev(10, 0, 0), ev(10, 1, 0)), Seq(ev(10, 2, 1)), Seq(ev(11, 3, 0)))

  test("a correct delivery passes") {
    val log = deliver(4, good)
    assert(log.violationCount == 0 && log.missing == 0 && log.callbacks.get == 4)
    assert(log.latencyUs.length == 4)
  }

  test("a reordered event is rejected") {
    val log = deliver(4, Seq(Seq(ev(10, 1, 0), ev(10, 0, 0)), Seq(ev(10, 2, 1)), Seq(ev(11, 3, 0))))
    assert(log.violationCount > 0)
    assert(log.firstProblem.exists(_.contains("delivered after")))
  }

  test("a window split across callbacks is rejected") {
    val log = deliver(4, Seq(Seq(ev(10, 0, 0)), Seq(ev(10, 1, 0)), Seq(ev(10, 2, 1)), Seq(ev(11, 3, 0))))
    assert(log.firstProblem.exists(_.contains("split across callbacks")))
  }

  test("a dropped event is counted missing; a re-delivered one is rejected") {
    val dropped = deliver(4, good.take(2))
    assert(dropped.violationCount == 0 && dropped.missing == 1)
    val replayed = deliver(4, good :+ Seq(ev(11, 3, 0)))
    assert(replayed.missing == 0 && replayed.duplicates.get == 1)
    assert(replayed.violationCount >= 2) // a reopened window and an order regression
  }

  test("an event outside its window or not expected is rejected") {
    val log = deliver(2, Seq(Seq(ev(10, 0, 0)), Seq(ev(11, 5, 1))))
    assert(log.firstProblem.exists(_.contains("unexpected event seq=5")))
    val outside = new DeliveryLog(1, 4)
    outside.expected.set(0)
    Delivery.current = outside
    new CheckingConsumer().onEvent(ev(10, 0, 0))
    assert(outside.firstProblem.exists(_.contains("outside its window")))
  }

  test("the last-writer-wins reference catches a dropped key and a stale value") {
    val spec = EnvelopeSpec(seed = 5, events = 3000, keys = 300, zipfS = 1.0,
      sources = 2, partitions = 4, windowSize = 10, deleteShare = 0.1)
    val ref = mutable.LongMap.empty[(Long, Double)]
    Lww.fold(EnvelopeGen.iterator(spec), ref)
    val rows = ref.iterator.map { case (k, (s, v)) => (k, s, v) }.toSeq
    assert(Lww.checksum(rows.iterator) == Lww.checksumOf(ref))
    assert(Lww.checksum(rows.reverseIterator) == Lww.checksumOf(ref))
    assert(Lww.checksum(rows.tail.iterator) != Lww.checksumOf(ref))
    val (k, s, v) = rows.head
    assert(Lww.checksum(((k, s - 1, v) +: rows.tail).iterator) != Lww.checksumOf(ref))
    // deletes really remove keys: some keys are gone though they occurred
    assert(ref.size < EnvelopeGen.iterator(spec).map(_.key_long).toSet.size)
  }

  test("a wrong top-1 or a malformed top-k is rejected; recall counts the exact neighbours found") {
    val twins = Map(1L -> 101L, 2L -> 102L)
    val right = Seq((1L, 101L, 1), (1L, 7L, 2), (2L, 102L, 1))
    assert(AnnChecks.wrongTop1(right, twins).isEmpty)
    val wrong = Seq((1L, 7L, 1), (1L, 101L, 2), (2L, 102L, 1))
    assert(AnnChecks.wrongTop1(wrong, twins) == Seq(1L))
    assert(AnnChecks.wrongTop1(Seq((2L, 102L, 1)), twins) == Seq(1L))
    assert(AnnChecks.malformed(right, Seq(1L, 2L), 2) == Seq(2L))
    val full = Seq((1L, 101L, 1), (1L, 7L, 2), (2L, 102L, 1), (2L, 8L, 2))
    assert(AnnChecks.malformed(full, Seq(1L, 2L), 2).isEmpty)
    assert(AnnChecks.malformed(full.updated(3, (2L, 102L, 2)), Seq(1L, 2L), 2) == Seq(2L))
    assert(AnnChecks.malformed(full.updated(1, (1L, 7L, 1)), Seq(1L, 2L), 2) == Seq(1L))
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
    assert(AnnChecks.recall(Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L)), exact) == 0.75)
    assert(AnnChecks.recall(Nil, exact) == 0.0)
  }
}
