package cdcbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private val spec = EnvelopeSpec(seed = 7, events = 5000, keys = 1000, zipfS = 1.0,
    sources = 5, partitions = 8, windowSize = 25, deleteShare = 0.1)

  /** SHA-256 over every generated field, Avro payload bytes included. */
  private def digest(s: EnvelopeSpec, slices: Int): String = {
    val rows = EnvelopeGen.withPayload(EnvelopeGen.frame(spark, s, slices))
      .orderBy("seq").collect()
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.toSeq.init.mkString("|").getBytes("UTF-8"))
      md.update(r.getAs[Array[Byte]]("payload"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives byte-identical envelope inputs, however they are split") {
    assert(digest(spec, 1) == digest(spec, 4))
    assert(digest(spec, 3) == digest(spec, 3))
    assert(digest(spec, 2) != digest(spec.copy(seed = 8), 2))
  }

  test("the in-process generator matches the distributed one") {
    import spark.implicits._
    val distributed = EnvelopeGen.frame(spark, spec, 3).as[GenEvent].collect().sortBy(_.seq).toSeq
    assert(distributed == EnvelopeGen.iterator(spec).toSeq)
  }

  test("envelope knobs hold: whole windows, key range, delete share, one partition per key") {
    val es = EnvelopeGen.iterator(spec).toSeq
    assert(es.groupBy(_.scn).values.forall(_.size == spec.windowSize))
    assert(es.forall(e => e.key_long >= 0 && e.key_long < spec.keys))
    assert(es.forall(e => e.source_id >= 1 && e.source_id <= spec.sources))
    assert(es.groupBy(_.key_long).values.forall(_.map(_.partition_id).distinct.size == 1))
    val deletes = es.count(_.opcode == "DELETE").toDouble / es.size
    assert(deletes > 0.07 && deletes < 0.13, s"delete share $deletes")
    // Zipf: the hottest key is far above the mean
    val top = es.groupBy(_.key_long).values.map(_.size).max
    assert(top > 20 * es.size / spec.keys)
  }

  test("embeddings are seed-deterministic and twins copy their sources exactly") {
    val s = EmbeddingSpec(seed = 3, vectors = 200, dim = 16, clusters = 4, groups = 4, twins = 8)
    val a = EmbeddingGen.rows(s).toSeq
    val b = EmbeddingGen.rows(s).toSeq
    assert(a.map(r => (r._1, r._2.toSeq)) == b.map(r => (r._1, r._2.toSeq)))
    val byId = a.toMap
    (0 until s.twins).foreach { j =>
      assert(byId(s.twinId(j)).toSeq == byId(s.twinSource(j)).toSeq)
    }
    val other = EmbeddingGen.rows(s.copy(seed = 4)).toSeq
    assert(other.head._2.toSeq != a.head._2.toSeq)
    import spark.implicits._
    val framed = EmbeddingGen.frame(spark, s, 3).as[(Long, Array[Float])].collect()
      .map(r => (r._1, r._2.toSeq)).sortBy(_._1).toSeq
    assert(framed == a.map(r => (r._1, r._2.toSeq)).sortBy(_._1))
  }
}
