package cdcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, struct}

/** Stateless seeded randomness: every generated value is a pure function
  * of (seed, stream, index), so the same seed gives the same inputs no
  * matter how the index range is split across tasks. */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, i: Long): Long =
    mix64(mix64(seed * 0x632BE59BD9B4E019L + stream) + i)
  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  /** Standard normal (Box-Muller on two independent draws). */
  def gaussian(seed: Long, stream: Long, i: Long): Double = {
    val u1 = math.max(unit(hash(seed, stream, 2 * i)), 1e-300)
    val u2 = unit(hash(seed, stream, 2 * i + 1))
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** Zipf(s) over ranks 1..n by inverse CDF; one table per (n, s) per JVM. */
object Zipf {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]

  def cdf(n: Int, s: Double): Array[Double] =
    tables.computeIfAbsent((n, s), _ => {
      val c = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += math.pow(k + 1, -s); c(k) = acc; k += 1 }
      k = 0
      while (k < n) { c(k) /= acc; k += 1 }
      c
    })

  /** Rank in [0, n) for a uniform draw `u`. */
  def rank(table: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(table, u)
    math.min(if (i >= 0) i else -i - 1, table.length - 1)
  }
}

/** One generated change event, in the engine's envelope shape. */
case class GenEvent(scn: Long, seq: Long, ts_us: Long, source_id: Int,
    partition_id: Int, opcode: String, key_long: Long, value: Double,
    props: String)

/** Knobs of the envelope generator. Event `i` belongs to transaction
  * window `i / windowSize` (scn = 1000 + window) and has seq `i`. Keys follow Zipf(`zipfS`) over `keys` distinct keys,
  * scattered so hot keys spread over filter buckets. The physical
  * partition is a hash of the key, so one key always lives in one
  * partition. */
case class EnvelopeSpec(seed: Long, events: Long, keys: Int, zipfS: Double,
    sources: Int, partitions: Int, windowSize: Int, deleteShare: Double) {
  require(events > 0 && keys > 0 && sources > 0 && partitions > 0 &&
    windowSize > 0 && deleteShare >= 0 && deleteShare < 1, s"bad spec $this")
}

object EnvelopeGen {
  private val Stream = 0x45564E54L // "EVNT"
  private val FirstScn = 1000L
  private val TsBaseUs = 1700000000000000L
  private val TsStepUs = 1000L

  def event(s: EnvelopeSpec, i: Long): GenEvent = event(s, i,
    Zipf.cdf(s.keys, s.zipfS))

  def event(s: EnvelopeSpec, i: Long, zipf: Array[Double]): GenEvent = {
    val h = Mix.hash(s.seed, Stream, i)
    val h2 = Mix.mix64(h)
    val h3 = Mix.mix64(h2)
    val rank = Zipf.rank(zipf, Mix.unit(h)).toLong
    // multiplying by a prime coprime to `keys` is a bijection on [0, keys)
    val key = (rank * 1000003L) % s.keys
    val window = i / s.windowSize
    val delete = Mix.unit(h2) < s.deleteShare
    val source = 1 + ((h3 >>> 1) % s.sources).toInt
    GenEvent(
      scn = FirstScn + window,
      seq = i,
      ts_us = TsBaseUs + window * TsStepUs,
      source_id = source,
      partition_id = ((Mix.mix64(key) >>> 1) % s.partitions).toInt,
      opcode = if (delete) "DELETE" else "UPSERT",
      key_long = key,
      value = (h3 >>> 40).toDouble / 100.0,
      props = if (delete) null
        else "src=" + source + ";v=" + java.lang.Long.toHexString(h2 >>> (h3 & 31)))
  }

  def iterator(s: EnvelopeSpec, from: Long = 0L, until: Long = -1L): Iterator[GenEvent] = {
    val zipf = Zipf.cdf(s.keys, s.zipfS)
    val end = if (until < 0) s.events else until
    Iterator.range(0L, end - from).map(j => event(s, from + j, zipf))
  }

  /** Events `[from, until)` as a DataFrame, generated in parallel. */
  def frame(spark: SparkSession, s: EnvelopeSpec, slices: Int = 4,
      from: Long = 0L, until: Long = -1L): DataFrame = {
    import spark.implicits._
    spark.range(from, if (until < 0) s.events else until, 1L, slices).as[Long]
      .mapPartitions { ids =>
        val zipf = Zipf.cdf(s.keys, s.zipfS)
        ids.map(i => event(s, i, zipf))
      }.toDF()
  }

  /** The events with their Avro payload (the engine's own encoder over
    * the registry's `events` v1 schema) — the input of the wire log. */
  def withPayload(df: DataFrame): DataFrame = {
    val schema = graft.model.VersionedSchemaSet.eventPayloadV1
    val enc = graft.functions.AvroCodec.encodeEventPayload(schema.schemaJson)
    df.withColumn("payload", enc(struct(col("seq").as("event_id"),
      col("key_long").as("user_id"),
      concat(lit("source_"), col("source_id").cast("string")).as("event_type"),
      col("value"), col("props"))))
  }
}

/** Knobs of the embedding generator: `vectors` points in `clusters`
  * Gaussian clusters, each split into `groups` tight groups (so every
  * point has a meaningful set of nearest neighbours), plus `twins`
  * planted exact copies. Twin `j` copies vector `twinSource(j)` under id
  * `vectors + j`, so searching with the source vector must rank its twin
  * first. */
case class EmbeddingSpec(seed: Long, vectors: Int, dim: Int, clusters: Int,
    groups: Int, twins: Int) {
  require(vectors > 0 && dim > 0 && clusters > 0 && groups > 0 && twins >= 0 &&
    twins <= vectors, s"bad spec $this")
  def twinSource(j: Int): Long = (j.toLong * vectors) / math.max(twins, 1)
  def twinId(j: Int): Long = vectors.toLong + j
  /** First id of append batch `b` (ids above every base and twin id). */
  def appendBase(b: Int, batchSize: Int): Long =
    vectors.toLong + twins + b.toLong * batchSize
}

object EmbeddingGen {
  private val Centre = 0x43454E54L
  private val Group = 0x47525550L
  private val Point = 0x504F4E54L
  private val Pick = 0x5049434BL
  /** Spread of a group around its cluster centre, and of a point around
    * its group, relative to the unit spread of the centres. */
  private val GroupSpread = 0.5
  private val Noise = 0.1

  /** Vector for point number `i` (any non-negative id). */
  def vector(s: EmbeddingSpec, i: Long): Array[Float] = {
    val g = (Mix.hash(s.seed, Pick, i) >>> 1) % (s.clusters.toLong * s.groups)
    val c = g / s.groups
    Array.tabulate(s.dim) { d =>
      (Mix.gaussian(s.seed, Centre, c * s.dim + d) +
        GroupSpread * Mix.gaussian(s.seed, Group, g * s.dim + d) +
        Noise * Mix.gaussian(s.seed, Point, i * s.dim + d)).toFloat
    }
  }

  /** (id, vec) rows of the base corpus followed by the planted twins. */
  def rows(s: EmbeddingSpec): Iterator[(Long, Array[Float])] =
    Iterator.range(0, s.vectors).map(i => (i.toLong, vector(s, i))) ++
      Iterator.range(0, s.twins).map(j => (s.twinId(j), vector(s, s.twinSource(j))))

  /** Append batch `b`: fresh points with ids from [[EmbeddingSpec.appendBase]]. */
  def appendRows(s: EmbeddingSpec, b: Int, size: Int): Seq[(Long, Array[Float])] =
    (0 until size).map { j =>
      val id = s.appendBase(b, size) + j
      (id, vector(s, id))
    }

  def frame(spark: SparkSession, s: EmbeddingSpec, slices: Int = 4): DataFrame = {
    import spark.implicits._
    val total = s.vectors.toLong + s.twins
    spark.range(0L, total, 1L, slices).as[Long].map { id =>
      if (id < s.vectors) (id, vector(s, id))
      else (id, vector(s, s.twinSource((id - s.vectors).toInt)))
    }.toDF("id", "vec")
  }
}
