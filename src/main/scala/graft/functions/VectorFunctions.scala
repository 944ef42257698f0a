package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns.
  *
  * Pure higher-order-function expressions (`aggregate`/`zip_with`) — no
  * UDFs, so the dot products stay in codegen and vectorize over the parquet
  * scan. All arithmetic is promoted to double before accumulation for
  * cross-engine numeric parity.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ with left-to-right accumulation in double (HOF reference
    * form; [[dotNative]] is the codegen twin with the identical
    * accumulation order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Σ aᵢ·bᵢ — native fused codegen ([[GraftFunctions.dot_product]]);
    * FLOAT or DOUBLE arrays per side. */
  def dotNative(a: Column, b: Column): Column =
    GraftFunctions.dot_product(a, b)

  /** ‖a‖₂ */
  def norm2(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity — native codegen expression ([[CosineSimilarity]]);
    * one fused loop over the Tungsten array buffers instead of interpreted
    * HOF lambda trees. */
  def cosine(a: Column, b: Column): Column =
    GraftFunctions.cosine_sim(a, b)

  /** Cosine via higher-order functions (reference implementation; used by
    * tests to cross-check the native expression). */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm2(a) * norm2(b))

  /** Squared euclidean distance — native codegen ([[L2SqDistance]]). */
  def l2sq(a: Column, b: Column): Column =
    GraftFunctions.l2sq(a, b)

  /** Random-hyperplane signature of a vector: for each seeded pseudo-random
    * hyperplane, the sign bit of the projection — the LSH family for cosine
    * distance (SimHash over embeddings). Hyperplane components are derived
    * deterministically from (seed, plane, dim) via a splitmix64-style hash
    * so executors need no broadcast of random matrices. */
  def hyperplaneSignature(vec: Column, numPlanes: Int, seed: Long = 42L): Column = {
    val planes = (0 until numPlanes).map { p =>
      // projection = Σ_i vec[i] * h(seed, p, i), h in [-1, 1)
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) => {
          val h = pseudoUniform(lit(seed), lit(p), i)
          v.cast("double") * h
        }),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1)).otherwise(lit(0))
    }
    array(planes: _*)
  }

  /** Deterministic pseudo-uniform in [-1, 1) from integer inputs, built on
    * xxhash64 (codegen'd). */
  def pseudoUniform(seed: Column, plane: Column, i: Column): Column =
    (pmod(xxhash64(seed, plane, i), lit(1000000L)).cast("double") / 500000.0) - 1.0

  /** Pack a 0/1 signature array into a long bucket id (numPlanes ≤ 63). */
  def signatureToBucket(sig: Column): Column =
    aggregate(sig, lit(0L), (acc, bit) => acc * 2 + bit.cast("long"))

  // ---- kernel forms (hot-path; HOF expressions above are the
  //      declarative reference implementation) ----

  @inline private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic pseudo-uniform in [-1, 1) from (seed, plane, dim) for
    * the kernel bucketing path. NOTE: a different hash family than the
    * declarative [[pseudoUniform]] (splitmix finalizer vs xxhash64), so
    * HOF signatures and kernel buckets are NOT interchangeable — bucket a
    * corpus and probe it with the same form. */
  def planeComponent(seed: Long, plane: Int, i: Int): Double = {
    val h = mix64(seed ^ (plane.toLong << 32) ^ i.toLong)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }

  /** Cosine similarity, kernel twin of [[cosine]]: sequential double
    * accumulation (same order as the HOF form and the DuckDB oracle). */
  def cosineKernel(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Hyperplane-LSH bucket of one vector for one table. */
  def hyperplaneBucketKernel(vec: Array[Float], numPlanes: Int, seed: Long): Long = {
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      var proj = 0.0
      var i = 0
      while (i < vec.length) { proj += vec(i) * planeComponent(seed, p, i); i += 1 }
      bucket = (bucket << 1) | (if (proj >= 0) 1L else 0L)
      p += 1
    }
    bucket
  }

  /** Per-vector symmetric int8 quantization scale: max|v| / 127. A
    * vector quantized at this scale reconstructs within ±scale/2 per
    * element — the storage tier that shrinks an embedding corpus 4×
    * (float32 → int8 + one scale) before ANN scanning; exact re-rank
    * restores full precision for survivors. */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, v => abs(v.cast("double")))) / 127.0

  /** Elementwise quantize to [-127, 127] ints at the given scale. */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, v =>
      when(scale === 0.0, 0)
        .otherwise(round(v.cast("double") / scale).cast("int")))

  /** Dequantize back to doubles. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** (id, vec) frame → (id, vec, table, bucket) rows for `tables`
    * independent hash tables — one tight pass per row, no interpreted
    * HOF trees. Seeds are `seedBase + t*1000` per table. */
  def hyperplaneBuckets(df: org.apache.spark.sql.DataFrame, idName: String,
      vecName: String, numPlanes: Int, tables: Int, seedBase: Long = 42L)
      : org.apache.spark.sql.DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idName).cast("long"), col(vecName))
      .as[(Long, Array[Float])]
      .mapPartitions(_.flatMap { case (id, vec) =>
        (0 until tables).iterator.map { t =>
          (id, vec, t, hyperplaneBucketKernel(vec, numPlanes, seedBase + t * 1000L))
        }
      })
      .toDF(idName, vecName, "table", "bucket")
  }
}
