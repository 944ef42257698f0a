package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ann, PlanCache, VersionedStore}

/** The driver-side quantizer memos (codebook trainings, PQ books,
  * centroid collects) key on [[PlanCache.contentKey]] — the plan PLUS
  * each file root's (path, mtime, length) listing — so a table rewritten IN
  * PLACE at the same path within one JVM loads fresh instead of
  * serving the stale quantizer. Generation-addressed stores never hit
  * this (immutable dirs, new publish = new path), but readPqBooksAt
  * explicitly accepts flat dirs and a flat store CAN be rebuilt at the
  * same path in-session; the r16 review flagged the plan-keyed memo as
  * silently stale there. */
class MemoFreshnessSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def vec(i: Long): Array[Float] =
    Array.tabulate(8)(d => ((i * 13 + d * d) % 97 + 1).toFloat)

  test("a books table rewritten in place serves the fresh quantizer") {
    val dir = s"${tmp("memo")}/pq"
    val base = (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
    Ann.writePqIndex(base, dir, m = 2, ksub = 2, iters = 2)
    val before = Ann.readPqBooks(spark, dir)
    // memo warm: a second read returns the same loaded books
    assert(Ann.readPqBooks(spark, dir).map(_.toSeq).toSeq ==
      before.map(_.toSeq).toSeq)
    // REWRITE the books table in place at the same path (the flat-dir
    // rebuild hazard): same schema, every float shifted by +1
    val t = VersionedStore.tableRoot(dir)
    val shifted = spark.read.parquet(s"$t/books")
      .select(col("subspace"), col("id"),
        transform(col("vec"), v => v + 1.0f).as("vec"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
      .toSeq.toDF("subspace", "id", "vec")
    shifted.coalesce(1).write.mode("overwrite").parquet(s"$t/books")
    val after = Ann.readPqBooks(spark, dir)
    // the fresh load sees the rewritten floats — NOT the memo entry
    assert(after.flatten.flatMap(_._2).toSeq ==
      before.flatten.flatMap(_._2).map(_ + 1.0f).toSeq,
      "readPqBooks served a stale memoized quantizer after an" +
        " in-place books rewrite")
  }

  test("an in-place corpus rewrite retrains the codebook memo") {
    val root = tmp("memo")
    val corpusPath = s"$root/corpus"
    (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
      .coalesce(1).write.parquet(corpusPath)
    val (book1, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    // rewrite the corpus at the same path with shifted vectors
    val rewritten = (0L until 12L).map(i => (i, vec(i).map(_ + 50.0f)))
    java.nio.file.Files.walk(java.nio.file.Paths.get(corpusPath))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p))
    rewritten.toDF("id", "vec").coalesce(1).write.parquet(corpusPath)
    val (book2, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    // identical plan, different bytes on disk: the memo must retrain —
    // every centroid coordinate moves by ~+50 (ulp-tolerant: means are
    // double divisions, so exact +50 is not guaranteed)
    val b1 = book1.flatMap(_._2)
    val b2 = book2.flatMap(_._2)
    assert(b1.length == b2.length &&
      b1.zip(b2).forall { case (x, y) => math.abs(y - x - 50.0f) < 1e-3 },
      "trainCentroids served a stale memoized codebook after an" +
        " in-place corpus rewrite")
  }

  test("a corpus part file rewritten outside Spark retrains over the fresh rows") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val root = tmp("memo")
    val corpusPath = s"$root/corpus"
    (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
      .coalesce(1).write.parquet(corpusPath)
    val (book1, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    // the shifted corpus is written elsewhere, then copied over the
    // corpus part file with java.nio: no DataFrameWriter touches the
    // corpus path, so nothing refreshes Spark's cached rows of it
    val staging = s"$root/staging"
    (0L until 12L).map(i => (i, vec(i).map(_ + 50.0f))).toDF("id", "vec")
      .coalesce(1).write.parquet(staging)
    def part(dir: String): Path = new java.io.File(dir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.toPath
    val target = part(corpusPath)
    Files.copy(part(staging), target, StandardCopyOption.REPLACE_EXISTING)
    // the local filesystem verifies a .crc sidecar on read: drop the old one
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    val (book2, _) =
      Ann.trainCentroids(spark.read.parquet(corpusPath), 2, 2)
    val b1 = book1.flatMap(_._2)
    val b2 = book2.flatMap(_._2)
    assert(b1.length == b2.length &&
      b1.zip(b2).forall { case (x, y) => math.abs(y - x - 50.0f) < 1e-3 },
      "trainCentroids trained over stale cached rows after a non-Spark" +
        " rewrite of the corpus part file")
  }

  test("a same-name, same-mtime rewrite with a different length changes the salt") {
    import graft.pipeline.StoreFs
    val dir = s"${tmp("memo")}/t"
    Seq(1L).toDF("id").coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val before = PlanCache.fileSalt(df)
    val (path, _, mtime, len) = StoreFs.listFileStatusesRecursive(dir)
      .find(_._2.endsWith(".parquet")).get
    // a non-Spark rewrite of the SAME file name whose mtime lands on the
    // old value (coarse-granularity filesystems, copy tools preserving
    // times): only the length tells the two contents apart
    val local = java.nio.file.Paths.get(new java.net.URI(path))
    java.nio.file.Files.write(local, Array.fill[Byte](len.toInt + 7)(1))
    StoreFs.setModificationTime(path, mtime)
    assert(StoreFs.listFileStatusesRecursive(dir)
      .exists(f => f._1 == path && f._3 == mtime && f._4 == len + 7))
    assert(PlanCache.fileSalt(df) != before,
      "the content salt must change when a file's length does")
  }

  test("PlanCache.clear clears the quantizer memos too") {
    val dir = s"${tmp("memo")}/pqclear"
    val base = (0L until 12L).map(i => (i, vec(i))).toDF("id", "vec")
    Ann.writePqIndex(base, dir, m = 2, ksub = 2, iters = 2)
    Ann.readPqBooks(spark, dir) // warm the memo
    PlanCache.clear()           // must reach Ann's memos via the hook
    // stale-at-same-mtime simulation: rewrite books preserving the
    // previous file listing is impossible to fake portably, so assert
    // the hook path directly — clear() empties the memo and the next
    // read reloads from disk (observable: a books dir deleted after
    // clear() fails the read instead of serving the memo)
    graft.pipeline.StoreFs.deleteRecursive(
      s"${VersionedStore.tableRoot(dir)}/books")
    intercept[Exception] { Ann.readPqBooks(spark, dir) }
  }
}
