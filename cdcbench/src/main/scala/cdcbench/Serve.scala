package cdcbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Ann

/** Closed loop, one client, against an IVF-PQ index (`Ann.writeIvfPqIndex`)
  * while new vectors land in it. Each request is `Ann.ivfPqTopKFromStore`
  * with the engine's defaults (two probed cells, a re-rank cut of 50) over
  * [[QueriesPerRequest]] query vectors with k = [[K]], collected by the
  * client; every [[AppendEvery]]th request is preceded by
  * `Ann.appendToIvfPqIndex` of [[AppendSize]] new vectors. Queries are
  * vectors with planted twins, so each one's rank-1 neighbour is known.
  * This is the only workload that plans and serves pipeline queries and
  * appends to a versioned store. */
object Serve extends Workload {
  val K = 10
  val QueriesPerRequest = 8
  val AppendEvery = 4
  val WarmRequests = 6
  val AppendSize = 500
  val Cells = 16
  val SubVectors = 8
  val CodesPerBook = 16
  val TrainIters = 2
  /** Probed cells of the untimed twin check. With one cell probed a
    * query's exact twin shares its cell and its PQ code, so it always
    * survives the ADC re-rank cut and must rank first. With the default
    * two, another cell's reconstructions can push the twin out of the cut
    * (an approximation, not an error), so the timed requests are checked
    * for well-formed top-K lists and recall instead. */
  val TwinCheckNProbe = 1
  /** Recall@10 against exact search must stay at or above this. */
  val RecallFloor = 0.6

  def spec(seed: Long): EmbeddingSpec =
    EmbeddingSpec(seed, vectors = 6000, dim = 64, clusters = 16, groups = 24,
      twins = 64)

  private var corpusDir: String = _
  private var storeDir: String = _
  private var buildSeconds = 0.0

  /** Writes the corpus; the index is built in [[warm]]. */
  def prepare(ctx: Ctx): Unit = {
    corpusDir = ctx.dir("corpus")
    EmbeddingGen.frame(ctx.spark, spec(ctx.seed)).write.parquet(corpusDir)
  }

  private def frameOf(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "vec")
  }

  /** Query batch `r`: the sources of planted twins, in rotation. */
  private def queries(s: EmbeddingSpec, r: Int): Seq[(Long, Long)] =
    (0 until QueriesPerRequest).map { i =>
      val j = (r * QueriesPerRequest + i) % s.twins
      s.twinSource(j) -> s.twinId(j)
    }

  /** One request's timings. `planMs` runs to `queryExecution.executedPlan`
    * and includes the `planJobs` Spark jobs the engine runs while building
    * the query (probe, codebook and centroid collects), which took
    * `planJobMs` of it; `execMs` is the client's collect. Job figures are
    * 0 unless tracing is on. */
  private case class Request(planMs: Double, execMs: Double, cpuNs: Long, jobs: Long,
      planJobs: Long, planJobMs: Long, rows: Seq[(Long, Long, Int)])

  private def request(ctx: Ctx, r: Int, qs: Seq[(Long, Long)],
      nProbe: Option[Int] = None): Request = {
    val spark = ctx.spark
    val s = spec(ctx.seed)
    val q = frameOf(spark, qs.map { case (src, _) => src -> EmbeddingGen.vector(s, src) })
    val c0 = Trace.counts()
    val cpu0 = Workload.cpuNs
    val t0 = System.nanoTime()
    val df = Trace.span("pipeline", "Ann.ivfPqTopKFromStore", r) {
      val corpus = spark.read.parquet(corpusDir)
      val df = nProbe.fold(Ann.ivfPqTopKFromStore(q, corpus, storeDir, k = K))(n =>
        Ann.ivfPqTopKFromStore(q, corpus, storeDir, k = K, nProbe = n))
      df.queryExecution.executedPlan
      df
    }
    val t1 = System.nanoTime()
    val c1 = Trace.counts()
    val rows = Trace.span("pipeline", "collect", r) { df.collect() }
    val t2 = System.nanoTime()
    val cpuNs = Workload.cpuNs - cpu0
    val plan = c1 - c0
    Request((t1 - t0) / 1e6, (t2 - t1) / 1e6, cpuNs, (Trace.counts() - c0).jobs,
      plan.jobs, plan.jobMs, rows.toSeq.map(row =>
        (row.getAs[Long]("query_id"), row.getAs[Long]("neighbor_id"), row.getAs[Int]("rank"))))
  }

  private def append(ctx: Ctx, b: Int): Double = {
    val rows = EmbeddingGen.appendRows(spec(ctx.seed), b, AppendSize)
    val df = frameOf(ctx.spark, rows)
    val (_, sec) = Workload.seconds {
      Trace.span("pipeline", "Ann.appendToIvfPqIndex", b) { Ann.appendToIvfPqIndex(df, storeDir) }
    }
    // the new vectors join the corpus the re-rank reads
    df.write.mode("append").parquet(corpusDir)
    sec * 1000
  }

  /** Builds the index, then serves [[WarmRequests]] requests: planning
    * and serving code stays cold for several. */
  def warm(ctx: Ctx): Unit = {
    storeDir = ctx.dir("index")
    buildSeconds = Workload.seconds {
      Trace.span("pipeline", "Ann.writeIvfPqIndex") {
        Ann.writeIvfPqIndex(ctx.spark.read.parquet(corpusDir), storeDir, k = Cells,
          m = SubVectors, ksub = CodesPerBook, iters = TrainIters)
      }
    }._2
    (1 to WarmRequests).foreach { r =>
      val qs = queries(spec(ctx.seed), r)
      val bad = AnnChecks.malformed(request(ctx, -r, qs).rows, qs.map(_._1), K)
      require(bad.isEmpty, s"warm-up request: malformed top-$K for ${bad.mkString(",")}")
    }
  }

  /** Recall@K of the served top-K (engine defaults) against exact search,
    * on vectors spread over the base corpus. */
  private def recall(ctx: Ctx): Double = {
    val spark = ctx.spark
    val s = spec(ctx.seed)
    val ids = (0 until QueriesPerRequest).map(i => i.toLong * s.vectors / QueriesPerRequest + 1)
    val q = frameOf(spark, ids.map(id => id -> EmbeddingGen.vector(s, id)))
    val corpus = spark.read.parquet(corpusDir)
    def pairs(df: DataFrame) = df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    AnnChecks.recall(pairs(Ann.ivfPqTopKFromStore(q, corpus, storeDir, k = K)),
      pairs(Ann.bruteForceTopK(q, corpus, K)))
  }

  def measure(ctx: Ctx): Outcome = {
    val s = spec(ctx.seed)
    val problems = mutable.ArrayBuffer.empty[String]
    val served = mutable.ArrayBuffer.empty[Request]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var r = 0
    var appended = 0
    ctx.startClock()
    while (r == 0 || ctx.timeLeft) {
      if (r > 0 && r % AppendEvery == 0) {
        attempted += 1
        try { appendMs += append(ctx, appended); appended += 1 }
        catch { case e: Exception => failed += 1; problems += s"append $appended threw: $e" }
      }
      attempted += 1
      val qs = queries(s, r)
      try {
        val req = request(ctx, r, qs)
        val bad = AnnChecks.malformed(req.rows, qs.map(_._1), K)
        if (bad.nonEmpty) {
          failed += 1
          problems += s"request $r: not $K distinct neighbours ranked 1..$K for ${bad.mkString(",")}"
        } else served += req
      } catch { case e: Exception => failed += 1; problems += s"request $r threw: $e" }
      r += 1
    }
    // untimed: every planted twin ranks first with one probed cell
    val twins = (0 until s.twins).map(j => s.twinSource(j) -> s.twinId(j))
    attempted += 1
    try {
      val twinRows = request(ctx, -100, twins, Some(TwinCheckNProbe)).rows
      val wrong = AnnChecks.wrongTop1(twinRows, twins.toMap)
      if (wrong.nonEmpty) {
        failed += 1
        val got = wrong.map(q => s"$q -> " + twinRows.filter(_._1 == q).sortBy(_._3)
          .take(3).map { case (_, n, k) => s"#$k $n" }.mkString(" "))
        problems += s"twins not ranked first: ${got.mkString("; ")}"
      }
    } catch { case e: Exception => failed += 1; problems += s"twin check threw: $e" }
    val rc = recall(ctx)
    if (rc < RecallFloor) problems += f"recall@$K $rc%.3f below the floor $RecallFloor"
    val reqMs = served.map(x => x.planMs + x.execMs).toArray
    val vectors = s.vectors.toLong + s.twins + appended.toLong * AppendSize
    val e2e = Map(
      "throughput_per_s" -> served.size * QueriesPerRequest / (reqMs.sum / 1000),
      "cpu_ms_per_unit" -> served.map(_.cpuNs).sum / 1e6 / math.max(served.size * QueriesPerRequest, 1),
      "bytes_written_per_event" -> Workload.bytesUnder(storeDir).toDouble / vectors) ++
      (if (reqMs.nonEmpty) Workload.latencyMetrics(reqMs) else Map.empty)
    val layer = if (!Trace.enabled) Map.empty[String, Double] else Map(
      "pipeline.ann.plan_ms" -> Workload.p(served.map(_.planMs), 50),
      "pipeline.ann.plan_jobs" -> served.map(_.planJobs).sum.toDouble / math.max(served.size, 1),
      "pipeline.ann.plan_job_ms" -> Workload.p(served.map(_.planJobMs.toDouble), 50),
      "pipeline.ann.exec_ms" -> Workload.p(served.map(_.execMs), 50),
      "pipeline.ann.jobs_per_request" -> served.map(_.jobs).sum.toDouble / math.max(served.size, 1),
      "pipeline.ann.build_s" -> buildSeconds,
      "pipeline.ann.append_ms" -> Workload.p(appendMs, 50),
      "pipeline.ann.recall_at_10" -> rc,
      "pipeline.store.data_files" -> Workload.parquetFilesUnder(storeDir).toDouble)
    System.err.println(f"[cdcbench] serve: $r requests, $appended appends, recall@$K $rc%.3f, " +
      f"p50 ${Workload.p(reqMs, 50)}%.0f ms (plan ${Workload.p(served.map(_.planMs), 50)}%.0f ms)")
    Outcome(attempted, failed, problems.toSeq, e2e, layer)
  }
}
