package cdcbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints progress on stderr and, as the last line of stdout, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the per-layer ones, and the span dump goes to `DIR/../trace`. */
object Main {
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms", "cpu_ms_per_unit" -> "ms",
    "bytes_written_per_event" -> "B")

  val perLayerUnits: Seq[(String, String)] = Seq(
    "sources.self_ms" -> "ms",
    "sources.log_write_eps" -> "1/s",
    "sources.relay.self_ms" -> "ms",
    "sources.relay.decode_eps" -> "1/s",
    "sources.relay.records_read_per_delivered" -> "ratio",
    "sources.relay.latest_offset_ms" -> "ms",
    "operators.self_ms" -> "ms",
    "operators.buffer_info_ms" -> "ms",
    "operators.snapshot_catchup_s" -> "s",
    "operators.bootstrap_shuffle_bytes" -> "B",
    "streaming.self_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.trigger_overhead_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "streaming.shuffle_bytes_per_event" -> "B",
    "streaming.events_per_batch" -> "count",
    "streaming.batches" -> "count",
    "streaming.callback_ms" -> "ms",
    "streaming.apply_s" -> "s",
    "streaming.apply_bytes_written" -> "B",
    "streaming.apply_write_amp" -> "ratio",
    "model.self_ms" -> "ms",
    "model.checkpoint_store_ms" -> "ms",
    "pipeline.self_ms" -> "ms",
    "pipeline.ann.plan_ms" -> "ms",
    "pipeline.ann.plan_jobs" -> "count",
    "pipeline.ann.plan_job_ms" -> "ms",
    "pipeline.ann.exec_ms" -> "ms",
    "pipeline.ann.jobs_per_request" -> "count",
    "pipeline.ann.build_s" -> "s",
    "pipeline.ann.append_ms" -> "ms",
    "pipeline.ann.recall_at_10" -> "ratio",
    "pipeline.store.data_files" -> "count",
    "jvm.old_gen_peak_mb" -> "MB",
    "trace.spans" -> "count",
    "trace.throughput_per_s" -> "1/s",
    "trace.latency_p50_ms" -> "ms")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val name = arg(args, "--workload")
    val workload = Workload.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; " +
        s"expected one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val work = new File(arg(args, "--work")).getAbsoluteFile
    require(seconds > 0, "--seconds must be positive")
    work.mkdirs()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"cdcbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) Trace.start(spark)
    val ctx = new Ctx(spark, seed, seconds, work)
    val sessionSec = (System.nanoTime() - t0) / 1e9

    val (_, prepareSec) = Workload.seconds(workload.prepare(ctx))
    val (_, warmSec) = Workload.seconds(workload.warm(ctx))
    val setup = sessionSec + prepareSec + warmSec
    System.err.println(f"[cdcbench] $name set-up: session $sessionSec%.2f s, " +
      f"prepare $prepareSec%.2f s, warm-up $warmSec%.2f s")

    val out = workload.measure(ctx)
    val e2e = out.endToEnd + ("setup_s" -> setup)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEndUnits.map { case (m, u) =>
        (m, e2e.getOrElse(m, throw new IllegalStateException(s"$name did not measure $m")), u)
      }
      else {
        val self = Trace.selfMs
        val layer = out.perLayer ++ Map(
          "sources.self_ms" -> self.getOrElse("sources", 0.0),
          "sources.relay.self_ms" -> self.getOrElse("sources.relay", 0.0),
          "operators.self_ms" -> self.getOrElse("operators", 0.0),
          "streaming.self_ms" -> self.getOrElse("streaming", 0.0),
          "model.self_ms" -> self.getOrElse("model", 0.0),
          "pipeline.self_ms" -> self.getOrElse("pipeline", 0.0),
          "jvm.old_gen_peak_mb" -> Trace.oldGenPeakMb,
          "trace.spans" -> Trace.allSpans.size.toDouble,
          "trace.throughput_per_s" -> e2e.getOrElse("throughput_per_s", 0.0),
          "trace.latency_p50_ms" -> e2e.getOrElse("latency_p50_ms", 0.0))
        Trace.dump(new File(work.getParentFile, s"trace/$name-$seed.jsonl").toPath)
        // a layer this workload does not call reads 0
        perLayerUnits.map { case (m, u) => (m, layer.getOrElse(m, 0.0), u) }
      }
    val bad = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite }
    val problems = out.problems ++ bad.map { case (m, v, _) => s"metric $m is $v" }
    problems.foreach(p => System.err.println(s"[cdcbench] CHECK FAILED: $p"))
    val correct = problems.isEmpty && out.failed == 0
    spark.stop()
    System.err.println(f"[cdcbench] $name finished in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val body = metrics.map { case (m, v, u) =>
      val shown = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$m": {"value": $shown, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {$body}}""")
    System.exit(if (correct) 0 else 1)
  }
}
