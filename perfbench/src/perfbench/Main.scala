package perfbench

import java.io.{File, PrintWriter}

/** Runs one workload and prints its metrics; the last stdout line is
  * one JSON object {correct, attempted, failed, metrics}.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> [--scale full|smoke] [--work <dir>]
  *   [--generate 1] [--fault swap|drop-append|drop-cluster] [--corpus <dir>]
  *
  * `--generate 1` only generates the workload's cached inputs and
  * exits, so that the measured JVM always starts cold.
  *
  * End-to-end metrics come from the untraced run (`--trace 0`). The
  * traced run attaches a SparkListener on alternate rounds, splits each
  * query into planning and collect, and reports per-layer numbers plus
  * the traced-minus-untraced latency as the tracing overhead.
  */
object Main {

  /** GenData copy counts of the scaled workloads. */
  val AnnCopies = 4
  val CurateCopies = 2

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val args = Args(
      workload = kv.getOrElse("workload", sys.error("--workload is required")),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      scale = kv.getOrElse("scale", "full"),
      work = kv.getOrElse("work", ".bench_build"),
      fault = kv.getOrElse("fault", ""),
      corpus = kv.getOrElse("corpus", ""))
    val smoke = args.scale == "smoke"
    val wl: Workload = args.workload match {
      case "search_warm" => new SearchWarm(smoke)
      case "ann_ingest" => new AnnIngest(smoke, AnnCopies)
      case "curate_batch" => new CurateBatch(smoke, CurateCopies)
      case other => sys.error(s"unknown workload $other")
    }
    val ctx = new Ctx(args)
    try {
      if (kv.get("generate").contains("1")) {
        new File(ctx.cacheDir).mkdirs()
        wl.prepare(ctx, () => Option(ctx.spark).getOrElse(ctx.startSession(s"${ctx.runDir}/idx")))
        return
      }
      val line = execute(ctx, wl)
      System.out.flush()
      println(line)
    } finally {
      ctx.stopSession()
      Corpus.deleteTree(new File(ctx.runDir).toPath)
    }
  }

  private def execute(ctx: Ctx, wl: Workload): String = {
    new File(ctx.runDir).mkdirs()
    new File(ctx.cacheDir).mkdirs()
    // untimed: inputs into the run directory (generated beforehand)
    wl.prepare(ctx, () => sys.error("inputs were not generated; run with --generate 1 first"))

    val indexRoot = s"${ctx.runDir}/idx"
    val s0 = System.nanoTime()
    ctx.spans("setup") {
      wl.setup(ctx, ctx.startSession(indexRoot))
    }
    ctx.setupS = (System.nanoTime() - s0) / 1e9
    ctx.gcAndSampleHeap()
    wl.load(ctx, ctx.spark)

    val gc0 = ctx.gcMs - ctx.sampleGcMs
    val t0 = System.nanoTime()
    val prepNs = wl.run(ctx, ctx.spark, t0 + (ctx.args.seconds * 1e9).toLong)
    val wallS = (System.nanoTime() - t0 - prepNs - ctx.pausedNs) / 1e9
    val gcMs = ctx.gcMs - ctx.sampleGcMs - gc0
    ctx.setTracing(false)
    if (ctx.ops < Ctx.HeapSampleOps) ctx.gcAndSampleHeap()
    val indexBytes = Corpus.bytesUnder(indexRoot)
    val traced = ctx.samples.filter(_.traced).toSeq
    val work = traced.map(s => s -> ctx.work(s.op))
    wl.finish(ctx)
    ctx.runChecks()
    wl.report(ctx)

    val lat = ctx.samples.filter(s => s.group == wl.latencyGroup && !s.traced).map(_.ms).toSeq
    val tailName = s"p${math.round(wl.tailPct * 100)}"
    val e2e = Seq(
      ("setup_s", ctx.setupS, "s"),
      ("latency_p50_ms", Stats.median(lat), "ms"),
      ("latency_tail_ms", Stats.pct(lat, wl.tailPct), "ms"),
      ("throughput_qps", ctx.samples.count(!_.traced) / wallS, "ops/s"),
      ("index_bytes_ratio", indexBytes / wl.rawBytes, "ratio"),
      ("heap_live_peak_mb", ctx.heapPeakMb, "MB"))
    val (perLayer, layerDetail) =
      if (ctx.args.trace) layerMetrics(ctx, wl, traced, work, gcMs) else (Nil, Nil)
    val errorRate = ctx.failed.toDouble / ctx.attempted
    val extra = Seq(("error_rate", errorRate, "ratio")) ++
      ctx.gauges.toSeq.map { case (k, (v, u)) => (k, v, u) } ++ layerDetail

    val shown = if (ctx.args.trace) perLayer else e2e
    println(s"# workload ${wl.name} seed ${ctx.args.seed} trace ${if (ctx.args.trace) 1 else 0}: " +
      s"${ctx.samples.length} ops in ${"%.2f".format(wallS)} s timed, " +
      s"${lat.length} latency samples (tail = $tailName), setup " +
      "%.3f s".format(ctx.setupS))
    (shown ++ extra).foreach { case (k, v, u) => println(f"metric $k%-36s $v%.6f $u") }
    ctx.failures.foreach(f => println(s"# FAILED $f"))

    if (ctx.args.trace) {
      val dir = new File(ctx.args.work, "traces")
      dir.mkdirs()
      val out = new File(dir, s"${wl.name}-${ctx.args.seed}.json")
      val w = new PrintWriter(out)
      try w.write(ctx.spans.toJson) finally w.close()
      println(s"# spans written to ${out.getPath}")
    }

    val metrics = shown.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""metrics": {$metrics}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** (per-layer metrics every workload reports, workload-specific ones). */
  private def layerMetrics(ctx: Ctx, wl: Workload, traced: Seq[Sample], work: Seq[(Sample, OpWork)],
                           gcMs: Long): (Seq[(String, Double, String)], Seq[(String, Double, String)]) = {
    val n = math.max(1, traced.length).toDouble
    def sum(f: OpWork => Long): Double = work.map(w => f(w._2)).sum.toDouble
    val gap = work.map { case (s, w) =>
      SparkWork.uncoveredMs(s.startMs, s.startMs + math.round(s.ms), w.jobIntervals.toSeq).toDouble
    }
    val rows = traced.map(_.rows).sum.toDouble
    val untracedLat = ctx.samples.filter(s => s.group == wl.latencyGroup && !s.traced).map(_.ms).toSeq
    val tracedLat = traced.filter(_.group == wl.latencyGroup).map(_.ms)
    val common = Seq(
      ("spark.jobs_per_op", sum(_.jobs) / n, "count"),
      ("spark.stages_per_op", sum(_.stages) / n, "count"),
      ("spark.tasks_per_op", sum(_.tasks) / n, "count"),
      ("spark.driver_gap_ms_per_op", Stats.mean(gap), "ms"),
      ("spark.task_time_ms_per_op", sum(_.taskTimeMs) / n, "ms"),
      ("spark.input_bytes_per_op", sum(_.inputBytes) / n, "bytes"),
      ("spark.input_rows_per_result", sum(_.inputRows) / math.max(1.0, rows), "ratio"),
      ("spark.shuffle_write_bytes", sum(_.shuffleWriteBytes), "bytes"),
      ("spark.spill_bytes", sum(_.spillBytes), "bytes"),
      ("spark.task_time_s", sum(_.taskTimeMs) / 1e3, "s"),
      ("op.plan_ms", Stats.median(traced.map(_.planMs)), "ms"),
      ("op.exec_ms", Stats.median(traced.map(_.execMs)), "ms"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"),
      ("trace.overhead_ms", Stats.median(tracedLat) - Stats.median(untracedLat), "ms"))
    val kinds = traced.map(_.kind).distinct.sorted
    val perKind = kinds.flatMap { k =>
      val ks = traced.filter(_.kind == k)
      Seq((s"$k.plan_ms", Stats.median(ks.map(_.planMs)), "ms"),
        (s"$k.exec_ms", Stats.median(ks.map(_.execMs)), "ms"))
    }
    val setup = ctx.layerSeconds.toSeq.map { case (k, v) => (s"${k}_s", v, "s") }
    (common, perKind ++ setup)
  }
}
