package flowbench

import java.nio.file.{Files, Paths}

import graft.HarnessSession

/** The flow benchmark's entry point:
  *
  * {{{
  * Main --workload <fraud_batch|fraud_stream|crawl_continual>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      --digests <dir>
  * }}}
  *
  * Builds its inputs from the seed, sets up, measures for about
  * `seconds`, checks every output and prints, as its last stdout line,
  * one JSON object: `correct`, `attempted`, `failed` and `metrics`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the run measures half its time untraced and half traced, writes the
  * spans as JSONL under the work directory and reports the per-layer
  * metrics, the tracing overhead among them.
  */
object Main {

  val Workloads: Seq[Workload] = Seq(FraudBatch, FraudStream, CrawlContinual)

  /** End-to-end metric names and units, in the order they print. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "flow_p50_ms" -> "ms", "throughput_per_s" -> "1/s")

  /** Per-layer metric names and units, in the order they print. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.csv_scan_s" -> "s", "sources.input_reread_ratio" -> "ratio",
    "operators.clean_s" -> "s", "operators.geolocate_s" -> "s",
    "operators.velocity_s" -> "s", "operators.split_s" -> "s",
    "ml.fit_s" -> "s", "operators.smote_s" -> "s",
    "operators.smote_shuffle_mb" -> "MB", "pipeline.sink_s" -> "s",
    "streaming.trigger_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.walcommit_ms" -> "ms", "streaming.sink_write_ms" -> "ms",
    "streaming.addbatch_ms" -> "ms", "streaming.rows_per_trigger" -> "rows",
    "streaming.backlog_max" -> "events",
    "pipeline.extract_gate_s" -> "s", "streaming.minhash_check_s" -> "s",
    "operators.wordpiece_s" -> "s", "streaming.pack_s" -> "s",
    "materialize.cuts_per_trigger" -> "count", "materialize.cut_s" -> "s",
    "streaming.index_rows" -> "rows", "streaming.trigger_growth" -> "ratio",
    "operators.dup_rate" -> "ratio",
    "setup.session_s" -> "s", "setup.gen_s" -> "s",
    "setup.index_build_s" -> "s", "setup.model_fit_s" -> "s",
    "setup.warmup_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio", "spark.cpu_util" -> "ratio",
    "spark.storage_peak_mb" -> "MB",
    "flow.tail_ms" -> "ms",
    "gen.late_max_ms" -> "ms", "trace.overhead_ms" -> "ms",
    "fail_ratio" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, digests: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
      }, need("work"), need("digests"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.find(_.name == o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload} " +
        s"(one of ${Workloads.map(_.name).mkString(", ")})"))
    val work = Paths.get(o.work).toAbsolutePath.resolve(s"${wl.name}-${o.seed}")
    Workload.deleteTree(work)
    Files.createDirectories(work)

    val (spark, sessionS) = Workload.timed {
      HarnessSession.build(Runtime.getRuntime.availableProcessors().toString)
    }
    try {
      val sc = spark.sparkContext
      val engine = new EngineListener
      sc.addSparkListener(engine)
      val ctx = Ctx(spark, o.seed, work, new Ops, engine,
        Paths.get(o.digests).toAbsolutePath)
      val setup = wl.setup(ctx)
      val setupS = sessionS + setup.totalS

      // storage is polled only in a traced run's untraced half
      def window(seconds: Double, tr: Tracer, poll: Boolean) = {
        val before = engine.snapshot(sc)
        val poller = if (poll) Some(new StoragePoller(sc)) else None
        val (m, wallS) = Workload.timed(wl.measure(ctx, seconds, tr, o.trace))
        poller.foreach(_.stop())
        (m, EngineListener.between(before, engine.snapshot(sc)), wallS,
          poller.map(_.peakBytes).getOrElse(0L))
      }
      val runId = s"${wl.name}-${o.seed}"
      val plainTracer = new Tracer(false, runId)
      val (plain, w, wallS, peak) =
        window(if (o.trace) o.seconds / 2 else o.seconds, plainTracer, o.trace)
      val p50 = if (plain.unitMs.isEmpty) 0.0 else Stats.median(plain.unitMs)
      val tail = Stats.summarize(if (plain.unitMs.isEmpty) Seq(0.0) else plain.unitMs)
      println(s"[flowbench] ${wl.name}: ${plain.unitName}: " +
        tail.describe("ms") + (if (plain.unitMs.size <= 20)
          plain.unitMs.map(v => f"$v%.0f").mkString(" [", " ", "]") else ""))
      println(f"[flowbench] ${wl.name}: ${plain.throughput}%.1f ${plain.throughputName}")

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace)
          EndToEnd.zip(Seq(setupS, p50, plain.throughput)).map {
            case ((n, u), v) => (n, v, u) }
        else {
          val tr = new Tracer(true, runId)
          val (traced, _, _, _) = window(o.seconds / 2, tr, poll = false)
          val spansPath = work.getParent.resolve(s"spans/$runId.jsonl")
          tr.writeJsonl(spansPath)
          println(s"[flowbench] spans: $spansPath")
          val cores = Runtime.getRuntime.availableProcessors()
          val overhead =
            if (traced.unitMs.isEmpty) 0.0 else Stats.median(traced.unitMs) - p50
          val values = plain.layers ++ traced.spanLayers ++ Map(
            "setup.session_s" -> sessionS, "setup.gen_s" -> setup.genS,
            "setup.index_build_s" -> setup.indexBuildS,
            "setup.model_fit_s" -> setup.modelFitS,
            "setup.warmup_s" -> setup.warmupS,
            "spark.jobs" -> w.jobs.toDouble, "spark.tasks" -> w.tasks.toDouble,
            "spark.shuffle_mb" -> w.shuffleWriteBytes / 1e6,
            "spark.spill_mb" -> w.spillBytes / 1e6,
            "spark.task_skew" -> w.taskSkew,
            "spark.cpu_util" -> w.taskRunMs / 1e3 / (wallS * cores),
            "spark.storage_peak_mb" -> peak / 1e6,
            "flow.tail_ms" -> tail.tail.getOrElse((0.0 +: plain.unitMs).max),
            "trace.overhead_ms" -> overhead,
            "fail_ratio" -> ctx.ops.failed.toDouble / math.max(1L, ctx.ops.attempted))
          PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
        }
      metrics.foreach { case (n, v, u) => println(f"[flowbench] $n = $v%.4f $u") }
      println(f"[flowbench] fail_ratio = ${ctx.ops.failed}/${ctx.ops.attempted} failed/attempted")
      val result = Json.Mapper.createObjectNode()
        .put("correct", ctx.ops.failed == 0)
        .put("attempted", ctx.ops.attempted)
        .put("failed", ctx.ops.failed)
      val ms = result.putObject("metrics")
      metrics.foreach { case (n, v, u) =>
        ms.putObject(n).put("value", Json.num(v)).put("unit", u) }
      println(Json.Mapper.writeValueAsString(result))
    } finally spark.stop()
  }
}
