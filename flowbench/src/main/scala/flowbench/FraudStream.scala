package flowbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.streaming.{StreamingScoring, StreamingSink}

import Workload._

/** Real-time scoring as an open loop: a generator thread offers
  * transactions at a fixed rate into a `MemoryStream`, and the query
  * `StreamingScoring.enrich` → `score` → `StreamingSink.parquetExactlyOnce`
  * scores them. An event's latency runs from when it was due to be
  * offered to when its micro-batch committed. A base phase offers less
  * than the query can take; an overload phase offers more.
  */
object FraudStream extends Workload {
  val name = "fraud_stream"

  val RangeRows = 1500
  val TrainRows = 4000
  val BaseRate = 1000.0 // events/s, below capacity
  // events/s, two to three times what the query scores on 4 cores once
  // its batches are large; at 100,000 it sometimes kept up
  val OverRate = 300000.0
  val BaseShare = 0.875 // of the measured seconds
  val WarmupS = 2.5 // a separate warm-up query at the base rate
  val WarmupTriggers = 4 // excluded from the latency samples
  private val TickMs = 10L
  // validity limits: a run whose generator stalled for about one
  // base-rate trigger (0.4-0.6 s on 4 cores), or whose overload rate the
  // query kept up with, measured the generator and not the query
  val MaxLateMs = 400.0
  val OverloadMargin = 0.9
  private val CheckEvery = 10

  val Features: FeatureConfig = FeatureConfig(
    Seq("purchase_value", "age", "time_since_signup_seconds",
      "time_since_signup_hours"),
    Seq("source", "browser", "sex", "hour_of_day", "day_of_week", "country"))

  private var ranges: DataFrame = _
  private var model: PipelineModel = _

  private def rangesFrame(ctx: Ctx, rs: Vector[(Long, Long, String)]): DataFrame = {
    import ctx.spark.implicits._
    rs.toDF("lower_bound_ip_address_int", "upper_bound_ip_address_int",
      "country")
  }

  def setup(ctx: Ctx): SetupTimes = {
    import ctx.spark.implicits._
    val (_, Seq(genS, fitS)) = repeated { _ =>
      val ((rs, train), g) = timed {
        val rs = Gen.ipRanges(Gen.rng(ctx.seed, 2L), RangeRows)
        val txs = new Gen.TxStream(ctx.seed, 4L)
        (rs, Vector.fill(TrainRows)(txs.next()))
      }
      val (_, f) = timed {
        ranges = rangesFrame(ctx, rs)
        model = FeaturePipeline.build(Features)
          .fit(StreamingScoring.enrich(train.toDF(), ranges))
      }
      ((), Seq(g, f))
    }
    val (_, warmS) = timed {
      runQuery(ctx, "warmup", new Gen.TxStream(ctx.seed, 5L),
        Seq(BaseRate -> WarmupS), new Tracer(false, "warmup"), check = false)
    }
    SetupTimes(genS, 0.0, fitS, warmS)
  }

  def measure(ctx: Ctx, seconds: Double, tr: Tracer,
      brief: Boolean): Measured = {
    val tag = if (tr.enabled) "traced" else "plain"
    val r = runQuery(ctx, tag, new Gen.TxStream(ctx.seed, 6L),
      Seq(BaseRate -> seconds * BaseShare,
        OverRate -> seconds * (1 - BaseShare)), tr, check = true)
    val base = r.batches.filter(b => b.phase == 0 && b.id >= WarmupTriggers)
    val over = r.batches.filter(b => b.phase == 1)
    def med(bs: Seq[Batch], f: Batch => Double): Double =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    // everything committed by the triggers that started in the overload
    // phase, over the time from the first one's start to the last one's
    // commit: the backlog never empties in between, so the query is busy
    val capacity =
      if (over.isEmpty) 0.0
      else over.map(_.rows).sum / ((over.last.commitMs - over.head.startMs) / 1e3)
    println(f"[flowbench] $name ($tag): generator late by at most " +
      f"${r.lateMaxMs}%.0f ms; overload offered ${r.overOfferedPerS}%.0f " +
      f"events/s, scored $capacity%.0f events/s")
    ctx.ops.check(s"$name generator within $MaxLateMs ms of schedule ($tag)")(
      r.lateMaxMs <= MaxLateMs)
    ctx.ops.check(s"$name overload rate above capacity ($tag)")(
      capacity < OverloadMargin * r.overOfferedPerS)
    val sinkWrite = {
      val score = tr.named("streaming.score").map(_.durNs)
      val write = tr.named("streaming.sink_write").map(_.durNs)
      score.zip(write).map { case (s, w) => (w - s) / 1e6 }
    }
    Measured(r.baseLatencyMs, "event latencies at the base rate",
      capacity, "events/s scored under overload",
      Map(
        "streaming.trigger_ms" -> med(base, _.triggerMs),
        "streaming.planning_ms" -> med(base, _.planningMs),
        "streaming.walcommit_ms" -> med(base, _.walCommitMs),
        "streaming.addbatch_ms" -> med(over, _.addBatchMs),
        "streaming.rows_per_trigger" -> med(over, _.rows.toDouble),
        "streaming.backlog_max" -> r.backlogMax.toDouble,
        "gen.late_max_ms" -> r.lateMaxMs),
      if (sinkWrite.isEmpty) Map.empty
      else Map("streaming.sink_write_ms" -> Stats.median(sinkWrite)))
  }

  /** One executed micro-batch. */
  final case class Batch(id: Long, phase: Int, rows: Long, startMs: Double,
      triggerMs: Double, planningMs: Double, walCommitMs: Double,
      addBatchMs: Double, endOffset: Long) {
    def commitMs: Double = startMs + triggerMs
  }

  final case class StreamRun(batches: Seq[Batch], baseLatencyMs: Seq[Double],
      backlogMax: Long, lateMaxMs: Double, overOfferedPerS: Double)

  /** A run of offered events: `n` events with consecutive phase indices
    * from `first`, pushed under one MemoryStream offset.
    */
  private final case class Chunk(offset: Long, phase: Int, first: Long,
      n: Int, pushedMs: Double)

  private def runQuery(ctx: Ctx, tag: String, gen: Gen.TxStream,
      phases: Seq[(Double, Double)], tr: Tracer, check: Boolean): StreamRun = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.dir(s"stream-$tag")
    deleteTree(dir)
    val sinkPath = dir.resolve("sink").toString
    // one source partition per core, as a partitioned log would give;
    // by default every addData call would become its own task
    val mem = MemoryStream[Gen.Tx](spark,
      Runtime.getRuntime.availableProcessors())
    val scored = StreamingScoring.score(
      StreamingScoring.enrich(mem.toDF(), ranges), model)
      .select(col("event_id"), vector_to_array(col("features")).as("features"))

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    val ckpt = dir.resolve("checkpoint").toString
    val q =
      if (!tr.enabled) StreamingSink.parquetExactlyOnce(scored, sinkPath, ckpt)
      else scored.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          tr.span("streaming.score")(force(batch))
          tr.span("streaming.sink_write")(
            StreamingSink.writeBatchIdempotent(batch, id, sinkPath))
        }.start()

    // every event of every phase is drawn before the clock starts, so
    // the loop below only offers them
    val planned = phases.map { case (rate, secs) =>
      Vector.fill(math.ceil(rate * secs).toInt)(gen.next())
    }
    // the open-loop generator: every tick, offer every event now due
    val wall0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def wallMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
    val chunks = ArrayBuffer.empty[Chunk]
    val offered = ArrayBuffer.empty[Gen.Tx]
    val phaseStart = ArrayBuffer.empty[Double]
    var lateMax = 0.0
    var lastOfferedPerS = 0.0
    phases.zipWithIndex.foreach { case ((rate, secs), ph) =>
      val start = wallMs()
      phaseStart += start
      var sent = 0L
      while (wallMs() - start < secs * 1e3) {
        val due = math.min(math.floor((wallMs() - start) / 1e3 * rate).toLong,
          planned(ph).size.toLong) - sent
        if (due > 0) {
          val txs = planned(ph).slice(sent.toInt, (sent + due).toInt)
          val dueFirst = start + sent / rate * 1e3
          val off = mem.addData(txs).asInstanceOf[
            org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
          val at = wallMs()
          lateMax = math.max(lateMax, at - dueFirst)
          chunks += Chunk(off, ph, sent, txs.size, at)
          offered ++= txs
          sent += due
        }
        Thread.sleep(TickMs)
      }
      lastOfferedPerS = sent / ((wallMs() - start) / 1e3)
    }
    val drained = ctx.ops.attempt(s"$name drain ($tag)")(q.processAllAvailable())
    q.stop()
    org.apache.spark.flowbenchshim.ListenerBus.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    q.exception.foreach(e => ctx.ops.attempt(s"$name query ($tag)")(throw e))

    val runId = q.runId
    val batches = progress.asScala.toSeq
      .filter(p => p.runId == runId && p.durationMs.containsKey("addBatch"))
      .sortBy(_.batchId)
      .map { p =>
        val d = (k: String) => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        Batch(p.batchId, phaseStart.lastIndexWhere(_ <= start).max(0),
          p.numInputRows, start, d("triggerExecution"), d("queryPlanning"),
          d("walCommit"), d("addBatch"), p.sources.head.endOffset.trim.toLong)
      }

    // latency: due time of each event to its batch's commit
    val base = ArrayBuffer.empty[Double]
    var backlogMax = 0L
    var committed = 0L
    var ci = 0
    batches.foreach { b =>
      while (ci < chunks.size && chunks(ci).offset <= b.endOffset) {
        val c = chunks(ci)
        if (c.phase == 0 && b.id >= WarmupTriggers) {
          val rate = phases(c.phase)._1
          (0 until c.n).foreach { k =>
            base += b.commitMs - (phaseStart(c.phase) + (c.first + k) / rate * 1e3)
          }
        }
        committed += c.n
        ci += 1
      }
      val pushed = chunks.iterator.takeWhile(_.pushedMs <= b.commitMs)
        .map(_.n.toLong).sum
      backlogMax = math.max(backlogMax, pushed - committed)
    }

    if (check && drained.isDefined) checkSink(ctx, tag, sinkPath, offered.toSeq)
    StreamRun(batches, base.toSeq, backlogMax, lateMax, lastOfferedPerS)
  }

  /** Every offered event scored exactly once, with the features the
    * batch `enrich` + `score` of the same rows gives.
    */
  private def checkSink(ctx: Ctx, tag: String, sinkPath: String,
      offered: Seq[Gen.Tx]): Unit = {
    import ctx.spark.implicits._
    val sink = ctx.spark.read.parquet(sinkPath).select("event_id", "features")
    val counts = sink.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val (rows, distinct) = (counts.getLong(0), counts.getLong(1))
    val n = offered.size.toLong
    ctx.ops.tally(s"$name events scored exactly once ($tag)", n,
      math.abs(n - distinct) + (rows - distinct))
    // every CheckEvery-th event is scored again as a batch
    val sample = offered.filter(_.event_id % CheckEvery == 0)
    val batch = StreamingScoring.score(
      StreamingScoring.enrich(sample.toDF(), ranges), model)
      .select(col("event_id"), vector_to_array(col("features")).as("features"))
    ctx.ops.check(s"$name streamed features equal batch scoring ($tag)")(
      FraudBatch.sinkDigest(sink.filter(col("event_id") % CheckEvery === 0)) ==
        FraudBatch.sinkDigest(batch))
  }
}
