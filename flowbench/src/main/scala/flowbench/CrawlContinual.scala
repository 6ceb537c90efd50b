package flowbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{Multimodal, TextAnalysis, TextDedup}
import graft.operators.TextDedup.MinhashIndex
import graft.pipeline.WarcPipeline
import graft.pipeline.WarcPipeline.WarcPipelineConfig
import graft.streaming.{ContinualCrawl, ContinualMinhash, ContinualPacking}
import graft.streaming.ContinualCrawl.{CrawlState, SteppedCrawl}

import Workload._

/** The continual crawl: `ContinualCrawl.step` folded over triggers of
  * WARC.gz batches, from a minhash index saved with
  * `TextDedup.saveMinhashIndex` and loaded back, and a WordPiece
  * vocabulary from `TextAnalysis.wordpieceVocab`.
  */
object CrawlContinual extends Workload {
  val name = "crawl_continual"

  val CorpusDocs = 3000
  val DocsPerTrigger = 300
  val MinTriggers = 3
  val WarmupTriggers = 1
  val FirstMediaId = 1000000L
  private val WarmMediaId = 900000L
  val Cfg: WarcPipelineConfig = WarcPipelineConfig()
  private val PackCols = Seq("n_tokens", "start_offset", "first_seq",
    "last_seq", "offset_in_seq", "n_seqs_spanned", "crosses_boundary",
    "append_ok")

  private var index: MinhashIndex = _
  private var vocab: DataFrame = _

  def setup(ctx: Ctx): SetupTimes = {
    import ctx.spark.implicits._
    val (_, Seq(genS, indexS)) = repeated { rep =>
      val (corpus, g) = timed(new Gen.Crawl(ctx.seed).corpus(CorpusDocs))
      val (_, ix) = timed {
        val docs = corpus.toDF("doc_id", "text")
        val path = ctx.dir(s"index-$rep").toString
        TextDedup.saveMinhashIndex(docs, "text", "doc_id", path, Cfg.n,
          Cfg.numHashes, Cfg.bands, Cfg.hashFn)
        index = TextDedup.loadMinhashIndex(ctx.spark, path)
        vocab = Materialize.cut(TextAnalysis.wordpieceVocab(docs, "text"))
      }
      ((), Seq(g, ix))
    }
    val (_, warmS) = timed {
      val warm = new Gen.Crawl(ctx.seed ^ 0x77L)
      warm.corpus(50)
      var state = initialState(ctx)
      (0 until WarmupTriggers).foreach { t =>
        val b = warm.batch(t, DocsPerTrigger, WarmMediaId)
        val st = ContinualCrawl.step(state, b.media.toDS(), vocab, Cfg)
        st.manifest.collect()
        state = st.state
      }
    }
    SetupTimes(genS, indexS, 0.0, warmS)
  }

  private def initialState(ctx: Ctx): CrawlState = CrawlState(
    MinhashIndex(Materialize.cut(index.bands), Materialize.cut(index.shingles)),
    ContinualPacking.emptyState(ctx.spark, "media_id"))

  def measure(ctx: Ctx, seconds: Double, tr: Tracer,
      brief: Boolean): Measured = {
    import ctx.spark.implicits._
    val sc = ctx.spark.sparkContext
    val crawl = new Gen.Crawl(ctx.seed)
    crawl.corpus(CorpusDocs)
    var state = initialState(ctx)
    val times = ArrayBuffer.empty[Double]
    val bounds = ArrayBuffer.empty[Boundaries]
    var gated = 0L
    var dups = 0L
    val before = ctx.engine.snapshot(sc)
    val t0 = nowNs()
    var t = 0
    while (t < (if (brief) 2 else MinTriggers) || secsSince(t0) < seconds) {
      val batch = crawl.batch(t, DocsPerTrigger, FirstMediaId)
      val media = batch.media.toDS()
      val b = new Boundaries(tr, ctx.engine, ctx.spark)
      val s = nowNs()
      val stepped = ctx.ops.attempt(s"$name trigger $t") {
        if (tr.enabled) tracedStep(b, state, media)
        else {
          val st = ContinualCrawl.step(state, media, vocab, Cfg)
          (st, st.manifest.collect())
        }
      }
      stepped.foreach { case (st, rows) =>
        times += msSince(s)
        if (tr.enabled) bounds += b
        state = st.state
        gated += rows.length
        dups += rows.count(_.getAs[Boolean]("is_dup"))
        checkTrigger(ctx, t, rows, batch)
      }
      t += 1
    }
    val w = EngineListener.between(before, ctx.engine.snapshot(sc))
    val n = math.max(1, times.size)
    val q = math.max(1, times.size / 4)
    val growth =
      if (times.size < 2) 0.0
      else Stats.median(times.takeRight(q).toSeq) / Stats.median(times.take(q).toSeq)
    val indexRows = state.index.bands.count() + state.index.shingles.count()
    val docs = times.size.toLong * DocsPerTrigger
    Measured(times.toSeq, s"triggers of $DocsPerTrigger docs",
      if (times.isEmpty) 0.0 else docs / (times.sum / 1e3), "docs/s",
      Map(
        "materialize.cuts_per_trigger" -> w.cutJobs.toDouble / n,
        "materialize.cut_s" -> w.cutJobMs / 1e3 / n,
        "streaming.index_rows" -> indexRows.toDouble,
        "streaming.trigger_growth" -> growth,
        "operators.dup_rate" -> dups.toDouble / math.max(1L, gated)),
      if (bounds.isEmpty) Map.empty
      else {
        def med(f: Boundaries => Double) = Stats.median(bounds.toSeq.map(f))
        Map(
          "pipeline.extract_gate_s" -> med(_("extract_gate")),
          "streaming.minhash_check_s" -> med(_("minhash_check")),
          "operators.wordpiece_s" -> med(_("wordpiece")),
          "streaming.pack_s" -> med(b => b("pack") - b("wordpiece")))
      })
  }

  /** `ContinualCrawl.step` composed from the same public calls, each
    * stage inside its own span.
    */
  private def tracedStep(b: Boundaries, state: CrawlState,
      media: Dataset[Multimodal.MediaRow]): (SteppedCrawl, Array[Row]) = {
    val (_, gated) = b.time("extract_gate")(
      WarcPipeline.extractAndGate(media, Cfg, cutExtracted = false))
    val r = b.time("minhash_check")(ContinualMinhash.checkAndAppend(
      state.index, gated, "text", "media_id", Cfg.n, Cfg.numHashes,
      Cfg.bands, Cfg.nearDupThreshold, Cfg.hashFn))
    val survivors = gated.join(
      r.checked.filter(!col("is_dup")).select(col("media_id")),
      Seq("media_id"))
    val counts = TextAnalysis.wordpieceTokenCounts(
      survivors, "text", "media_id", vocab)
    b.force("wordpiece", counts)
    val p = b.time("pack")(ContinualPacking.step(
      state.pack, counts, "media_id", "n_tokens", Cfg.targetTokens))
    val manifest =
      r.checked.select(col("media_id"), col("is_dup"), col("matched_id"))
        .join(p.manifest.select(col("media_id") +: PackCols.map(col): _*),
          Seq("media_id"), "left")
    val rows = b.time("manifest")(manifest.collect())
    (SteppedCrawl(manifest, CrawlState(r.index, p.state)), rows)
  }

  /** Planted clones flagged against their source or earlier; fresh docs
    * never flagged; one manifest row per generated doc, since the gate
    * must pass them all; each packed exactly when it survived.
    */
  private def checkTrigger(ctx: Ctx, t: Int, rows: Array[Row],
      batch: Gen.CrawlBatch): Unit = {
    val byId = rows.map(r => r.getAs[Long]("media_id") -> r).toMap
    val expected = batch.kinds.map(_._1)
    ctx.ops.check(s"$name manifest rows equal gated docs (trigger $t)")(
      rows.length == expected.size && byId.keySet == expected.toSet)
    val isDup = (id: Long) => byId.get(id).exists(_.getAs[Boolean]("is_dup"))
    val clones = batch.kinds.collect { case (id, Gen.Clone(src)) => (id, src) }
    ctx.ops.check(s"$name planted clones flagged (trigger $t)")(
      clones.forall { case (id, src) =>
        isDup(id) && byId(id).getAs[Long]("matched_id") <= src })
    val fresh = batch.kinds.collect { case (id, Gen.Fresh) => id }
    ctx.ops.check(s"$name fresh docs never flagged (trigger $t)")(
      fresh.forall(id => byId.contains(id) && !isDup(id)))
    ctx.ops.check(s"$name survivors packed (trigger $t)")(
      rows.forall(r => r.isNullAt(r.fieldIndex("n_tokens")) ==
        r.getAs[Boolean]("is_dup")))
  }
}
