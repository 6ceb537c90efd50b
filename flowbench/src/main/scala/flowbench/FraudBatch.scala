package flowbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.operators.{RangeJoin, Smote, Split, TimeFeatures}
import graft.pipeline.Processor
import graft.pipeline.Processor.{PipelineOutputs, PreppedDataset}
import graft.sources.{CsvSource, PipelineConfig}

import Workload._

/** EP1 end to end: the three CSVs through `Processor.runPipeline` and
  * `Processor.writeOutputs` to the six parquet sinks.
  *
  * There is no warm-up. A batch job starts in a fresh JVM and pays its
  * JIT, class-loading and code-generation costs on every run, so the
  * timed unit is the first pipeline run after the session starts. One
  * such run outlasts any `--seconds` the benchmark uses, so a window
  * times exactly one run.
  */
object FraudBatch extends Workload {
  val name = "fraud_batch"

  val Sizes: Gen.FraudSizes = Gen.FraudSizes(
    fraudRows = 1000, rangeRows = 800, cardRows = 1500)
  val Sinks: Seq[String] = Seq("fraud_train", "fraud_test", "credit_train",
    "credit_test", "fraud_feature_names", "credit_feature_names")

  private var cfg: PipelineConfig = _
  private var inputFileBytes = 0L

  private def writeInputs(ctx: Ctx, dir: String, seed: Long,
      sz: Gen.FraudSizes): PipelineConfig = {
    val csvs = Gen.fraudCsvs(seed, sz)
    val files = Seq("fraud_data" -> csvs.fraud, "ip_to_country" -> csvs.ranges,
      "creditcard_data" -> csvs.card)
    val paths = files.map { case (n, text) =>
      val p = ctx.dir(s"$dir/$n.csv")
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
      n -> p.toString
    }
    PipelineConfig.Default.copy(dataPaths = paths.toMap)
  }

  def setup(ctx: Ctx): SetupTimes = {
    val (c, Seq(genS)) = repeated { rep =>
      val (c, s) = timed(writeInputs(ctx, s"input-$rep", ctx.seed, Sizes))
      (c, Seq(s))
    }
    cfg = c
    inputFileBytes = cfg.dataPaths.values
      .map(p => Files.size(java.nio.file.Paths.get(p))).sum
    SetupTimes(genS, 0.0, 0.0, 0.0)
  }

  /** A brief untraced window runs twice and reports only the second,
    * warm run: it is the baseline for the traced run that follows.
    */
  def measure(ctx: Ctx, seconds: Double, tr: Tracer,
      brief: Boolean): Measured = {
    val minRuns = if (brief && !tr.enabled) 2 else 1
    val sc = ctx.spark.sparkContext
    val times = ArrayBuffer.empty[Double]
    val bounds = ArrayBuffer.empty[Boundaries]
    val before = ctx.engine.snapshot(sc)
    (0 until minRuns).foreach { i =>
      val out = ctx.dir(s"out-${if (tr.enabled) "traced" else "plain"}-$i")
      val b = new Boundaries(tr, ctx.engine, ctx.spark)
      val s = nowNs()
      val ran = ctx.ops.attempt(s"$name run $i") {
        if (tr.enabled) tracedRun(ctx, b, out.toString)
        else Processor.writeOutputs(
          Processor.runPipeline(ctx.spark, cfg), out.toString)
      }
      if (ran.isDefined) {
        times += msSince(s)
        if (tr.enabled) bounds += b
        checkSinks(ctx, out.toString, i)
      }
      deleteTree(out)
    }
    val w = EngineListener.between(before, ctx.engine.snapshot(sc))
    val units = if (minRuns == 2) times.drop(1).toSeq else times.toSeq
    val p50S = if (units.isEmpty) 0.0 else Stats.median(units) / 1e3
    Measured(units, "pipeline runs",
      if (p50S > 0) Sizes.inputRows / p50S else 0.0, "input rows/s",
      Map("sources.input_reread_ratio" ->
        w.inputBytes.toDouble / math.max(1L, inputFileBytes * times.size)),
      if (bounds.isEmpty) Map.empty else layerTimes(bounds.toSeq))
  }

  /** Layer times from boundary spans. Each forced boundary recomputes
    * its lineage from the scan, so a layer's time is its boundary minus
    * the boundaries of its inputs.
    */
  private def layerTimes(bs: Seq[Boundaries]): Map[String, Double] = {
    def med(f: Boundaries => Double): Double = Stats.median(bs.map(f))
    val ds = Seq("fraud", "credit")
    Map(
      "sources.csv_scan_s" -> med(b =>
        b("scan/fraud") + b("scan/ipmap") + b("scan/credit")),
      "operators.clean_s" -> med(b =>
        Seq("fraud", "ipmap", "credit").map(x =>
          b(s"clean/$x") - b(s"scan/$x")).sum),
      "operators.geolocate_s" -> med(b =>
        b("geolocate/fraud") - b("clean/fraud") - b("clean/ipmap")),
      "operators.velocity_s" -> med(b =>
        b("velocity/fraud") - b("geolocate/fraud")),
      "operators.split_s" -> med(b =>
        b("split/fraud") - b("velocity/fraud") +
          b("split/credit") - b("clean/credit")),
      "ml.fit_s" -> med(b => ds.map(x => b(s"fit/$x")).sum),
      "operators.smote_s" -> med(b =>
        ds.map(x => b(s"smote/$x") - b(s"transform/$x")).sum),
      "operators.smote_shuffle_mb" -> med(b =>
        ds.map(x => b.shuffleMb(s"smote/$x") - b.shuffleMb(s"transform/$x")).sum),
      "pipeline.sink_s" -> med(b => b("sink")))
  }

  /** `Processor.runPipeline` + `writeOutputs` composed from the same
    * public calls, with each layer's output forced at its boundary.
    * Its sinks must digest equal to the untraced pipeline's.
    */
  private def tracedRun(ctx: Ctx, b: Boundaries, out: String): Unit = {
    val t = CsvSource.loadAll(ctx.spark, cfg.dataPaths)
    b.force("scan/fraud", t("fraud_data"))
    b.force("scan/ipmap", t("ip_to_country"))
    b.force("scan/credit", t("creditcard_data"))
    val fraud = Processor.cleanFraud(t("fraud_data"))
    val ipMap = Processor.cleanIpMap(t("ip_to_country"))
    val credit = Processor.cleanCreditcard(t("creditcard_data"))
    b.force("clean/fraud", fraud)
    b.force("clean/ipmap", ipMap)
    b.force("clean/credit", credit)
    val geo = RangeJoin.geolocate(fraud, ipMap)
    b.force("geolocate/fraud", geo)
    val feat = TimeFeatures.engineerFraudFeatures(geo)
    b.force("velocity/fraud", feat)
    val fraudX = feat
      .drop("signup_time", "purchase_time", "device_id", "ip_address",
        "ip_address_int")
      .withColumnRenamed("class", "label")
    val creditRenamed = credit.withColumnRenamed("Class", "label")
    val creditX = creditRenamed
      .withColumn("__row_id",
        xxhash64(creditRenamed.columns.toIndexedSeq.map(col): _*))
    val fraudPrep = prep(b, "fraud", fraudX, cfg.numericalFeatures,
      cfg.categoricalFeatures, "user_id")
    val creditPrep = prep(b, "credit", creditX,
      credit.columns.filterNot(_ == "Class").toSeq, Seq.empty, "__row_id")
    b.time("sink")(Processor.writeOutputs(
      PipelineOutputs(fraudPrep, creditPrep), out))
  }

  /** `Processor.preprocessDataset` for the "drop" + "smote" config. */
  private def prep(b: Boundaries, ds: String, df: DataFrame,
      numeric: Seq[String], categorical: Seq[String],
      idCol: String): PreppedDataset = {
    val stringified = categorical.foldLeft(df.na.drop(numeric))(
      (d, c) => d.withColumn(c, col(c).cast("string")))
    val split = Split.stratified(stringified, "label", cfg.testSize,
      cfg.randomState, Seq(col(idCol)))
    val cachedTrain = split.train.cache()
    b.force(s"split/$ds", cachedTrain, split.test)
    val fcfg = FeatureConfig(numeric, categorical)
    val (model, trainF, testF) = b.time(s"fit/$ds")(
      FeaturePipeline.fitTransform(cachedTrain, split.test, fcfg))
    val names = FeaturePipeline.featureNames(model, fcfg)
    cachedTrain.unpersist(false)
    val slim = (d: DataFrame) => d.select(
      col(idCol), col("label").cast("long").as("label"),
      vector_to_array(col("features")).as("features"))
    b.force(s"transform/$ds", slim(trainF), slim(testF))
    val train = b.time(s"smote/$ds") {
      val s = Smote.smote(slim(trainF), "label", "features", k = 5,
        seed = cfg.randomState, idCol = idCol)
      Workload.force(s)
      s
    }
    PreppedDataset(train, slim(testF), names)
  }

  /** Output checks on one run's six sinks. */
  private def checkSinks(ctx: Ctx, out: String, run: Int): Unit = {
    val ops = ctx.ops
    val read = (s: String) => ctx.spark.read.parquet(s"$out/$s")
    Seq("fraud" -> "user_id", "credit" -> "__row_id").foreach { case (ds, id) =>
      val train = read(s"${ds}_train")
      val test = read(s"${ds}_test")
      val nNames = read(s"${ds}_feature_names").count()
      val perClass = train.groupBy("label").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ops.check(s"$ds train balanced per class (run $run)")(
        perClass.size == 2 && perClass.values.toSet.size == 1)
      val testRows = test.count()
      val testPos = test.filter(col("label") === 1).count()
      ops.check(s"$ds test not resampled (run $run)")(
        testRows > 0 && test.select(id).distinct().count() == testRows &&
          testPos * 2 < testRows)
      val sizes = train.select(size(col("features")).as("n"))
        .union(test.select(size(col("features")).as("n")))
        .distinct().collect().map(_.getInt(0)).toSet
      // card: Time, V1..V28, Amount; fraud: 7 numeric features and at
      // least one slot for each of the 6 categorical columns
      val countOk = if (ds == "credit") nNames == 30 else nNames >= 13
      ops.check(s"$ds feature count (run $run)")(
        countOk && sizes == Set(nNames.toInt))
    }
    val d = Sinks.map(s => sinkDigest(read(s))).mkString("/")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(StandardCharsets.UTF_8)).take(8)
      .map(x => f"$x%02x").mkString
    println(s"[flowbench] $name sink digest (run $run): $sha")
    // the first run of a seed on a build records the digest; every later
    // run of that seed, in this process or another, must repeat it
    val known = ctx.digests.resolve(s"$name-${ctx.seed}.txt")
    if (Files.exists(known))
      ops.check(s"sink digest repeats an earlier run's (run $run)")(
        new String(Files.readAllBytes(known), StandardCharsets.UTF_8) == d)
    else {
      Files.createDirectories(known.getParent)
      Files.write(known, d.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Order-independent digest of one sink: row count and the sum of
    * its row hashes.
    */
  def sinkDigest(df: DataFrame): String = {
    val cols = df.columns.sorted.toIndexedSeq.map(col)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}
