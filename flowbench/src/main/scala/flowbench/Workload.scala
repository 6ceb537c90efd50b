package flowbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload gets from the run: the session, the seed, a scratch
  * directory, failure accounting, the engine listener and a directory
  * that keeps output digests across runs of the same build.
  */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, ops: Ops,
    engine: EngineListener, digests: Path) {
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }
}

/** Set-up phases, seconds. */
final case class SetupTimes(genS: Double, indexBuildS: Double,
    modelFitS: Double, warmupS: Double) {
  def totalS: Double = genS + indexBuildS + modelFitS + warmupS
}

/** One measured window.
  *
  * @param unitMs      the flow's timed units: pipeline runs, event
  *                    latencies or triggers
  * @param throughput  useful work per second (rows, events or docs)
  * @param layers      per-layer values any run can count
  * @param spanLayers  per-layer values taken from spans (traced only)
  */
final case class Measured(unitMs: Seq[Double], unitName: String,
    throughput: Double, throughputName: String,
    layers: Map[String, Double], spanLayers: Map[String, Double])

trait Workload {
  def name: String
  /** Builds this run's inputs and fitted state and warms the engine. */
  def setup(ctx: Ctx): SetupTimes
  /** Runs the flow for about `seconds`, checking every output. A
    * `brief` window may stop after a single timed unit.
    */
  def measure(ctx: Ctx, seconds: Double, tr: Tracer, brief: Boolean): Measured
}

object Workload {
  val SetupReps = 3

  def nowNs(): Long = System.nanoTime()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times `body` in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = nowNs()
    val r = body
    (r, secsSince(t0))
  }

  /** Runs the stages of set-up `SetupReps` times from scratch and keeps
    * each stage's median seconds and the last repetition's result.
    */
  def repeated[T](f: Int => (T, Seq[Double])): (T, Seq[Double]) = {
    val runs = (0 until SetupReps).map(f)
    val medians = runs.head._2.indices.map(i =>
      Stats.median(runs.map(_._2(i))))
    (runs.last._1, medians)
  }

  /** Forces a lazy frame with a `noop` write: every row is computed
    * and nothing is kept.
    */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Boundary timings of one traced pass: each key is a layer output
    * forced (or an eager layer call) inside its own span, and its time
    * is read back from the spans this pass opened.
    */
  final class Boundaries(tr: Tracer, engine: EngineListener,
      spark: SparkSession) {
    private val startNs = nowNs()
    val shuffleMb: mutable.Map[String, Double] = mutable.Map.empty

    def time[T](key: String)(body: => T): T = {
      val before = engine.snapshot(spark.sparkContext)
      val r = tr.span(key)(body)
      val after = engine.snapshot(spark.sparkContext)
      shuffleMb(key) = shuffleMb.getOrElse(key, 0.0) +
        (after.shuffleWriteBytes - before.shuffleWriteBytes) / 1e6
      r
    }

    def force(key: String, dfs: DataFrame*): Unit =
      time(key)(dfs.foreach(Workload.force))

    /** Seconds spent in `key`'s spans since this pass began. */
    def apply(key: String): Double =
      tr.named(key).filter(_.startNs >= startNs).map(_.durNs).sum / 1e9
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}
