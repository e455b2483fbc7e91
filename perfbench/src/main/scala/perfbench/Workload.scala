package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` is the public engine call that constructs
  * the result (it may run jobs of its own, e.g. an index collect), `sink`
  * executes it. `units` is the work one execution does, in `unit`. */
final case class Op(name: String, units: Double, unit: String,
                    build: () => DataFrame, sink: DataFrame => Unit)

/** Everything a workload's code needs during a run. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val scale: Scale,
                val tracer: Tracer, val plant: Boolean) {

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Wall seconds of `body`, inside a span named `name`. */
  def timed(name: String, iteration: Int = 0)(body: => Unit): Double =
    tracer.span(name, iteration) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  /** Best of two runs of `df` into the noop sink: per-layer differences
    * are taken between these, so each side gets a second chance at a
    * quiet machine. */
  def layerTime(name: String)(df: => DataFrame): Double =
    (1 to 2).map(i => timed(name, i)(noop(df))).min
}

/** A named check's outcome: one message per mismatch. */
final case class CheckResult(name: String, failures: Seq[String])

trait Workload {
  /** Writes the seeded inputs under `ctx.work`; returns (bytes, features, vertices). */
  def generate(ctx: Ctx): (Long, Long, Long)
  /** Set-up a user pays once per session: index build, warm-up pass. */
  def setup(ctx: Ctx): Unit
  def ops(ctx: Ctx): Seq[Op]
  /** Called after every op; lets ingest drop the table it wrote. */
  def afterOp(ctx: Ctx, op: Op): Unit = ()
  def check(ctx: Ctx): Seq[CheckResult]
  /** Traced per-layer measurements (seconds, counts, ratios) by metric name. */
  def layers(ctx: Ctx): Seq[(String, Double)]
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "ingest" -> (() => new Ingest),
    "enrich" -> (() => new Enrich),
    "spatial_join" -> (() => new SpatialJoin))
}
