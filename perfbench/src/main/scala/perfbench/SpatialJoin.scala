package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ops.{DistanceJoin, GeoExpressions, OverlayJoin, PipJoin}
import graft.sources.Layers

/** A skewed point table (a quarter of the points in one level-6 cell),
  * written to parquet before timing, joined three ways: salted shuffle PIP
  * (with its hot-cell sketch) against the polygon layer, a distance join
  * against POIs, and a polygon x polygon overlay. Exchange, skew handling
  * and construction-time driver actions do the work here. */
final class SpatialJoin extends Workload {
  /** dwithin radius; tie-free on the 0.05-degree lattice (0.73^2 / 0.0025 = 213.16) */
  val D = 0.73
  val OverlayLevel = 8
  private var sf: String = _
  private var samplePoints: Seq[(String, Double, Double)] = Nil

  def generate(ctx: Ctx): (Long, Long, Long) = {
    val s = ctx.scale
    sf = ctx.work.resolve("sf").toString
    samplePoints = Gen.points(ctx.spark, s"$sf/points.parquet", ctx.seed, s)
    Gen.keys(ctx.spark, s"$sf/part.parquet", "p_partkey", s.joinParts)
    Gen.keys(ctx.spark, s"$sf/supplier.parquet", "s_suppkey", s.joinSuppliers)
    Gen.keys(ctx.spark, s"$sf/customer.parquet", "c_custkey", s.customers)
    val features = s.points.toLong + s.joinParts + s.joinSuppliers + s.customers
    (Gen.dirBytes(ctx.work.resolve("sf")), features, s.points.toLong + 4L * (s.joinParts + s.customers) + s.joinSuppliers)
  }

  private def points(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"$sf/points.parquet")
  private def polygons(ctx: Ctx): DataFrame = Layers.polygons(ctx.spark, sf)
  private def pois(ctx: Ctx): DataFrame = Layers.pois(ctx.spark, sf).select("poi_id", "px", "py")

  private def pip(ctx: Ctx, hot: Option[Seq[Long]] = None): DataFrame =
    PipJoin.shuffleJoin(ctx.spark, points(ctx), polygons(ctx), Pipeline.ShuffleCellLevel, hotCells = hot)
  private def dwithin(ctx: Ctx): DataFrame =
    DistanceJoin.dwithin(points(ctx).select("url", "lon", "lat"), "lon", "lat", pois(ctx), "px", "py", D)
  private def overlay(ctx: Ctx): DataFrame =
    OverlayJoin.intersectsJoin(polygons(ctx), "poly_id",
      Layers.polygonsB(ctx.spark, sf), "polyb_id", OverlayLevel)

  def ops(ctx: Ctx): Seq[Op] = {
    val s = ctx.scale
    Seq(
      Op("join.pip", s.points, "points", () => pip(ctx), ctx.noop),
      Op("join.dwithin", s.points, "points", () => dwithin(ctx), ctx.noop),
      Op("join.overlay", s.joinParts + s.customers, "polygons", () => overlay(ctx), ctx.noop))
  }

  def setup(ctx: Ctx): Unit = ops(ctx).foreach(op => op.sink(op.build()))

  def check(ctx: Ctx): Seq[CheckResult] = {
    val s = ctx.scale
    val urls = samplePoints.map(_._1)
    val diamonds = (1L to s.joinParts).map(Ref.diamondA)
    val poiKeys = (1L to s.joinSuppliers).toArray
    val pipWant = samplePoints.map { case (u, x, y) => u -> diamonds.filter(_.contains(x, y)).map(_.id).toSet }.toMap
    val dwWant = samplePoints.map { case (u, x, y) => u -> Ref.withinD(x, y, poiKeys, D) }.toMap
    val aIds = (1L to s.joinParts by math.max(1L, s.joinParts / Gen.SampleSize)).toSeq
    val bs = (1L to s.customers).map(Ref.diamondB)
    val ovWant = aIds.map(a => a -> bs.filter(_.intersects(Ref.diamondA(a))).map(_.id).toSet).toMap
    def pairs[K](df: DataFrame, key: String, k: org.apache.spark.sql.Row => K, v: String, keys: Seq[Any]) =
      Plant.extraPair(ctx.plant,
        df.filter(col(key).isin(keys: _*)).select(col(key), col(v)).collect().map(r => k(r) -> r.getLong(1)).toSeq)
    Seq(
      CheckResult("join.pip", Checks.matches("pip pairs", pairs(pip(ctx), "url", _.getString(0), "poly_id", urls), pipWant)),
      CheckResult("join.dwithin", Checks.matches("dwithin pairs", pairs(dwithin(ctx), "url", _.getString(0), "poi_id", urls), dwWant)),
      CheckResult("join.overlay", Checks.matches("overlay pairs", pairs(overlay(ctx), "a_id", _.getLong(0), "b_id", aIds), ovWant)))
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val level = Pipeline.ShuffleCellLevel
    val cells = points(ctx).withColumn("cell", PipJoin.pointCellKey(col("lon"), col("lat"), level))
    var hot: Seq[Long] = Nil
    val sketch = (1 to 2).map(i => ctx.timed("ops.hot_cells", i) {
      hot = PipJoin.sketchHotCells(cells.sample(0.05, 42))
    }).min
    val shuffle = ctx.layerTime("ops.pip_shuffle")(pip(ctx, Some(hot)))
    val cover = polygons(ctx).select(explode(GeoExpressions.coverCells(col("geom"), level)).as("cell"))
    val candidates = ctx.tracer.span("ops.pip_candidates")(cells.join(cover, "cell").count())
    val hits = pip(ctx, Some(hot)).count()
    val dw = ctx.layerTime("ops.dwithin")(dwithin(ctx))
    val ov = ctx.layerTime("ops.overlay")(overlay(ctx))
    Seq(
      "ops.hot_cells_s" -> sketch,
      "ops.hot_cells" -> hot.size.toDouble,
      "ops.pip_shuffle_s" -> shuffle,
      "ops.pip_candidates" -> candidates.toDouble,
      "ops.pip_hits" -> hits.toDouble,
      "ops.pip_refine_hit_ratio" -> hits.toDouble / math.max(1L, candidates),
      "ops.dwithin_s" -> dw,
      "ops.dwithin_pairs" -> dwithin(ctx).count().toDouble,
      "ops.overlay_s" -> ov,
      "ops.overlay_pairs" -> overlay(ctx).count().toDouble)
  }
}
