package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.ops.{GeoExpressions, TileAssign}
import graft.sources.Layers

/** The flagship pipeline: a `documents` copy amplified `rep`-fold by
  * `Pipeline.entitiesAmplified` (page synthesis + geo-mention extraction),
  * then the broadcast PIP probe, the kNN-3 probe and tile z8, into the noop
  * sink. No file reader, no shuffle, no table write. */
final class Enrich extends Workload {
  private var sf: String = _
  private var docOffset = 0L
  private var containing: (Column, Column) => Column = _
  private var knn: (Column, Column) => Column = _
  private var entityCount = 0L

  def generate(ctx: Ctx): (Long, Long, Long) = {
    sf = ctx.work.resolve("sf").toString
    docOffset = Gen.documents(ctx.spark, s"$sf/documents.parquet", ctx.seed, ctx.scale)
    Gen.keys(ctx.spark, s"$sf/part.parquet", "p_partkey", ctx.scale.parts)
    Gen.keys(ctx.spark, s"$sf/supplier.parquet", "s_suppkey", ctx.scale.suppliers)
    val s = ctx.scale
    entityCount = (0L until s.docs).iterator.map { i =>
      (0 until s.rep).map(r => Ref.nEnts((docOffset + i) * s.rep + r).toLong).sum
    }.sum
    (Gen.dirBytes(ctx.work.resolve("sf")), entityCount, entityCount)
  }

  private def polygons(ctx: Ctx): DataFrame = Layers.polygons(ctx.spark, sf)
  private def pois(ctx: Ctx): DataFrame = Layers.pois(ctx.spark, sf)

  private def buildIndex(ctx: Ctx): Unit = {
    containing = GeoExpressions.containingCol(ctx.spark, polygons(ctx), Pipeline.CellLevel)
    knn = GeoExpressions.knnCol(ctx.spark, pois(ctx), Pipeline.K, Pipeline.CellLevel)
  }

  private def entities(ctx: Ctx): DataFrame = Pipeline.entitiesAmplified(ctx.spark, sf, ctx.scale.rep)
  private def pipeline(ctx: Ctx): DataFrame = Pipeline.enrichPrebuilt(entities(ctx), containing, knn)

  def setup(ctx: Ctx): Unit = {
    buildIndex(ctx)
    ctx.noop(pipeline(ctx))
  }

  def ops(ctx: Ctx): Seq[Op] =
    Seq(Op("enrich", entityCount.toDouble, "features", () => pipeline(ctx), ctx.noop))

  def check(ctx: Ctx): Seq[CheckResult] = {
    val s = ctx.scale
    val out = pipeline(ctx)
    val count = out.count() + (if (ctx.plant) 1 else 0)
    // every 97th source doc, each at a spread of replicas
    val docs = (0L until s.docs by 97).map(i => (docOffset + i) * s.rep + (i % s.rep))
    val rows = out.filter(col("url").isin(docs.map(Ref.pageUrl): _*))
      .select("url", "ent_idx", "lon", "lat", "poly_ids", "knn_pois", "tile_x", "tile_y").collect()
      .map(r => Checks.Enriched(r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getSeq[Long](4), r.getSeq[Long](5), r.getLong(6), r.getLong(7)))
    val planted = if (ctx.plant && rows.nonEmpty) rows.updated(0, rows(0).copy(polyIds = rows(0).polyIds :+ -1L)) else rows
    Seq(
      CheckResult("enrich.rows", Checks.counts("enrich rows", count, entityCount)),
      CheckResult("enrich.sample", Checks.enrich("enrich sample", planted.toSeq, docs,
        (1L to s.parts).toArray, (1L to s.suppliers).toArray, Pipeline.K, Pipeline.TileZ)))
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val build = ctx.timed("index.build")(buildIndex(ctx))
    val extract = ctx.layerTime("ops.extract")(entities(ctx))
    val cached = entities(ctx).persist(StorageLevel.MEMORY_ONLY)
    try {
      cached.count()
      val scan = ctx.layerTime("spark.cached_scan")(cached)
      val pip = ctx.layerTime("ops.pip_probe")(cached.withColumn("poly_ids", containing(col("lon"), col("lat"))))
      val near = ctx.layerTime("ops.knn_probe")(cached.withColumn("knn_pois", knn(col("lon"), col("lat"))))
      val tile = ctx.layerTime("ops.tile")(TileAssign.assign(cached, Pipeline.TileZ))
      val stats = cached.select(count(lit(1)), sum(size(containing(col("lon"), col("lat"))))).head()
      Seq(
        "index.build_s" -> build,
        // the rows the two builders broadcast
        "index.polygons" -> polygons(ctx).count().toDouble,
        "index.pois" -> pois(ctx).count().toDouble,
        "ops.extract_s" -> extract,
        "spark.cached_scan_s" -> scan,
        "ops.pip_probe_s" -> (pip - scan),
        "ops.knn_probe_s" -> (near - scan),
        "ops.tile_s" -> (tile - scan),
        "enrich.features" -> stats.getLong(0).toDouble,
        "enrich.pip_hits" -> stats.getLong(1).toDouble)
    } finally cached.unpersist(blocking = true)
  }
}
