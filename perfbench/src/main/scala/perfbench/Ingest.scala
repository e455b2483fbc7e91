package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geom.{GeoJsonDecode, Mercator, ShapeDecode, WkbCodec}
import graft.sources.{OsmPbfReader, SourceDispatch}
import graft.table.TableLog

/** The reference's whole job: bulk-load GeoJSON, Shapefile and OSM PBF into
  * a spatial table (`SourceDispatch.readDir` + `TableLog.write`). GeoJSON and
  * Shapefile are reprojected 4326 -> 3857; PBF stays 4326. */
final class Ingest extends Workload {
  private val formats = Seq("geojson", "shapefile", "osmpbf")
  private var files: Map[String, FileSet] = Map.empty
  private var pbf: PbfSet = _
  private val tables = mutable.Map.empty[String, List[Path]]
  private var tableSeq = 0

  private def dir(fmt: String): Path = if (fmt == "osmpbf") pbf.dir else files(fmt).dir
  private def bytes(fmt: String): Long = if (fmt == "osmpbf") pbf.bytes else files(fmt).bytes
  private def reproject(fmt: String): Option[Int] = if (fmt == "osmpbf") None else Some(3857)

  def generate(ctx: Ctx): (Long, Long, Long) = {
    val in = ctx.work.resolve("in")
    files = Map(
      "geojson" -> Gen.geojson(in.resolve("geojson"), ctx.seed, ctx.scale),
      "shapefile" -> Gen.shapefile(in.resolve("shapefile"), ctx.seed, ctx.scale))
    pbf = Gen.osmPbf(in.resolve("osmpbf"), ctx.seed, ctx.scale)
    (files.values.map(_.bytes).sum + pbf.bytes,
      files.values.map(_.features).sum + pbf.nodes + pbf.ways,
      files.values.map(_.vertices).sum + pbf.vertices)
  }

  private def read(ctx: Ctx, fmt: String, rep: Option[Int]): DataFrame =
    SourceDispatch.readDir(ctx.spark, dir(fmt).toString, srid = 4326, reproject = rep)

  private def newTable(ctx: Ctx, fmt: String): Path = {
    tableSeq += 1
    val t = ctx.work.resolve("tables").resolve(s"$fmt-$tableSeq")
    tables(fmt) = t :: tables.getOrElse(fmt, Nil)
    t
  }

  def ops(ctx: Ctx): Seq[Op] = formats.map { fmt =>
    Op(s"ingest.$fmt", bytes(fmt) / 1e6, "MB",
      () => read(ctx, fmt, reproject(fmt)),
      df => TableLog.write(df, newTable(ctx, fmt).toString, "fail", srid = reproject(fmt).getOrElse(4326)))
  }

  /** Keeps only the newest table of each format (the one the checks read). */
  override def afterOp(ctx: Ctx, op: Op): Unit =
    tables.keys.foreach { fmt =>
      tables(fmt).drop(1).foreach(deleteTree)
      tables(fmt) = tables(fmt).take(1)
    }

  def setup(ctx: Ctx): Unit = ops(ctx).foreach { op => op.sink(op.build()); afterOp(ctx, op) }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally st.close()
  }

  private val mapper = new ObjectMapper()

  /** (rows, parquet path) of the table's "all" bucket, read from the
    * manifest file itself. */
  private def manifest(table: Path): (Long, String) = {
    val log = table.resolve("_graft_log")
    val current = Files.readString(log.resolve("_current")).trim
    val bucket = mapper.readTree(log.resolve(current).toFile).path("buckets").path("all")
    (bucket.path("rows").asLong(-1), bucket.path("path").asText())
  }

  def check(ctx: Ctx): Seq[CheckResult] = formats.flatMap { fmt =>
    val (manifestRows, path) = manifest(tables(fmt).head)
    val data = ctx.spark.read.parquet(path)
    val expected = if (fmt == "osmpbf") pbf.expectedWays else files(fmt).features
    val plantCount = if (ctx.plant) 1 else 0
    val counts = Seq(
      CheckResult(s"$fmt.manifest_rows", Checks.counts(s"$fmt manifest", manifestRows + plantCount, expected)),
      CheckResult(s"$fmt.table_rows", Checks.counts(s"$fmt table", data.count() + plantCount, expected)))
    val geometry =
      if (fmt == "osmpbf") {
        val ids = pbf.sample.keys.map(id => s"id=$id").toSeq
        val got = data.filter(element_at(col("tags"), 1).isin(ids: _*))
          .select(element_at(col("tags"), 1), col("geom")).collect()
          .map(r => r.getString(0).stripPrefix("id=").toLong -> r.getAs[Array[Byte]](1)).toMap
        CheckResult("osmpbf.way_geometry", Checks.osmWays("osmpbf ways", Plant.swap(ctx.plant, got), pbf.sample))
      } else {
        val sample = files(fmt).sample
        val got = data.filter(col("id").cast("long").isin(sample.keys.toSeq: _*))
          .select(col("id").cast("long"), col("geom")).collect()
          .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
        CheckResult(s"$fmt.geometry",
          Checks.ingestGeometry(s"$fmt geometry", Plant.swap(ctx.plant, got), sample, reproject = true))
      }
    counts :+ geometry
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    def fullOp(fmt: String): Double = {
      val op = ops(ctx).find(_.name == s"ingest.$fmt").get
      val t = (1 to 2).map(i => ctx.timed(s"layer.ingest.$fmt", i)(op.sink(op.build()))).min
      afterOp(ctx, op)
      t
    }
    Seq("geojson", "shapefile").foreach { fmt =>
      val plain = ctx.layerTime(s"sources.read.$fmt")(read(ctx, fmt, None))
      val projected = ctx.layerTime(s"geom.reproject.$fmt")(read(ctx, fmt, Some(3857)))
      out += s"sources.read_s.$fmt" -> plain
      out += s"geom.reproject_s.$fmt" -> (projected - plain)
      out += s"table.sink_s.$fmt" -> (fullOp(fmt) - projected)
    }
    val pbfRead = ctx.layerTime("sources.read.osmpbf")(read(ctx, "osmpbf", None))
    val pbfFiles = listFiles(pbf.dir, ".pbf")
    val scans = pbfFiles.map { p =>
      ctx.layerTime("sources.osmpbf_nodes_scan")(OsmPbfReader.nodes(ctx.spark, p)) +
        ctx.layerTime("sources.osmpbf_ways_scan")(OsmPbfReader.ways(ctx.spark, p))
    }.sum
    out += "sources.read_s.osmpbf" -> pbfRead
    out += "ops.way_assembly_s" -> (pbfRead - scans)
    out += "table.sink_s.osmpbf" -> (fullOp("osmpbf") - pbfRead)
    out ++= ctx.tracer.span("geom.single_thread")(GeomTimings(ctx.seed, ctx.scale.ringVertices))
    out.toSeq
  }

  private def listFiles(d: Path, suffix: String): Seq[String] = {
    val st = Files.list(d)
    try st.iterator().asScala.map(_.toString).filter(_.endsWith(suffix)).toSeq.sorted finally st.close()
  }
}

/** Single-thread timings of the `geom` functions the readers call per
  * feature, over a generated sample of polygons (median of five rounds
  * after one warm-up round). */
object GeomTimings {
  def apply(seed: Long, vertices: Int): Seq[(String, Double)] = {
    val r = new java.util.SplittableRandom(seed)
    val rings = Seq.fill(5000)(Gen.ring(r, vertices))
    val mapper = new ObjectMapper()
    val nodes = rings.map { ring =>
      val coords = ring.map { case (x, y) => s"[$x,$y]" }.mkString(",")
      mapper.readTree(s"""{"type":"Polygon","coordinates":[[$coords]]}""")
    }
    val shapes = rings.map(ring => ShapeDecode.SPolygon(Seq(ring)))
    val geoms = nodes.map(GeoJsonDecode.decode)
    val xs = rings.flatten.map(_._1).toArray; val ys = rings.flatten.map(_._2).toArray
    var sink = 0.0
    def nsPer(n: Int)(body: => Unit): Double = {
      body
      val rounds = (1 to 5).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / n }
      rounds.sorted.apply(2)
    }
    val out = Seq(
      "geom.decode_ns_per_feature.geojson" -> nsPer(nodes.size)(nodes.foreach(n => sink += GeoJsonDecode.decode(n).getNumPoints)),
      "geom.decode_ns_per_feature.shapefile" -> nsPer(shapes.size)(shapes.foreach(s => sink += ShapeDecode.toGeometry(s).getNumPoints)),
      "geom.wkb_write_ns_per_feature" -> nsPer(geoms.size)(geoms.foreach(g => sink += WkbCodec.write(g).length)),
      "geom.mercator_ns_per_vertex" -> nsPer(xs.length) {
        var i = 0
        while (i < xs.length) { sink += Mercator.transform(xs(i), ys(i), 4326, 3857)._2; i += 1 }
      })
    require(!sink.isNaN)
    out
  }
}
