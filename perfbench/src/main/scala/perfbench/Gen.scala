package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.Deflater
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Input sizes of one run. `full` is what the benchmark measures; `tiny`
  * exercises the same code paths in seconds (the benchmark's own tests). */
final case class Scale(
    geojsonFiles: Int, geojsonFeatures: Int, shpFiles: Int, shpFeatures: Int, ringVertices: Int,
    pbfFiles: Int, pbfNodes: Int, pbfWays: Int,
    docs: Int, rep: Int, parts: Int, suppliers: Int,
    points: Int, joinParts: Int, joinSuppliers: Int, customers: Int)

object Scale {
  // geojson/shapefile: 3 files per core, since the file is the parallel unit
  def full(cores: Int): Scale = Scale(
    geojsonFiles = 3 * cores, geojsonFeatures = 16000 / cores, shpFiles = 3 * cores,
    shpFeatures = 40000 / cores, ringVertices = 25,
    pbfFiles = 1, pbfNodes = 400000, pbfWays = 64000,
    docs = 5000, rep = 56, parts = 20000, suppliers = 1000,
    points = 200000, joinParts = 8000, joinSuppliers = 300000, customers = 8000)
  val tiny: Scale = Scale(
    geojsonFiles = 3, geojsonFeatures = 40, shpFiles = 3, shpFeatures = 40, ringVertices = 7,
    pbfFiles = 2, pbfNodes = 500, pbfWays = 120,
    docs = 60, rep = 3, parts = 400, suppliers = 50,
    points = 600, joinParts = 400, joinSuppliers = 200, customers = 100)
}

/** What the generator wrote, with the facts the checks compare against. */
final case class FileSet(dir: Path, bytes: Long, features: Long, vertices: Long,
                         sample: Map[Long, Seq[(Double, Double)]])
final case class PbfSet(dir: Path, bytes: Long, nodes: Long, ways: Long, vertices: Long,
                        expectedWays: Long, sample: Map[Long, (Boolean, Seq[(Double, Double)])])

/** Seeded input generators. Same seed, same bytes; the engine's readers are
  * never called here. */
object Gen {
  val SampleSize = 200

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Clockwise (ESRI outer) star-shaped ring of `n` distinct vertices, closed. */
  private[perfbench] def ring(r: SplittableRandom, n: Int): Seq[(Double, Double)] = {
    val cx = r.nextDouble(-170.0, 170.0); val cy = r.nextDouble(-75.0, 75.0)
    val rad = r.nextDouble(0.02, 0.4)
    val pts = (0 until n).map { i =>
      val a = -2 * math.Pi * i / n
      val s = rad * r.nextDouble(0.6, 1.0)
      (cx + s * math.cos(a), cy + s * math.sin(a))
    }
    pts :+ pts.head
  }

  private def sampled(id: Long, total: Long): Boolean = id % math.max(1L, total / SampleSize) == 0

  private def parallelFiles(n: Int)(write: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => write(i))

  private val kinds = Array("road", "park", "water", "building")

  def geojson(dir: Path, seed: Long, s: Scale): FileSet = {
    Files.createDirectories(dir)
    val total = s.geojsonFiles.toLong * s.geojsonFeatures
    val sample = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Double, Double)]]()
    parallelFiles(s.geojsonFiles) { f =>
      val r = rng(seed, 1000 + f)
      val sb = new java.lang.StringBuilder(s.geojsonFeatures * s.ringVertices * 44)
      sb.append("""{"type":"FeatureCollection","features":[""")
      for (i <- 0 until s.geojsonFeatures) {
        val id = f.toLong * s.geojsonFeatures + i
        val pts = ring(r, s.ringVertices)
        if (sampled(id, total)) sample.put(id, pts)
        if (i > 0) sb.append(',')
        sb.append("""{"type":"Feature","properties":{"id":""").append(id)
          .append(""","name":"feature-""").append(id)
          .append("""","kind":"""").append(kinds(r.nextInt(kinds.length)))
          .append("""","rank":""").append(r.nextDouble())
          .append(""","open":""").append(r.nextBoolean())
          .append("""},"geometry":{"type":"Polygon","coordinates":[[""")
        pts.zipWithIndex.foreach { case ((x, y), k) =>
          if (k > 0) sb.append(',')
          sb.append('[').append(x).append(',').append(y).append(']')
        }
        sb.append("]]}}")
      }
      sb.append("]}")
      Files.writeString(dir.resolve(f"part$f%03d.geojson"), sb)
    }
    FileSet(dir, dirBytes(dir), total, total * (s.ringVertices + 1), mapOf(sample))
  }

  def shapefile(dir: Path, seed: Long, s: Scale): FileSet = {
    Files.createDirectories(dir)
    val total = s.shpFiles.toLong * s.shpFeatures
    val sample = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Double, Double)]]()
    parallelFiles(s.shpFiles) { f =>
      val r = rng(seed, 2000 + f)
      val feats = (0 until s.shpFeatures).map { i =>
        val id = f.toLong * s.shpFeatures + i
        val pts = ring(r, s.ringVertices)
        if (sampled(id, total)) sample.put(id, pts)
        (pts, Seq(id.toString, s"feature-$id", kinds(r.nextInt(kinds.length)), f"${r.nextDouble()}%.6f"))
      }
      val base = dir.resolve(f"part$f%03d").toString
      graft.FixtureWriters.writePolygonShp(base + ".shp", feats.map(_._1))
      graft.FixtureWriters.writeDbf(base + ".dbf",
        Seq(("id", 'N', 12), ("name", 'C', 20), ("kind", 'C', 8), ("rank", 'N', 10)), feats.map(_._2))
    }
    FileSet(dir, dirBytes(dir), total, total * (s.ringVertices + 1), mapOf(sample))
  }

  /** OSM PBF files of dense nodes plus ways. Each way references a run of
    * nearby nodes; one in ten refs dangles, one way in fifty dangles
    * entirely (so it is dropped), one in three is closed into a polygon.
    * The first tag of way w is `id=<w>`, which the checks key on. */
  def osmPbf(dir: Path, seed: Long, s: Scale): PbfSet = {
    Files.createDirectories(dir)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Map[Long, (Boolean, Seq[(Double, Double)])])]()
    parallelFiles(s.pbfFiles) { f =>
      val r = rng(seed, 3000 + f)
      val base = (f + 1).toLong * 100000000L
      val lat = new Array[Long](s.pbfNodes); val lon = new Array[Long](s.pbfNodes)
      var la = r.nextLong(-700000000L, 700000000L); var lo = r.nextLong(-1700000000L, 1700000000L)
      for (i <- 0 until s.pbfNodes) {
        la = math.max(-800000000L, math.min(800000000L, la + r.nextLong(-20000L, 20001L)))
        lo = math.max(-1790000000L, math.min(1790000000L, lo + r.nextLong(-20000L, 20001L)))
        lat(i) = la; lon(i) = lo
      }
      def coord(i: Int): (Double, Double) = (1e-9 * (100L * lon(i)), 1e-9 * (100L * lat(i)))
      var vertices = 0L; var resolvedWays = 0L
      val sample = mutable.Map.empty[Long, (Boolean, Seq[(Double, Double)])]
      val ways = (0 until s.pbfWays).map { j =>
        val id = base + j
        val n = 3 + r.nextInt(10)
        val start = r.nextInt(s.pbfNodes - 40)
        val allDangle = r.nextInt(50) == 0
        val idx = (0 until n).scanLeft(start)((a, _) => a + 1 + r.nextInt(3)).take(n)
        // dangling ids are unique, so only `closed` ways repeat their first ref
        val refs = idx.zipWithIndex.map { case (i, k) =>
          if (allDangle || r.nextInt(10) == 0) Left(base + s.pbfNodes + 1 + 16L * j + k) else Right(i)
        }
        val closed = r.nextInt(3) == 0
        val all = if (closed) refs :+ refs.head else refs
        val resolved = all.collect { case Right(i) => coord(i) }
        vertices += resolved.size
        if (resolved.nonEmpty) resolvedWays += 1
        if (resolved.nonEmpty && sampled(j, s.pbfWays)) sample(id) = (closed, resolved)
        val ids = all.map { case Left(missing) => missing; case Right(i) => base + 1 + i }
        (id, ids, Seq("id" -> id.toString, "highway" -> kinds(r.nextInt(kinds.length))))
      }
      Files.write(dir.resolve(f"part$f%03d.osm.pbf"), Pbf.file(base, lat, lon, ways))
      results.put(f, (vertices, resolvedWays, sample.toMap))
    }
    val parts = (0 until s.pbfFiles).map(results.get)
    PbfSet(dir, dirBytes(dir), s.pbfFiles.toLong * s.pbfNodes, s.pbfFiles.toLong * s.pbfWays,
      parts.map(_._1).sum, parts.map(_._2).sum, parts.flatMap(_._3).toMap)
  }

  private val words = ("spark line column order small sort fast value scan hash slow group batch agg " +
    "filter query a big key window row part table stream merge data the join vector customer city " +
    "river road park street station bridge north south").split(' ')
  private val langs = Array("en", "en", "zh", "es", "fr", "de")

  /** Documents table (doc_id, text, lang, source, n_chars) whose ids start at
    * a seed-derived offset; the pipeline amplifies it `rep`-fold. */
  def documents(spark: SparkSession, path: String, seed: Long, s: Scale): Long = {
    val offset = 1000L * (1 + Math.floorMod(seed, 10000L))
    val r = rng(seed, 4000)
    val rows = (0 until s.docs).map { i =>
      val text = Seq.fill(8 + r.nextInt(60))(words(r.nextInt(words.length))).mkString(" ")
      (offset + i, text, langs(r.nextInt(langs.length)), s"src${i % 10}", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1).write.parquet(path)
    offset
  }

  /** Key-only dimension table (`part`, `supplier`, `customer`): the layers
    * derive every coordinate from the key. */
  def keys(spark: SparkSession, path: String, column: String, n: Int): Unit =
    spark.range(1, n + 1L).select(col("id").as(column)).coalesce(1).write.parquet(path)

  /** Point table (url, ent_idx, lonm, latm, lon, lat) on the 0.05-degree
    * lattice, drawn from seeded hashes of the row id; a quarter of the
    * points fall in the urban square (lon 20..21, lat 0..1), one level-6
    * cell. Returns the sampled points' (url, lon, lat). */
  def points(spark: SparkSession, path: String, seed: Long, s: Scale): Seq[(String, Double, Double)] = {
    def draw(stream: Int, n: Long) = pmod(xxhash64(lit(seed), lit(stream), col("id")), lit(n))
    val urban = draw(0, 4) === 0
    val pts = spark.range(0, s.points, 1, spark.sparkContext.defaultParallelism).select(
      concat(lit(s"pt-$seed-"), col("id").cast("string")).as("url"),
      lit(0).as("ent_idx"),
      when(urban, lit(4000L) + draw(1, 20)).otherwise(draw(1, 7200)).as("lonm"),
      when(urban, lit(1400L) + draw(2, 20)).otherwise(draw(2, 2800)).as("latm"),
      col("id"))
      .withColumn("lon", col("lonm") / 20.0 - 180.0)
      .withColumn("lat", col("latm") / 20.0 - 70.0)
    pts.drop("id").write.parquet(path)
    val step = math.max(1L, s.points / SampleSize)
    spark.read.parquet(path).filter(element_at(split(col("url"), "-"), -1).cast("long") % step === 0)
      .select("url", "lonm", "latm").collect()
      .map(r => (r.getString(0), Ref.lon(r.getLong(1)), Ref.lat(r.getLong(2)))).toSeq
  }

  def dirBytes(dir: Path): Long = {
    val st = Files.walk(dir)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
  }

  private def mapOf[V](m: java.util.concurrent.ConcurrentHashMap[Long, V]): Map[Long, V] = {
    import scala.jdk.CollectionConverters._
    m.asScala.toMap
  }
}

/** Minimal OSM PBF writer (OSMPBF fileblock framing, zlib blobs, dense
  * nodes, delta-coded way refs) per the public format description. */
object Pbf {
  private val BlockSize = 8000

  private final class Out {
    val bos = new ByteArrayOutputStream()
    def varint(v0: Long): Out = {
      var v = v0
      while ((v & ~0x7fL) != 0) { bos.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      bos.write(v.toInt); this
    }
    def int(field: Int, v: Long): Out = { varint((field.toLong << 3) | 0); varint(v) }
    def bytes(field: Int, b: Array[Byte]): Out = {
      varint((field.toLong << 3) | 2); varint(b.length); bos.write(b); this
    }
    def packed(field: Int, vs: Iterable[Long]): Out = {
      val p = new Out; vs.foreach(p.varint); bytes(field, p.bos.toByteArray)
    }
    def toBytes: Array[Byte] = bos.toByteArray
  }
  private def zig(n: Long): Long = (n << 1) ^ (n >> 63)
  private def deltas(vs: Seq[Long]): Seq[Long] =
    vs.indices.map(i => zig(if (i == 0) vs(0) else vs(i) - vs(i - 1)))

  private def blob(kind: String, raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val z = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    val body = new Out().int(2, raw.length).bytes(3, z.toByteArray).toBytes
    val header = new Out().bytes(1, kind.getBytes("UTF-8")).int(3, body.length).toBytes
    val out = java.nio.ByteBuffer.allocate(4 + header.length + body.length)
    out.putInt(header.length).put(header).put(body)
    out.array()
  }

  private def block(strings: Seq[String], group: Array[Byte]): Array[Byte] = {
    val st = new Out()
    strings.foreach(s => st.bytes(1, s.getBytes("UTF-8")))
    new Out().bytes(1, st.toBytes).bytes(2, group).int(17, 100).toBytes
  }

  /** Nodes `base+1..base+n` at raw (granularity 100) lat/lon; ways as
    * (id, refs, tags). */
  def file(base: Long, lat: Array[Long], lon: Array[Long],
           ways: Seq[(Long, Seq[Long], Seq[(String, String)])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(blob("OSMHeader", new Out().bytes(4, "DenseNodes".getBytes("UTF-8")).toBytes))
    lat.indices.grouped(BlockSize).foreach { is =>
      val dense = new Out()
        .packed(1, deltas(is.map(i => base + 1 + i)))
        .packed(8, deltas(is.map(lat(_))))
        .packed(9, deltas(is.map(lon(_))))
      out.write(blob("OSMData", block(Seq(""), new Out().bytes(2, dense.toBytes).toBytes)))
    }
    ways.grouped(BlockSize).foreach { ws =>
      val strings = ("" +: ws.flatMap(_._3.flatMap { case (k, v) => Seq(k, v) }).distinct).toIndexedSeq
      val index = strings.zipWithIndex.toMap
      val group = new Out()
      ws.foreach { case (id, refs, tags) =>
        val way = new Out().int(1, id)
          .packed(2, tags.map(t => index(t._1).toLong))
          .packed(3, tags.map(t => index(t._2).toLong))
          .packed(8, deltas(refs))
        group.bytes(3, way.toBytes)
      }
      out.write(blob("OSMData", block(strings, group.toBytes)))
    }
    out.toByteArray
  }
}
