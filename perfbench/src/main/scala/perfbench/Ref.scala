package perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** Reference formulas the checks recompute outputs with. Written from the
  * data's specification (the synthetic layers' closed forms, the OSGeo
  * spherical-Mercator and slippy-tile formulas, the OGC WKB layout), never
  * by calling the engine, so a defect in the engine cannot hide itself. */
object Ref {

  // ---- synthetic page mentions (doc d, entity k): 0.05-degree lattice ----
  def nEnts(d: Long): Int = 1 + (d % 3).toInt
  private def urban(d: Long, k: Long): Boolean = (d * 7 + k * 3) % 4 == 0
  def lonm(d: Long, k: Long): Long =
    if (urban(d, k)) 4000 + (d * 13 + k * 5) % 20 else (d * 131 + k * 2347) % 7200
  def latm(d: Long, k: Long): Long =
    if (urban(d, k)) 1400 + (d * 11 + k * 7) % 20 else (d * 197 + k * 1069) % 2800
  def lon(lonm: Long): Double = lonm / 20.0 - 180.0
  def lat(latm: Long): Double = latm / 20.0 - 70.0
  def pageUrl(d: Long): String =
    "https://" + (if (d % 7 == 0) "hot.example.com" else s"d${d % 40}.example.com") + s"/page/$d"

  // ---- polygon layer A (diamonds |x-cx|+|y-cy| <= r) from part keys ----
  final case class Diamond(id: Long, cx: Double, cy: Double, r: Double) {
    def contains(x: Double, y: Double): Boolean = math.abs(x - cx) + math.abs(y - cy) <= r
    def intersects(o: Diamond): Boolean = math.abs(cx - o.cx) + math.abs(cy - o.cy) <= r + o.r
  }
  def diamondA(p: Long): Diamond =
    if (p % 10 == 0) {
      val q = p / 10
      Diamond(p, 20.0 + ((q * 7) % 20) / 20.0 + 0.025, ((q * 13) % 20) / 20.0 + 0.025, 0.1125)
    } else Diamond(p, ((p * 131) % 360) - 179.5, ((p * 37) % 140) - 69.5, 0.375 + (p % 3) * 0.05)
  /** polygon layer B from customer keys */
  def diamondB(c: Long): Diamond =
    Diamond(c, ((c * 97) % 360) - 179.5, ((c * 41) % 140) - 69.5, 1.6 + (c % 3) * 0.05)

  // ---- POI layer from supplier keys ----
  def poiX(s: Long): Double = ((s * 211) % 7200) / 20.0 - 180.0
  def poiY(s: Long): Double = ((s * 89) % 2800) / 20.0 - 70.0

  /** k nearest POIs by planar squared distance, ties by id. */
  def knn(x: Double, y: Double, poiIds: Array[Long], k: Int): Seq[Long] =
    poiIds.map { s => val dx = x - poiX(s); val dy = y - poiY(s); (dx * dx + dy * dy, s) }
      .sorted.take(k).map(_._2).toSeq

  def withinD(x: Double, y: Double, poiIds: Array[Long], d: Double): Set[Long] =
    poiIds.filter { s => val dx = x - poiX(s); val dy = y - poiY(s); dx * dx + dy * dy <= d * d }.toSet

  // ---- slippy tiles; a point within 1e-9 of a tile edge may take either side ----
  def tileXs(lon: Double, z: Int): Set[Long] = edgeTolerant((lon + 180.0) / 360.0 * (1L << z), z)
  def tileYs(lat: Double, z: Int): Set[Long] = {
    val r = lat * math.Pi / 180.0
    edgeTolerant((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * (1L << z), z)
  }
  private def edgeTolerant(v: Double, z: Int): Set[Long] =
    Set(v - 1e-9, v + 1e-9).map(t => math.max(0L, math.min((1L << z) - 1, math.floor(t).toLong)))

  // ---- EPSG:4326 -> EPSG:3857 (OSGeo spherical Mercator) ----
  val EarthRadius = 6378137.0
  def mercator(lon: Double, lat: Double): (Double, Double) =
    (EarthRadius * lon * math.Pi / 180.0,
      EarthRadius * math.log(math.tan(math.Pi / 4.0 + lat * math.Pi / 360.0)))

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ---- OGC WKB: type + the vertex sequence of every ring/line, in order ----
  final case class Wkb(geomType: Int, rings: Seq[Seq[(Double, Double)]])

  def parseWkb(bytes: Array[Byte]): Wkb = {
    val b = ByteBuffer.wrap(bytes)
    b.order(if (b.get() == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    def points(n: Int): Seq[(Double, Double)] = Seq.fill(n)((b.getDouble(), b.getDouble()))
    b.getInt() match {
      case 1 => Wkb(1, Seq(points(1)))
      case 2 => Wkb(2, Seq(points(b.getInt())))
      case 3 => Wkb(3, Seq.fill(b.getInt())(points(b.getInt())))
      case t => throw new IllegalArgumentException(s"unexpected WKB geometry type $t")
    }
  }
}
