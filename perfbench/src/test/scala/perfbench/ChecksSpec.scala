package perfbench

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

/** Every check accepts a right output and rejects each planted defect. */
class ChecksSpec extends AnyFunSuite {

  private def wkb(geomType: Int, rings: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val b = ByteBuffer.allocate(9 + 4 * rings.size + 16 * rings.map(_.size).sum).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(geomType)
    if (geomType == 3) b.putInt(rings.size)
    rings.foreach { r => b.putInt(r.size); r.foreach { case (x, y) => b.putDouble(x).putDouble(y) } }
    b.array()
  }

  test("counts") {
    assert(Checks.counts("c", 10, 10).isEmpty)
    assert(Checks.counts("c", 11, 10).nonEmpty)
  }

  test("ingested geometry: reprojected ring, missing, moved and swapped features") {
    val rings = Map(1L -> Seq((10.0, 20.0), (10.5, 20.0), (10.5, 19.5), (10.0, 20.0)),
      2L -> Seq((-3.0, 4.0), (-2.0, 4.0), (-2.0, 3.0), (-3.0, 4.0)))
    def stored(r: Seq[(Double, Double)]) = wkb(3, Seq(r.map { case (x, y) => Ref.mercator(x, y) }))
    val good = rings.map { case (id, r) => id -> stored(r) }
    assert(Checks.ingestGeometry("g", good, rings, reproject = true).isEmpty)
    assert(Checks.ingestGeometry("g", good, rings, reproject = false).nonEmpty)
    assert(Checks.ingestGeometry("g", good - 2L, rings, reproject = true).nonEmpty)
    assert(Checks.ingestGeometry("g", Plant.swap(on = true, good), rings, reproject = true).nonEmpty)
    val moved = stored(rings(1L).updated(1, (10.5000001, 20.0)))
    assert(Checks.ingestGeometry("g", good + (1L -> moved), rings, reproject = true).nonEmpty)
    assert(Checks.ingestGeometry("g", good + (1L -> wkb(2, Seq(rings(1L)))), rings, reproject = true).nonEmpty)
  }

  test("OSM ways: closed, open and under-resolved ways") {
    val tri = Seq((1.0, 1.0), (2.0, 1.0), (2.0, 2.0))
    val expected = Map(
      10L -> (true, tri), // ring closes itself
      11L -> (false, tri),
      12L -> (false, Seq((5.0, 5.0)))) // one vertex: no geometry
    val good = Map(10L -> wkb(3, Seq(tri :+ tri.head)), 11L -> wkb(2, Seq(tri)), 12L -> null)
    assert(Checks.osmWays("w", good, expected).isEmpty)
    assert(Checks.osmWays("w", good + (10L -> wkb(2, Seq(tri))), expected).nonEmpty)
    assert(Checks.osmWays("w", good + (11L -> null), expected).nonEmpty)
    assert(Checks.osmWays("w", good + (12L -> wkb(2, Seq(tri))), expected).nonEmpty)
    assert(Checks.osmWays("w", good - 11L, expected).nonEmpty)
    assert(Checks.osmWays("w", good + (11L -> wkb(2, Seq(tri.reverse))), expected).nonEmpty)
  }

  test("enrich sample: coordinates, polygons, kNN, tile and entity set") {
    val parts = (1L to 20000L).toArray
    val pois = (1L to 50L).toArray
    val diamonds = parts.map(Ref.diamondA)
    def at(d: Long, k: Int) = (Ref.lon(Ref.lonm(d, k)), Ref.lat(Ref.latm(d, k)))
    // the first doc whose first entity lies inside some polygon, and one more
    val inside = (1L to 10000L).find { d => val (x, y) = at(d, 0); diamonds.exists(_.contains(x, y)) }.get
    val docs = Seq(inside, inside + 1)
    val good = docs.flatMap { d =>
      (0 until Ref.nEnts(d)).map { k =>
        val (x, y) = at(d, k)
        Checks.Enriched(Ref.pageUrl(d), k, x, y, diamonds.filter(_.contains(x, y)).map(_.id).toSeq,
          Ref.knn(x, y, pois, 3), Ref.tileXs(x, 8).head, Ref.tileYs(y, 8).head)
      }
    }
    assert(good.head.polyIds.nonEmpty)
    def check(rows: Seq[Checks.Enriched]) = Checks.enrich("e", rows, docs, parts, pois, 3, 8)
    assert(check(good).isEmpty)
    val e = good.head
    assert(check(good.updated(0, e.copy(polyIds = e.polyIds :+ -1L))).nonEmpty)
    assert(check(good.updated(0, e.copy(polyIds = e.polyIds.drop(1)))).nonEmpty)
    assert(check(good.updated(0, e.copy(knn = e.knn.reverse))).nonEmpty)
    assert(check(good.updated(0, e.copy(tileX = e.tileX + 1))).nonEmpty)
    assert(check(good.updated(0, e.copy(lat = e.lat + 0.05))).nonEmpty)
    assert(check(good.tail).nonEmpty)
    assert(check(good :+ e).nonEmpty)
  }

  test("join matches: extra, missing, duplicate and stray pairs") {
    val want = Map("a" -> Set(1L, 2L), "b" -> Set.empty[Long])
    val good = Seq("a" -> 1L, "a" -> 2L)
    assert(Checks.matches("m", good, want).isEmpty)
    assert(Checks.matches("m", Plant.extraPair(on = true, good), want).nonEmpty)
    assert(Checks.matches("m", good.take(1), want).nonEmpty)
    assert(Checks.matches("m", good :+ ("a" -> 2L), want).nonEmpty)
    assert(Checks.matches("m", good :+ ("b" -> 7L), want).nonEmpty)
    assert(Checks.matches("m", good :+ ("c" -> 7L), want).nonEmpty)
  }

  test("reference formulas: Mercator and tiles against known values") {
    val (x, y) = Ref.mercator(180.0, 0.0)
    assert(math.abs(x - 20037508.342789244) < 1e-6 && math.abs(y) < 1e-6)
    assert(Ref.tileXs(0.0, 1) == Set(0L, 1L)) // on the edge: either side
    assert(Ref.tileXs(-179.9, 8) == Set(0L))
    assert(Ref.tileYs(85.0, 8) == Set(0L))
  }
}
