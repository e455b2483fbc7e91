package perfbench

/** Output checks. Each takes what the engine produced (collected rows,
  * counts) and what the generator knows, recomputes the expectation with
  * [[Ref]], and returns one message per mismatch (empty = pass). */
object Checks {
  private val MaxMessages = 5

  private def report(name: String, bad: Iterable[String]): Seq[String] = {
    val all = bad.toSeq
    all.take(MaxMessages).map(m => s"$name: $m") ++
      (if (all.size > MaxMessages) Seq(s"$name: ... ${all.size - MaxMessages} more") else Nil)
  }

  def counts(name: String, actual: Long, expected: Long): Seq[String] =
    report(name, if (actual == expected) Nil else Seq(s"$actual rows, expected $expected"))

  /** Sampled ingested features: `actual` maps feature id to its WKB geom,
    * `expected` to the generated ring (lon/lat degrees). The stored
    * geometry must be a polygon with exactly that ring, reprojected to
    * EPSG:3857 when `reproject`. */
  def ingestGeometry(name: String, actual: Map[Long, Array[Byte]],
                     expected: Map[Long, Seq[(Double, Double)]], reproject: Boolean): Seq[String] =
    report(name, expected.toSeq.sortBy(_._1).flatMap { case (id, ring) =>
      actual.get(id) match {
        case None => Some(s"feature $id missing")
        case Some(null) => Some(s"feature $id has a null geometry")
        case Some(wkb) =>
          val want = if (reproject) ring.map { case (x, y) => Ref.mercator(x, y) } else ring
          val g = Ref.parseWkb(wkb)
          if (g.geomType != 3 || g.rings.size != 1) Some(s"feature $id: not a one-ring polygon")
          else if (!sameCoords(g.rings.head, want)) Some(s"feature $id: ring differs from the generated one")
          else None
      }
    })

  private def sameCoords(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((x1, y1), (x2, y2)) => Ref.close(x1, x2) && Ref.close(y1, y2) }

  /** Sampled OSM ways: `expected` holds each way's resolved vertex sequence
    * (dangling refs removed) and whether it is closed. A closed way is a
    * polygon whose ring is those vertices, closed if needed; an open way a
    * line string; too few vertices for either means a null geometry. */
  def osmWays(name: String, actual: Map[Long, Array[Byte]],
              expected: Map[Long, (Boolean, Seq[(Double, Double)])]): Seq[String] =
    report(name, expected.toSeq.sortBy(_._1).flatMap { case (id, (closed, pts)) =>
      val ring = if (closed && pts.nonEmpty && pts.head != pts.last) pts :+ pts.head else pts
      val want: Option[Ref.Wkb] =
        if (closed) (if (ring.size >= 4) Some(Ref.Wkb(3, Seq(ring))) else None)
        else if (pts.size >= 2) Some(Ref.Wkb(2, Seq(pts))) else None
      (actual.get(id), want) match {
        case (None, _) => Some(s"way $id missing")
        case (Some(null), None) => None
        case (Some(null), Some(_)) => Some(s"way $id has a null geometry")
        case (Some(_), None) => Some(s"way $id has a geometry but too few resolved vertices")
        case (Some(wkb), Some(w)) =>
          val g = Ref.parseWkb(wkb)
          if (g.geomType != w.geomType || g.rings.size != 1 || !sameCoords(g.rings.head, w.rings.head))
            Some(s"way $id: geometry differs from its resolved refs")
          else None
      }
    })

  /** One enriched entity as the pipeline emitted it. */
  final case class Enriched(url: String, entIdx: Int, lon: Double, lat: Double,
                            polyIds: Seq[Long], knn: Seq[Long], tileX: Long, tileY: Long)

  /** Sampled documents of the enrich pipeline: every entity of each sampled
    * (amplified) doc id must be present once with the mention's lon/lat,
    * exactly the containing polygons, the k nearest POIs and its tile. */
  def enrich(name: String, actual: Seq[Enriched], docIds: Seq[Long], partKeys: Array[Long],
             poiKeys: Array[Long], k: Int, z: Int): Seq[String] = {
    val diamonds = partKeys.map(Ref.diamondA)
    val byUrl = actual.groupBy(_.url)
    report(name, docIds.flatMap { d =>
      val rows = byUrl.getOrElse(Ref.pageUrl(d), Nil).sortBy(_.entIdx)
      if (rows.map(_.entIdx) != (0 until Ref.nEnts(d))) Seq(s"doc $d: entities ${rows.map(_.entIdx)}")
      else rows.flatMap { e =>
        val (x, y) = (Ref.lon(Ref.lonm(d, e.entIdx)), Ref.lat(Ref.latm(d, e.entIdx)))
        val polys = diamonds.filter(_.contains(x, y)).map(_.id).toSet
        val where = s"doc $d entity ${e.entIdx}"
        if (e.lon != x || e.lat != y) Some(s"$where: at (${e.lon}, ${e.lat}), expected ($x, $y)")
        else if (e.polyIds.size != polys.size || e.polyIds.toSet != polys) Some(s"$where: poly_ids differ")
        else if (e.knn != Ref.knn(x, y, poiKeys, k)) Some(s"$where: knn differs")
        else if (!Ref.tileXs(x, z)(e.tileX) || !Ref.tileYs(y, z)(e.tileY)) Some(s"$where: tile differs")
        else None
      }
    })
  }

  /** Sampled join output: for each probe key, the set of matched ids the
    * join emitted must equal the brute-force set, each pair exactly once. */
  def matches[K](name: String, actual: Seq[(K, Long)], expected: Map[K, Set[Long]]): Seq[String] = {
    val got = actual.groupBy(_._1).map { case (key, ps) => key -> ps.map(_._2) }
    report(name, expected.toSeq.flatMap { case (key, want) =>
      val have = got.getOrElse(key, Nil)
      if (have.size != have.toSet.size) Some(s"$key: duplicate pairs")
      else if (have.toSet != want) Some(s"$key: ${have.size} matches, expected ${want.size}")
      else None
    } ++ got.keySet.diff(expected.keySet).map(key => s"$key: not a sampled key"))
  }
}
