package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Point-in-polygon and bounding-box predicates.
  *
  * The reference's spatial join assigns each outage point the first region
  * polygon containing it via ray casting (`power-outages/region-mapper.js:18-59`),
  * with a buffered point-near-polygon variant
  * (`tools/generate-tlc-localities.js:26-37`).
  *
  * One point-in-polygon path: the polygon set is small and known at plan
  * time (broadcast lookup data), so [[pointInPolygonColumn]] UNROLLS the
  * ray-cast edge loop into a Catalyst Column tree of built-in comparisons
  * — fully codegen'd, no UDF, no serialization, and no node, registry row
  * or optimizer rule of the engine's own. The tree grows about 5 terms
  * per vertex, so a ring beyond about 140 vertices would cross the ~700-
  * term 64 KB generated-method limit and run interpreted; such a ring
  * would need one `KernelCall` row over a static loop instead. The rings
  * of q18 and q61 have 5 vertices each.
  *
  * First-match-wins region assignment (SURVEY §7.3.6) is an ordered
  * `when().otherwise()` chain over the polygon list — see [[firstMatchRegion]].
  */
object GeoFunctions {

  /** Ray-cast point-in-polygon, pure Scala. Polygon = closed or open ring of
    * (lon, lat). Matches the reference's even-odd rule exactly.
    */
  def pointInPolygon(lon: Double, lat: Double, ring: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var j = ring.length - 1
    var i = 0
    while (i < ring.length) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if ((yi > lat) != (yj > lat) &&
          lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }

  /** Ray-cast unrolled into a Column tree for a plan-time-known ring:
    * `inside = XOR over edges of (straddles-latitude AND crossing-left-of-x)`.
    * Stays inside WholeStageCodegen. A horizontal edge (`yi == yj`) never
    * straddles a latitude, so it never flips the even-odd state and
    * [[pointInPolygon]]'s test skips it; the tree leaves it out rather
    * than carry a constant-false term over a division by zero.
    */
  def pointInPolygonColumn(lon: Column, lat: Column, ring: Seq[(Double, Double)]): Column = {
    val edges = ring.indices.flatMap { i =>
      val j = if (i == 0) ring.length - 1 else i - 1
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if (yi == yj) None
      else Some((lit(yi) > lat) =!= (lit(yj) > lat) &&
        lon < (lit(xj - xi) * (lat - lit(yi)) / lit(yj - yi) + lit(xi)))
    }
    require(edges.nonEmpty, s"ring needs a non-horizontal edge, got $ring")
    edges.reduce((a, b) => a =!= b) // XOR fold ≡ even-odd rule
  }

  /** First-match-wins region tag over an ordered polygon list (J1 semantics:
    * `region-mapper.js:46-56` returns the FIRST containing feature's Region).
    */
  def firstMatchRegion(lon: Column, lat: Column,
      regions: Seq[(String, Seq[(Double, Double)])]): Column =
    regions.foldRight(lit(null).cast("string")) { case ((name, ring), tail) =>
      when(pointInPolygonColumn(lon, lat, ring), lit(name)).otherwise(tail)
    }

  /** Buffered membership (F14): inside the ring OR within `buffer` degrees of
    * any vertex (`generate-tlc-localities.js:26-37` uses 0.05°).
    */
  def nearPolygon(lon: Double, lat: Double, ring: Seq[(Double, Double)],
      buffer: Double): Boolean =
    pointInPolygon(lon, lat, ring) || ring.exists { case (x, y) =>
      math.hypot(x - lon, y - lat) <= buffer
    }

  /** F1 bounding-box predicate with the reference's NZ defaults
    * (`ais-proxy/server.js:672-680`).
    */
  def inBoundingBox(lat: Column, lon: Column,
      minLat: Double = TileMath.NzMinLat, maxLat: Double = TileMath.NzMaxLat,
      minLon: Double = TileMath.NzMinLon, maxLon: Double = TileMath.NzMaxLon): Column =
    lat.between(minLat, maxLat) && lon.between(minLon, maxLon)

  /** F3 coordinate sanity (`ais-proxy/server.js:383-388`). */
  def validCoords(lat: Column, lon: Column): Column =
    abs(lat) <= 90 && abs(lon) <= 180
}
