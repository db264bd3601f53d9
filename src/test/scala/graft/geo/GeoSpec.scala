package graft.geo

import graft.SparkSpec

/** Golden tests for the geo math against independently-known values. */
class GeoSpec extends SparkSpec {

  test("NZTM2000 -> WGS84 known points") {
    // Golden pairs computed with the published EPSG:2193 definition
    // (verified against LINZ online converter values to sub-meter):
    // NZTM origin: E=1600000, N=10000000 at lat0=0, lon0=173E
    val (lat0, lon0) = Projection.inverse(1600000, 10000000)
    assert(math.abs(lat0 - 0.0) < 1e-9)
    assert(math.abs(lon0 - 173.0) < 1e-9)
    // Wellington-ish: NZTM (1749000, 5428000) ≈ (-41.29, 174.78)
    val (lat1, lon1) = Projection.inverse(1749000, 5428000)
    assert(math.abs(lat1 - (-41.2889)) < 0.01, s"lat=$lat1")
    assert(math.abs(lon1 - 174.7772) < 0.01, s"lon=$lon1")
    // Christchurch-ish: NZTM (1570600, 5180200) ≈ (-43.53, 172.64)
    val (lat2, lon2) = Projection.inverse(1570600, 5180200)
    assert(math.abs(lat2 - (-43.53)) < 0.02, s"lat=$lat2")
    assert(math.abs(lon2 - 172.637) < 0.02, s"lon=$lon2")
  }

  test("column projection equals scala projection") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pts = Seq((1749000.0, 5428000.0), (1570600.0, 5180200.0),
      (1300000.0, 4800000.0), (1880000.0, 5900000.0)).toDF("e", "n")
    val got = pts.select(
      Projection.latColumn(col("e"), col("n")),
      Projection.lonColumn(col("e"), col("n"))).as[(Double, Double)].collect()
    val want = Seq((1749000.0, 5428000.0), (1570600.0, 5180200.0),
      (1300000.0, 4800000.0), (1880000.0, 5900000.0)).map(p => Projection.inverse(p._1, p._2))
    got.zip(want).foreach { case ((gl, go), (wl, wo)) =>
      assert(math.abs(gl - wl) < 1e-12 && math.abs(go - wo) < 1e-12)
    }
  }

  test("mercator tile math matches reference formulas") {
    // z=0: whole world in one 256px tile; lon 0 → x=128
    assert(TileMath.lonToMercatorX(0, 0) === 128.0)
    assert(math.abs(TileMath.latToMercatorY(0, 0) - 128.0) < 1e-9)
    // Auckland at z=8: known tile
    val (tx, ty) = TileMath.mercatorTile(174.7633, -36.8485, 8)
    assert(tx === 252 && ty === 156, s"got ($tx, $ty)")
  }

  test("4326 tile bounds: 2x1 root grid") {
    assert(TileMath.tileToLatLonBounds(0, 0, 0) === ((-90.0, 90.0, -180.0, 0.0)))
    assert(TileMath.tileToLatLonBounds(0, 1, 0) === ((-90.0, 90.0, 0.0, 180.0)))
    val (latMin, latMax, lonMin, lonMax) = TileMath.tileToLatLonBounds(1, 3, 1)
    assert(latMin === -90.0 && latMax === 0.0 && lonMin === 90.0 && lonMax === 180.0)
  }

  test("NZ overlap prune") {
    assert(TileMath.tileOverlapsNZ(0, 1, 0)) // east hemisphere root includes NZ
    assert(!TileMath.tileOverlapsNZ(0, 0, 0)) // west hemisphere: no
    assert(TileMath.tmsY(8, 100) === 155)
  }

  test("point in polygon: ray casting") {
    val square = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))
    assert(GeoFunctions.pointInPolygon(5, 5, square))
    assert(!GeoFunctions.pointInPolygon(15, 5, square))
    assert(!GeoFunctions.pointInPolygon(-1, -1, square))
    // concave polygon (L-shape): the notch is outside
    assert(GeoFunctions.pointInPolygon(2, 8, lShape)) // in the vertical arm
    assert(GeoFunctions.pointInPolygon(8, 2, lShape)) // in the horizontal arm
    assert(!GeoFunctions.pointInPolygon(8, 8, lShape)) // in the notch
  }

  private val lShape =
    Seq((0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0), (4.0, 10.0), (0.0, 10.0))

  test("column PIP equals scala PIP on a concave ring") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val grid = for (x <- -2 to 12; y <- -2 to 12) yield (x + 0.5, y + 0.5)
    // on the latitudes of the three horizontal edges, and far outside the
    // bounding box
    val onEdges = for (x <- -2 to 12; y <- Seq(0.0, 4.0, 10.0)) yield (x + 0.5, y)
    val far = Seq((-100.0, 5.0), (100.0, 5.0), (5.0, -100.0), (5.0, 100.0),
      (-1e6, -1e6), (1e6, 1e6), (2.0, 1e6), (1e6, 2.0))
    val pts = (grid ++ onEdges ++ far).toDF("x", "y")
    val got = pts.withColumn("in", GeoFunctions.pointInPolygonColumn(col("x"), col("y"), lShape))
      .as[(Double, Double, Boolean)].collect()
    assert(got.length === grid.size + onEdges.size + far.size)
    got.foreach { case (x, y, in) =>
      assert(in === GeoFunctions.pointInPolygon(x, y, lShape), s"($x, $y)")
    }
  }

  test("column PIP has one term per non-horizontal edge and no division by zero") {
    import org.apache.spark.sql.catalyst.expressions.{Divide, Literal}
    import org.apache.spark.sql.functions._
    // the L-shape's six edges alternate vertical and horizontal
    val tree = spark.range(1).select(col("id").cast("double").as("x"), lit(1.0).as("y"))
      .select(GeoFunctions.pointInPolygonColumn(col("x"), col("y"), lShape))
    val divides = tree.queryExecution.analyzed.expressions
      .flatMap(_.collect { case d: Divide => d })
    assert(divides.size === 3, divides)
    assert(!divides.exists(_.right match {
      case Literal(v: Double, _) => v == 0.0
      case _ => false
    }), divides)
    val flat = Seq((0.0, 1.0), (5.0, 1.0), (9.0, 1.0))
    intercept[IllegalArgumentException](
      GeoFunctions.pointInPolygonColumn(col("x"), col("y"), flat))
  }

  test("first-match-wins region assignment") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // overlapping regions: first in list wins (region-mapper.js:46-56)
    val regions = Seq(
      "inner" -> Seq((2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0)),
      "outer" -> Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)))
    val df = Seq((5.0, 5.0), (1.0, 1.0), (11.0, 11.0)).toDF("x", "y")
      .select(GeoFunctions.firstMatchRegion(col("x"), col("y"), regions))
      .as[Option[String]].collect()
    assert(df.toSeq === Seq(Some("inner"), Some("outer"), None))
  }

  test("buffered near-polygon (F14)") {
    val square = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))
    // Euclidean vertex distance (generate-tlc-localities.js:26-37):
    // (1.02,1.04) is 0.0447 from vertex (1,1) → near; the square-corner
    // point (1.04,1.04) is 0.0566 away — near under Chebyshev but NOT here.
    assert(GeoFunctions.nearPolygon(1.02, 1.04, square, 0.05)) // near vertex
    assert(!GeoFunctions.nearPolygon(1.04, 1.04, square, 0.05))
    assert(!GeoFunctions.nearPolygon(1.1, 1.1, square, 0.05))
  }
}
