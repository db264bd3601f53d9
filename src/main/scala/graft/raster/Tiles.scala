package graft.raster

/** Typed RGBA tile and pure pixel operators (SURVEY §2.9 R1-R3, §2.8 C27).
  *
  * `Tile` is the raster data model (§1.1.5): `(z, x, y)` key + row-major
  * RGBA bytes. Operations are pure Array functions usable from typed
  * `Dataset[Tile].map` — serialization-friendly (primitive byte arrays, no
  * boxing), with the per-pixel codecs shared with the Column forms in
  * [[Codecs]].
  *
  * Scale notes: a 256×256 RGBA tile is 256 KiB; pixel ops are per-row map
  * work with no shuffle. The gather-style reprojection (R4) lives in
  * [[Reproject]] because it needs grouped source tiles.
  */
final case class Tile(z: Int, x: Int, y: Int, width: Int, height: Int,
    pixels: Array[Byte])

object Tiles {
  val TileSize = 256

  /** C27: constant sea-level Terrain-RGB tile (`terrain-proxy/server.js:
    * 181-196`) — every pixel encodes elevation 0, alpha 255.
    */
  def seaLevelTile(z: Int, x: Int, y: Int, size: Int = TileSize): Tile = {
    val (r, g, b) = Codecs.elevationToRgb(0.0)
    val px = new Array[Byte](size * size * 4)
    var i = 0
    while (i < px.length) {
      px(i) = r.toByte; px(i + 1) = g.toByte; px(i + 2) = b.toByte
      px(i + 3) = 255.toByte
      i += 4
    }
    Tile(z, x, y, size, size, px)
  }

  private val hexRgb: Map[String, (Int, Int, Int)] =
    (Codecs.DbzPalette.map(_._2) :+ Codecs.DbzTop).map { h =>
      h -> ((Integer.parseInt(h.substring(0, 2), 16),
        Integer.parseInt(h.substring(2, 4), 16),
        Integer.parseInt(h.substring(4, 6), 16)))
    }.toMap

  /** R1: full-tile dBZ recolor (`weather-proxy/server.js:262-305`) — the
    * RainViewer value rides in the red channel, the snow bit is masked by
    * the dBZ decode, fully-transparent pixels are preserved, and sub-0 dBZ
    * becomes transparent.
    */
  def recolor(t: Tile): Tile = {
    val out = new Array[Byte](t.pixels.length)
    var i = 0
    while (i < t.pixels.length) {
      val a = t.pixels(i + 3) & 0xff
      if (a == 0) {
        // transparent in, transparent out
      } else {
        val dbz = Codecs.rainviewerToDbz(t.pixels(i) & 0xff)
        val color = Codecs.dbzColor(dbz)
        if (color == Codecs.DbzTransparent) {
          // below-threshold rain → transparent
        } else {
          val (r, g, b) = hexRgb(color)
          out(i) = r.toByte; out(i + 1) = g.toByte; out(i + 2) = b.toByte
          out(i + 3) = 255.toByte
        }
      }
      i += 4
    }
    t.copy(pixels = out)
  }

  /** R2: crop the `(subX, subY)` sub-rectangle of an ancestor tile and
    * nearest-neighbor upscale it back to full size
    * (`weather-proxy/server.js:335-354`: `cropSize = size/scale`,
    * `offset = (x % scale) * cropSize`).
    */
  def cropUpscale(t: Tile, scale: Int, subX: Int, subY: Int): Tile = {
    require(t.width % scale == 0, s"scale $scale must divide ${t.width}")
    val cropSize = t.width / scale
    val offX = subX * cropSize
    val offY = subY * cropSize
    val out = new Array[Byte](t.pixels.length)
    var py = 0
    while (py < t.height) {
      val sy = offY + py / scale
      var px = 0
      while (px < t.width) {
        val sx = offX + px / scale
        val si = (sy * t.width + sx) * 4
        val oi = (py * t.width + px) * 4
        out(oi) = t.pixels(si); out(oi + 1) = t.pixels(si + 1)
        out(oi + 2) = t.pixels(si + 2); out(oi + 3) = t.pixels(si + 3)
        px += 1
      }
      py += 1
    }
    t.copy(pixels = out)
  }

  /** R3: plain nearest-neighbor upscale by an integer factor
    * (`weather-proxy/server.js:516-523` — the 512 upscale is factor 2).
    */
  def upscale(t: Tile, factor: Int): Tile = {
    val w = t.width * factor
    val h = t.height * factor
    val out = new Array[Byte](w * h * 4)
    var py = 0
    while (py < h) {
      val sy = py / factor
      var px = 0
      while (px < w) {
        val si = (sy * t.width + px / factor) * 4
        val oi = (py * w + px) * 4
        out(oi) = t.pixels(si); out(oi + 1) = t.pixels(si + 1)
        out(oi + 2) = t.pixels(si + 2); out(oi + 3) = t.pixels(si + 3)
        px += 1
      }
      py += 1
    }
    Tile(t.z, t.x, t.y, w, h, out)
  }
}
