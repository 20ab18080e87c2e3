package graft.grid

/** CONUS Albers grid geometry — pure functions, no I/O.
  *
  * Replaces the reference's HTTP round-trips to the merlin/Chipmunk
  * grid service (reference: ccdc/grid.py:23-53,69-89) with closed-form
  * arithmetic. Grid parameters are from the public fixture
  * `test/data/grid_response.json:1`: tile cells 150 km, chip cells
  * 3 km, shared origin, y axis pointing down (ry = -1).
  *
  * At 100 TB this is the partition-pruning layer: tile→chip
  * enumeration bounds every scan to the chips of the tiles requested,
  * before any file is opened.
  */
case class GridSpec(name: String, rx: Double, ry: Double,
    sx: Double, sy: Double, tx: Double, ty: Double)

object Grid {

  /** reference test/data/grid_response.json:1 */
  val tile: GridSpec = GridSpec("tile", 1.0, -1.0, 150000.0, 150000.0, 2565585.0, 3314805.0)
  val chip: GridSpec = GridSpec("chip", 1.0, -1.0, 3000.0, 3000.0, 2565585.0, 3314805.0)

  /** Chips per tile edge (150000 / 3000). */
  val ChipsPerTileEdge: Int = (tile.sx / chip.sx).toInt
  /** Pixels per chip edge (fixture registry_response.json data_shape). */
  val PixelsPerChipEdge: Int = 100
  /** Pixel size in projection meters (3000 / 100). */
  val PixelMeters: Double = chip.sx / PixelsPerChipEdge

  /** Grid-point (h, v) of the cell containing (x, y).
    * Reference behavior: ccdc/grid.py:41-44 via merlin snap. The
    * forward affine is `grid = ⌊(r·coord + t) / s⌋` — NOT
    * `⌊(coord − t) / (r·s)⌋`: the reference's own fixtures pin tile
    * grid-pt (13, 6) at proj-pt (−615585, 2414805)
    * (test/data/snap_response.json:1), i.e. h = 0 sits at x = −tx,
    * which is exactly resources/conus.csv:2's ulx. The y axis is
    * unaffected (ry = −1 cancels the ty sign), which is why the old
    * x-convention bug survived every internal-consistency test.
    * GridSpec "affine matches the reference's snap fixture and
    * conus.csv origin" fails on the other convention. */
  def gridPt(x: Double, y: Double, g: GridSpec): (Int, Int) = {
    val h = math.floor((g.rx * x + g.tx) / g.sx).toInt
    val v = math.floor((g.ry * y + g.ty) / g.sy).toInt
    (h, v)
  }

  /** Upper-left projection coordinate of grid cell (h, v) — the
    * inverse affine `coord = (grid·s − t) / r`. */
  def cellUl(h: Int, v: Int, g: GridSpec): (Double, Double) =
    ((h * g.sx - g.tx) / g.rx, (v * g.sy - g.ty) / g.ry)

  /** Upper-left projection coordinate of the cell containing (x, y). */
  def snap(x: Double, y: Double, g: GridSpec): (Double, Double) = {
    val (h, v) = gridPt(x, y, g)
    cellUl(h, v, g)
  }

  /** (ulx, uly, lrx, lry) extents of the cell with upper-left (ulx, uly). */
  def extents(ulx: Double, uly: Double, g: GridSpec): (Double, Double, Double, Double) =
    (ulx, uly, ulx + g.sx, uly - g.sy)

  /** Upper-left coordinates of every chip in the tile whose upper-left
    * is (tulx, tuly) — 50 × 50 = 2,500 chips, row-major.
    * Reference behavior: ccdc/grid.py:45-46 (extents + coordinates). */
  def chips(tulx: Double, tuly: Double): Seq[(Int, Int)] =
    for {
      row <- 0 until ChipsPerTileEdge
      colIdx <- 0 until ChipsPerTileEdge
    } yield ((tulx + colIdx * chip.sx).toInt, (tuly - row * chip.sy).toInt)

  /** Tile containing (x, y): upper-left, grid point, extents, chip ids.
    * Reference: ccdc/grid.py:23-53. */
  case class Tile(x: Double, y: Double, h: Int, v: Int,
      ulx: Double, uly: Double, lrx: Double, lry: Double,
      chips: Seq[(Int, Int)])

  def tileOf(x: Double, y: Double): Tile = {
    val (tx, ty) = snap(x, y, tile)
    val (h, v) = gridPt(x, y, tile)
    val (ulx, uly, lrx, lry) = extents(tx, ty, tile)
    Tile(tx, ty, h, v, ulx, uly, lrx, lry, chips(tx, ty))
  }

  /** Upper-left points of the 3×3 neighborhood of the cell containing
    * (x, y). Reference: ccdc/grid.py:81-83 + near_response.json. */
  def near(x: Double, y: Double, g: GridSpec): Seq[(Double, Double)] = {
    val (cx0, cy0) = snap(x, y, g)
    for {
      dy <- Seq(1, 0, -1)
      dx <- Seq(-1, 0, 1)
    } yield (cx0 + dx * g.sx, cy0 + dy * g.ry * g.sy * -1.0)
  }

  /** Chip ids for training: every chip of the 3×3 tile neighborhood —
    * 9 × 2,500 = 22,500 chips. Reference: ccdc/grid.py:69-89. */
  def trainingChips(x: Double, y: Double): Seq[(Int, Int)] =
    near(x, y, tile).flatMap { case (nx, ny) => chips(nx, ny) }

  /** Chip ids for classification: the chips of the containing tile.
    * Reference: ccdc/grid.py:92-103. */
  def classificationChips(x: Double, y: Double): Seq[(Int, Int)] =
    tileOf(x, y).chips

  /** Pixel upper-left coordinates within a chip (100 × 100). */
  def pixelCoordinates(cx: Int, cy: Int): Seq[(Int, Int)] =
    for {
      row <- 0 until PixelsPerChipEdge
      colIdx <- 0 until PixelsPerChipEdge
    } yield ((cx + colIdx * PixelMeters).toInt, (cy - row * PixelMeters).toInt)
}
