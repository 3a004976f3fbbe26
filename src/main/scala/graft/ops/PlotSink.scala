package graft.ops

/** PNG line-chart sink — the reference's S4 plot output
  * (covid_simulator.py:298-319,535-538,630-651 renders per-location
  * time-series line charts with matplotlib), re-expressed without a
  * plotting library: a pure-JVM rasterizer (integer Bresenham
  * polylines, axis frame, per-series colors, legend swatches) feeding
  * [[PngCodec.encodeRgb]], so the sink emits REAL truecolor PNGs any
  * viewer opens. Deterministic by construction — integer pixel
  * coordinates from one fixed scaling formula, fixed palette, no
  * anti-aliasing — so the same series always produce byte-identical
  * files (PlotSinkSpec pins that, and proves the raster against the
  * JDK ImageIO reader). Designed to run per-group inside
  * `foreachPartition`/`mapPartitions`: one chart is one small byte
  * array, the executor writes it next to the group's data, and the
  * driver never rasterizes anything — at 100 TB a chart-per-location
  * sink is just another embarrassingly parallel write.
  */
object PlotSink {

  /** Fixed series palette (R, G, B) — matplotlib's default cycle's
    * first four, close enough for the eye and exactly pinned for the
    * spec.
    */
  val palette: Array[(Int, Int, Int)] = Array(
    (31, 119, 180), (255, 127, 14), (44, 160, 44), (214, 39, 40))

  private val margin = 30 // px frame around the plot area

  /** Render named series as a line chart; every series shares the x
    * domain 0..n-1 and the y range [min, max] over ALL series (the
    * comparison-chart convention). Returns the complete PNG bytes.
    */
  def lineChart(series: Seq[(String, Array[Double])],
      width: Int = 320, height: Int = 200): Array[Byte] = {
    require(series.nonEmpty && series.forall(_._2.length >= 2),
      "need at least one series with at least two points")
    require(series.size <= palette.length,
      s"at most ${palette.length} series per chart")
    val rgb = Array.fill[Byte](3 * width * height)(255.toByte) // white
    def put(x: Int, y: Int, c: (Int, Int, Int)): Unit =
      if (x >= 0 && x < width && y >= 0 && y < height) {
        val i = 3 * (y * width + x)
        rgb(i) = c._1.toByte; rgb(i + 1) = c._2.toByte
        rgb(i + 2) = c._3.toByte
      }
    // Integer Bresenham — no anti-aliasing, so pixel sets are exact.
    def line(x0: Int, y0: Int, x1: Int, y1: Int,
        c: (Int, Int, Int)): Unit = {
      var (x, y) = (x0, y0)
      val dx = math.abs(x1 - x0); val dy = -math.abs(y1 - y0)
      val sx = if (x0 < x1) 1 else -1
      val sy = if (y0 < y1) 1 else -1
      var err = dx + dy
      var done = false
      while (!done) {
        put(x, y, c)
        if (x == x1 && y == y1) done = true
        else {
          val e2 = 2 * err
          if (e2 >= dy) { err += dy; x += sx }
          if (e2 <= dx) { err += dx; y += sy }
        }
      }
    }
    val black = (0, 0, 0)
    // Axis frame: left and bottom.
    line(margin, margin, margin, height - margin, black)
    line(margin, height - margin, width - margin, height - margin, black)
    // Shared scales.
    val n = series.map(_._2.length).max
    val lo = series.map(_._2.min).min
    val hi = series.map(_._2.max).max
    val span = if (hi > lo) hi - lo else 1.0
    val plotW = width - 2 * margin
    val plotH = height - 2 * margin
    def px(i: Int, len: Int): Int =
      margin + (i.toLong * plotW / math.max(1, len - 1)).toInt
    def py(v: Double): Int =
      height - margin - math.round((v - lo) / span * plotH).toInt
    series.zipWithIndex.foreach { case ((_, ys), si) =>
      val c = palette(si)
      var i = 1
      while (i < ys.length) {
        line(px(i - 1, ys.length), py(ys(i - 1)),
          px(i, ys.length), py(ys(i)), c)
        i += 1
      }
      // Legend swatch: a short horizontal tick in the top margin.
      line(margin + 40 * si, margin / 2, margin + 40 * si + 20,
        margin / 2, c)
    }
    val _ = n
    PngCodec.encodeRgb(width, height, rgb)
  }
}
