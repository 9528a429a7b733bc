package graft.tools

/** Decode-kernel microbench (r16 verdict #6): measure the multimodal
  * ingest floor — bytes → decoded raster stats through the pure-JVM
  * codecs — on the committed `data/fixtures` images, single-threaded, so
  * the JPEG IDCT / Huffman / PNG inflate kernels carry a tracked number
  * the way every relational family carries a bench row. The catalog's
  * decode queries (x12/x13/x32/x84) can't see kernel deltas locally
  * because the sf0.1 fixtures are sub-KB text payloads; this bench feeds
  * the kernels real encoded rasters in a tight loop.
  *
  * Methodology mirrors Bench: warm pass first (JIT), then min-of-2 timed
  * passes. No Spark session — the kernels are plain JVM code and the
  * number of interest is ns/pixel on one core (the executor-thread unit
  * of work at any scale). Prints ONE JSON line:
  *
  *   {"decode_kernel": {"jpeg": {...}, "png": {...}}}
  *
  * each with iters, pixels decoded per iteration, wall seconds and
  * ns/pixel. Usage: runMain graft.tools.DecodeBench [fixtureDir] [iters]
  */
object DecodeBench {

  private def load(dir: String, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, name))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("data/fixtures")
    val iters = args.lift(1).map(_.toInt).getOrElse(20000)
    require(iters > 0, s"iters must be positive, got $iters")
    val jpegs = Seq("dct_gray.jpg", "dct_rgb444.jpg", "dct_rgb420.jpg",
      "dct_rst.jpg").map(load(dir, _))
    val pngs = Seq("gradient.png", "gray.png", "rgba.png").map(load(dir, _))

    def sweep(payloads: Seq[Array[Byte]]): Long = {
      var px = 0L
      payloads.foreach { b =>
        val d = graft.mm.ImageCodecs.decode(b).getOrElse(
          sys.error("fixture failed to decode"))
        px += d.nPixels
      }
      px
    }

    def time(payloads: Seq[Array[Byte]], n: Int): (Double, Long) = {
      def once(): (Double, Long) = {
        var px = 0L
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { px += sweep(payloads); i += 1 }
        ((System.nanoTime() - t0) / 1e9, px)
      }
      once() // warm: JIT + fixture bytes hot in cache
      val (t1, px) = once()
      val (t2, _) = once()
      (math.min(t1, t2), px)
    }

    def row(payloads: Seq[Array[Byte]], n: Int): String = {
      val (sec, px) = time(payloads, n)
      val bytesPerIter = payloads.map(_.length.toLong).sum
      f"""{"iters": $n, "px_per_iter": ${px / n}, "bytes_per_iter": $bytesPerIter, "wall_sec": $sec%.3f, "ns_per_px": ${sec * 1e9 / px}%.1f, "mpx_per_s": ${px / sec / 1e6}%.2f}"""
    }

    val jpeg = row(jpegs, iters)
    val png = row(pngs, iters)
    println(s"""{"decode_kernel": {"jpeg": $jpeg, "png": $png}}""")
  }
}
