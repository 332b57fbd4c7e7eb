package perfbench

import graft.sources.zarr.{ZarrChunkIO, ZarrCodec, ZarrFileIO, ZarrStore}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

/** Layer probes of a traced run: single-threaded calls into each layer's
  * public functions on a seeded sample of the workload's own chunks, and
  * a value-only against an all-columns scan of the same array. */
object Probes {
  val SampleChunks = 24

  def run(ctx: Ctx, wl: Workload): Map[String, Double] = {
    val (storeDir, array) = wl.probeArray
    val tr = ctx.tracer
    tr.active = true
    try {
      val store = new ZarrStore(storeDir.toAbsolutePath.toString)
      val meta = store.arrayMeta(array)
      val arrayDir = store.arrayDir(array)
      val grid = meta.shape.zip(meta.chunks).map { case (s, c) => (s + c - 1) / c }
      val total = grid.map(_.toLong).product
      val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
      val idxs = Seq.fill(SampleChunks) {
        var ord = (rnd.nextDouble() * total).toLong
        grid.reverse.map { g => val i = (ord % g).toInt; ord /= g; i }.reverse
      }
      val cellsPer = meta.chunks.map(_.toLong).product
      val rawLen = (cellsPer * 4).toInt

      def timed[T](name: String)(f: => T): (T, Long) = {
        val t = System.nanoTime()
        val r = tr.span(name)(f)
        (r, System.nanoTime() - t)
      }
      var decodeNs, readNs = 0L
      val raws = idxs.map { idx =>
        val p = new HPath(arrayDir, ZarrChunkIO.chunkFileName(idx))
        val (bytes, _) = timed("zarr.fetch")(ZarrFileIO.readBytesIfExists(p, Map.empty))
        bytes.foreach(b => decodeNs += timed("zarr.decode")(ZarrCodec.decompress(meta.compressor, b, rawLen))._2)
        val (raw, rNs) = timed("zarr.chunk.read")(ZarrChunkIO.readChunk(arrayDir, meta, idx).map(_.raw))
        readNs += rNs
        raw
      }.flatten
      val n = math.max(1, raws.length)

      // each codec on the same raw chunks: encode, then decode and compare
      val codecs = Seq("blosc_lz4" -> "blosc:lz4", "zstd" -> "zstd", "zlib" -> "zlib")
      val mcells = raws.length * cellsPer / 1e6
      val codecRates = codecs.flatMap { case (label, spec) =>
        var encNs, decNs = 0L
        val id = if (spec.startsWith("blosc")) Some("blosc") else Some(spec)
        raws.foreach { raw =>
          val (enc, eNs) = timed(s"zarr.encode.$label")(ZarrCodec.compress(Some(spec), raw, 4))
          val (dec, dNs) = timed(s"zarr.decode.$label")(ZarrCodec.decompress(id, enc, raw.length))
          encNs += eNs; decNs += dNs
          if (!java.util.Arrays.equals(dec, raw)) throw new CheckFailed(s"$spec round trip differs")
        }
        Seq(s"encode_$label" -> mcells / (encNs / 1e9), s"decode_$label" -> mcells / (decNs / 1e9))
      }

      // coordinate expansion: the same full scan with and without dim columns
      val cells = meta.shape.map(_.toLong).product
      def scanMs(cols: Seq[String]): Double = (0 until 2).map { _ =>
        val t = System.nanoTime()
        tr.span("zarr.scan." + (if (cols.size > 1) "rows" else "value")) {
          val df = new graft.api.ZarrDataReader(ctx.spark, storeDir.toAbsolutePath.toString).readArray(array)
          df.agg(count(lit(1)), cols.map(c => sum(col(c).cast("double"))): _*).collect()
        }
        (System.nanoTime() - t) / 1e6
      }.min
      val valueMs = scanMs(Seq("value"))
      val rowsMs = scanMs(meta.dims :+ "value")

      codecRates.toMap ++ Map(
        "decode_ms" -> decodeNs / 1e6 / n,
        "chunk_read_ms" -> readNs / 1e6 / n,
        "value_mcells_s" -> cells / 1e3 / valueMs,
        "rows_mcells_s" -> cells / 1e3 / rowsMs,
        "expand_ms" -> (rowsMs - valueMs)
      )
    } finally tr.active = false
  }
}
