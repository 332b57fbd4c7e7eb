package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import graft.sources.zarr.{ZarrChunkStats, ZarrCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input generation and on-disk inspection. Metadata documents are the
  * benchmark's own zarr v2 JSON; chunk bytes are encoded with the program's
  * public codec (`ZarrCodec.compress`), in parallel on `threads` threads. */
object Stores {

  /** numcodecs compressor config for a program codec spec. */
  def compressorJson(spec: String): String = spec match {
    case "blosc:lz4" => """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}"""
    case "zstd" => """{"id": "zstd", "level": 3}"""
    case "zlib" => """{"id": "zlib", "level": 6}"""
    case other => throw new IllegalArgumentException(s"no compressor config for $other")
  }

  def writeGroup(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
  }

  private def writeMeta(dir: Path, shape: Seq[Long], chunks: Seq[Int], dtype: String, codec: String, dims: Seq[String],
                        attrs: String = ""): Unit = {
    Files.createDirectories(dir)
    Files.writeString(
      dir.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}], "chunks": [${chunks.mkString(", ")}], """ +
        s""""dtype": "$dtype", "order": "C", "compressor": ${compressorJson(codec)}, "fill_value": 0.0, "filters": null}"""
    )
    Files.writeString(dir.resolve(".zattrs"), s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(", ")}]$attrs}""")
  }

  /** Run `f(i)` for i in [0, n) on a fixed pool; rethrows the first failure. */
  def parallel(n: Int, threads: Int)(f: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      futures.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  /** A 3-D f4 array `name` under group `group` holding `cube`. With
    * `zoneMaps`, the per-chunk value bounds go into the array attributes in
    * the program's chunk-statistics format, as its sink would write them. */
  def writeCube(group: Path, name: String, cube: Cube, chunks: (Int, Int, Int), codec: String, threads: Int,
                zoneMaps: Boolean = false): Unit = {
    val (kt, ky, kx) = chunks
    val dir = group.resolve(name)
    val gt = ceilDiv(cube.nt, kt); val gy = ceilDiv(cube.ny, ky); val gx = ceilDiv(cube.nx, kx)
    val bounds = new Array[(Double, Double)](gt * gy * gx)
    Files.createDirectories(dir)
    parallel(gt * gy * gx, threads) { c =>
      val ct = c / (gy * gx); val cy = (c / gx) % gy; val cx = c % gx
      val raw = cube.chunkBytes(kt, ky, kx, ct, cy, cx)
      if (zoneMaps) {
        val fb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
        var lo = Float.MaxValue; var hi = Float.MinValue
        while (fb.hasRemaining) { val v = fb.get(); if (v < lo) lo = v; if (v > hi) hi = v }
        bounds(c) = (lo.toDouble, hi.toDouble)
      }
      Files.write(dir.resolve(s"$ct.$cy.$cx"), ZarrCodec.compress(Some(codec), raw, typesize = 4))
    }
    val stats =
      if (!zoneMaps) ""
      else {
        val doc = ZarrChunkStats.Doc("float", bounds.length.toLong,
          boundsF = bounds.indices.map(i => i.toLong -> Some(bounds(i))).toMap)
        s""", "${ZarrChunkStats.AttrKey}": ${ZarrChunkStats.toJson(doc)}"""
      }
    writeMeta(dir, Seq(cube.nt, cube.ny, cube.nx), Seq(kt, ky, kx), "<f4", codec, Seq("t", "y", "x"), stats)
  }

  /** A 1-D f4 array `name` of `cube.nx` cells (nt = ny = 1) on dimension
    * `dim`, with an i8 coordinate array `dim` holding `coord(i)`. */
  def writeLine(group: Path, name: String, dim: String, cube: Cube, chunk: Int, coord: Long => Long, threads: Int): Unit = {
    require(cube.nt == 1 && cube.ny == 1)
    val n = cube.nx
    val dir = group.resolve(name)
    val cdir = group.resolve(dim)
    writeMeta(dir, Seq(n), Seq(chunk), "<f4", "blosc:lz4", Seq(dim))
    writeMeta(cdir, Seq(n), Seq(chunk), "<i8", "blosc:lz4", Seq(dim))
    parallel(ceilDiv(n, chunk), threads) { c =>
      Files.write(dir.resolve(c.toString), ZarrCodec.compress(Some("blosc:lz4"), cube.chunkBytes(1, 1, chunk, 0, 0, c), 4))
      val buf = java.nio.ByteBuffer.allocate(chunk * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < chunk) {
        val g = c.toLong * chunk + i
        if (g < n) buf.putLong(i * 8, coord(g))
        i += 1
      }
      Files.write(cdir.resolve(c.toString), ZarrCodec.compress(Some("blosc:lz4"), buf.array(), 8))
    }
  }

  /** The cube as a long-format frame `[t, y, x, value]` for rows with t in
    * [t0, t1), generated by Spark from the same formula (the value table
    * rides to the tasks in the closure). */
  def cubeFrame(spark: SparkSession, cube: Cube, t0: Int, t1: Int, partitions: Int): DataFrame = {
    val plane = cube.ny.toLong * cube.nx
    val (ny, nx) = (cube.ny, cube.nx)
    val c = cube
    import spark.implicits._
    spark
      .range(t0 * plane, t1 * plane, 1, partitions)
      .map { id =>
        val f: Long = id
        val t = (f / plane).toInt
        (t, ((f / nx) % ny).toInt, (f % nx).toInt, c.value(t, (f / nx) % ny, f % nx))
      }
      .toDF("t", "y", "x", "value")
  }

  /** Overwrite the middle third of a stored object with zeros. */
  def corrupt(p: Path): Unit = {
    val b = Files.readAllBytes(p)
    java.util.Arrays.fill(b, b.length / 3, 2 * b.length / 3, 0.toByte)
    Files.write(p, b)
  }

  def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** (bytes, objects) of every regular file under `root`. */
  def footprint(root: Path): (Long, Long) = {
    var bytes = 0L; var objects = 0L
    val s = Files.walk(root)
    try s.forEach { p => if (Files.isRegularFile(p)) { bytes += Files.size(p); objects += 1 } }
    finally s.close()
    (bytes, objects)
  }

  /** Every regular file under `root` with its size and content hash — the
    * state an idempotent replay must leave unchanged. */
  def snapshot(root: Path): Map[String, (Long, Int)] = {
    val s = Files.walk(root)
    try {
      val b = Map.newBuilder[String, (Long, Int)]
      s.forEach { p =>
        if (Files.isRegularFile(p)) {
          val bytes = Files.readAllBytes(p)
          b += root.relativize(p).toString -> ((bytes.length.toLong, java.util.Arrays.hashCode(bytes)))
        }
      }
      b.result()
    } finally s.close()
  }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}
