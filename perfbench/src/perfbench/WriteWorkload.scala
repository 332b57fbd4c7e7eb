package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** zarr-write: each round writes a generated cube through
  * `df.write.format("zarr")` as v2 blosc-lz4 (default zone-map stats) and
  * as v3 sharded zstd, builds a v2 zlib store by appending seeded slabs
  * along t with batch ids (one batch replayed, which must leave the store
  * unchanged), then reads every store back. Encode, ordinal assignment,
  * the chunk-owner shuffle, object writes and stats do the work. */
final class WriteWorkload(ctx: Ctx) extends Workload {
  val cube: Cube = Cube.seeded(32, 128, 128, ctx.seed, 5)
  val grown: Cube = Cube.seeded(16, 128, 128, ctx.seed, 6)
  val slab = 8
  val chunks = "8,64,64"
  val shards = "16,128,128"
  private var dir: Path = _
  private var last: Option[Path] = None
  private var lastFootprint = (0L, 0L)
  def warmRounds: Int = 2

  def setup(d: Path): Unit = { dir = d; Files.createDirectories(d) }

  def footprint: (Long, Long, Long) = (lastFootprint._1, lastFootprint._2, 2 * cube.cells + grown.cells)
  def probeArray: (Path, String) = (last.get.resolve("v2"), "v")

  private def frame(c: Cube, t0: Int, t1: Int): DataFrame = Stores.cubeFrame(ctx.spark, c, t0, t1, ctx.threads)
  private def path(p: Path): String = p.toAbsolutePath.toString

  def round(r: Int): Seq[Op] = {
    val base = dir.resolve(s"round$r")
    val (v2, v3, app) = (base.resolve("v2"), base.resolve("v3"), base.resolve("app"))
    val rnd = new java.util.Random(ctx.seed * 7919L + r)
    def appendSlab(k: Int): Unit =
      frame(grown, k * slab, (k + 1) * slab).write.format("zarr")
        .option("path", path(app)).option("array", "v").option("compressor", "zlib").option("chunks", chunks)
        .option("append.dim", "t").option("append.batch_id", k.toString).mode("append").save()
    def readback(p: Path, c: Cube): Unit =
      ctx.layer("readback")(Check.eq(s"readback $p", ctx.countSum(ctx.reader(p).readArray("v")),
        c.boxSum(0, c.nt, 0, c.ny, 0, c.nx)))
    Seq(
      Op("write_v2", cube.cells, 0L, () => {
        ctx.layer("sink")(frame(cube, 0, cube.nt).write.format("zarr").option("path", path(v2)).option("array", "v")
          .option("chunks", chunks).mode("overwrite").save())
        readback(v2, cube)
      }),
      Op("write_v3", cube.cells, 0L, () => {
        ctx.layer("sink")(frame(cube, 0, cube.nt).write.format("zarr").option("path", path(v3)).option("array", "v")
          .option("zarr_format", "3").option("compressor", "zstd").option("chunks", chunks)
          .option("shards", shards).mode("overwrite").save())
        readback(v3, cube)
        Independent.checkShards(v3.resolve("v"), cube, rnd, 4)
      }),
      // the first slab creates the store, the second appends as batch 1,
      // and replaying batch 1 must leave every object unchanged
      Op("append", grown.cells, 0L, () => {
        ctx.layer("sink")(appendSlab(0))
        ctx.layer("append")(appendSlab(1))
        val before = Stores.snapshot(app)
        ctx.layer("append")(appendSlab(1))
        Check.eq("store after replaying batch 1", Stores.snapshot(app) == before, true)
        readback(app, grown)
        Independent.checkZlib(app.resolve("v"), grown, rnd, 4)
      })
    )
  }

  override def afterRound(r: Int): Unit = {
    val base = dir.resolve(s"round$r")
    lastFootprint = Stores.footprint(base)
    last.foreach(Stores.delete)
    last = Some(base)
  }
}

/** Decodes written chunk objects without the program's codecs: zstd-jni
  * for the inner chunks of v3 shards, the JDK Inflater for v2 zlib chunks,
  * and compares them with the formula. Grid: 8 x 64 x 64 chunks. */
object Independent {
  val K = (8, 64, 64)

  private def expectChunk(c: Cube, ct: Int, cy: Int, cx: Int): Array[Byte] = c.chunkBytes(K._1, K._2, K._3, ct, cy, cx)

  /** Shards of 2 x 2 x 2 inner chunks, index at the end: per inner chunk
    * (offset, nbytes) as little-endian u64, then a crc32c of the index. */
  def checkShards(arrayDir: Path, c: Cube, rnd: java.util.Random, n: Int): Unit = {
    val grid = (c.nt / K._1, c.ny / K._2, c.nx / K._3)
    (0 until n).foreach { _ =>
      val (ct, cy, cx) = (rnd.nextInt(grid._1), rnd.nextInt(grid._2), rnd.nextInt(grid._3))
      val shard = Files.readAllBytes(arrayDir.resolve(s"c/${ct / 2}/${cy / 2}/${cx / 2}"))
      val idxLen = 8 * 16 + 4
      val index = ByteBuffer.wrap(shard, shard.length - idxLen, idxLen).slice().order(ByteOrder.LITTLE_ENDIAN)
      val crc = new java.util.zip.CRC32C()
      crc.update(shard, shard.length - idxLen, idxLen - 4)
      Check.eq(s"shard index crc32c", index.getInt(idxLen - 4), crc.getValue.toInt)
      val inner = ((ct % 2) * 2 + (cy % 2)) * 2 + (cx % 2)
      val off = index.getLong(inner * 16).toInt
      val len = index.getLong(inner * 16 + 8).toInt
      val frame = java.util.Arrays.copyOfRange(shard, off, off + len)
      val raw = com.github.luben.zstd.Zstd.decompress(frame, K._1 * K._2 * K._3 * 4)
      Check.eq(s"zstd chunk ($ct,$cy,$cx)", java.util.Arrays.equals(raw, expectChunk(c, ct, cy, cx)), true)
    }
  }

  def checkZlib(arrayDir: Path, c: Cube, rnd: java.util.Random, n: Int): Unit = {
    val grid = (c.nt / K._1, c.ny / K._2, c.nx / K._3)
    (0 until n).foreach { _ =>
      val (ct, cy, cx) = (rnd.nextInt(grid._1), rnd.nextInt(grid._2), rnd.nextInt(grid._3))
      val inf = new java.util.zip.Inflater()
      inf.setInput(Files.readAllBytes(arrayDir.resolve(s"$ct.$cy.$cx")))
      val raw = new Array[Byte](K._1 * K._2 * K._3 * 4)
      var got = 0
      var n = 1
      while (got < raw.length && n > 0) { n = inf.inflate(raw, got, raw.length - got); got += n }
      inf.end()
      Check.eq(s"zlib chunk ($ct,$cy,$cx)", got == raw.length && java.util.Arrays.equals(raw, expectChunk(c, ct, cy, cx)), true)
    }
  }
}
