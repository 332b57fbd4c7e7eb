package perfbench

import java.nio.file.Path

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** zarr-scan: full-store scans of one generated 3-D f4 cube stored three
  * times, once per codec. Fetch, decode and coordinate expansion do nearly
  * all the work; planning almost none. There is no decoded-chunk cache, so
  * every pass re-reads every chunk. */
final class ScanWorkload(ctx: Ctx, corrupt: Boolean) extends Workload {
  val cube: Cube = Cube.seeded(32, 512, 512, ctx.seed, 1)
  val chunks = (4, 128, 128)
  val codecs = Seq("lz4" -> "blosc:lz4", "zstd" -> "zstd", "zlib" -> "zlib")
  private var dir: Path = _
  /** The self-test shifts one expected value, so its check must fail. */
  private val oracleShift = if (corrupt) 1L else 0L
  lazy val expected: (Long, Long) = cube.boxSum(0, cube.nt, 0, cube.ny, 0, cube.nx)
  private val nChunks: Long = (cube.nt / chunks._1).toLong * (cube.ny / chunks._2) * (cube.nx / chunks._3)

  def setup(d: Path): Unit = {
    dir = d
    Stores.writeGroup(d)
    codecs.foreach { case (name, spec) => Stores.writeCube(d, name, cube, chunks, spec, ctx.threads) }
    if (corrupt) Stores.corrupt(d.resolve("zstd").resolve("1.1.1"))
  }

  def footprint: (Long, Long, Long) = {
    val (b, o) = Stores.footprint(dir)
    (b, o, cube.cells * codecs.size)
  }
  def probeArray: (Path, String) = (dir, "lz4")

  def warmRounds: Int = 3

  private def valueAgg(array: String): Op = Op(s"value_$array", cube.cells, nChunks, () => {
    val got = ctx.countSum(ctx.reader(dir).readArray(array).select("value"))
    Check.eq(s"$array count/sum", got, expected)
  })

  /** All four columns feed a sum, so every coordinate is expanded and checked. */
  private val rows = Op("rows_lz4", cube.cells, nChunks, () => {
    val r = ctx.execute(ctx.reader(dir).readArray("lz4"))(
      _.agg(sum("t"), sum("y"), sum("x"), sum((col("value") * 4).cast("long"))).collect().head
    )
    val plane = cube.ny.toLong * cube.nx
    val want = Row(
      plane * cube.nt * (cube.nt - 1) / 2,
      cube.nt.toLong * cube.nx * cube.ny * (cube.ny - 1) / 2,
      cube.nt.toLong * cube.ny * cube.nx * (cube.nx - 1) / 2,
      expected._2 + oracleShift
    )
    Check.eq("rows sums", Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)), want)
  })

  private def groupMean(array: String) = Op(s"group_t_$array", cube.cells, nChunks, () => {
    val got = ctx.execute(ctx.reader(dir).readArray(array))(
      _.groupBy("t").agg(avg("value")).collect().map(r => r.getAs[Number](0).intValue -> r.getDouble(1)).toMap
    )
    Check.eq("group count", got.size, cube.nt)
    (0 until cube.nt).foreach { t =>
      val (c, s) = cube.boxSum(t, t + 1, 0, cube.ny, 0, cube.nx)
      Check.near(s"mean t=$t", got(t), s / 4.0 / c)
    }
  })

  private val aligned = Op("aligned_lz4_zlib", 2 * cube.cells, 2 * nChunks, () => {
    val r = ctx.execute(ctx.reader(dir).readAligned(Seq("lz4", "zlib")))(
      _.agg(count(lit(1)), sum((col("lz4") * 4).cast("long")), sum((col("zlib") * 4).cast("long"))).collect().head
    )
    Check.eq("aligned", (r.getLong(0), r.getLong(1), r.getLong(2)), (expected._1, expected._2, expected._2))
  })

  def round(r: Int): Seq[Op] =
    codecs.map { case (name, _) => valueAgg(name) } ++ Seq(rows, groupMean("lz4"), groupMean("zstd"), aligned)
}
