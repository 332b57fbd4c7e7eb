package perfbench

import java.nio.file.Path

import graft.model.DimSel
import org.apache.spark.sql.functions._

/** zarr-select: one client in a closed loop issuing small seeded queries
  * against stores with many chunks. Planning, pruning, stats and per-job
  * scheduling dominate; each operation decodes at most a few chunks.
  * Half the picked time steps come from the most recent 16, so some
  * operations re-touch chunks that recent operations read. */
final class SelectWorkload(ctx: Ctx) extends Workload {
  // main store, with zone-map stats in its attributes
  val sel: Cube = Cube.seeded(128, 128, 128, ctx.seed, 2)
  val selChunks = (4, 32, 32)
  // sharded v3 store: 16 x 64 x 64 shards of 4 x 32 x 32 inner chunks
  val shard: Cube = Cube.seeded(32, 128, 128, ctx.seed, 3)
  val shardChunks = (4, 32, 32)
  // 1-D store whose axis is longer than the deferred-coordinate threshold
  val line: Cube = Cube.seeded(1, 1, 10200000, ctx.seed, 4)
  val lineChunk = 1 << 18
  def lineCoord(i: Long): Long = 10 * i + 5

  private var dir: Path = _
  private def selDir = dir.resolve("sel")
  private def shardDir = dir.resolve("shard")
  private def lineDir = dir.resolve("line")
  def warmRounds: Int = 6

  def setup(d: Path): Unit = {
    dir = d
    Stores.writeGroup(selDir)
    Stores.writeCube(selDir, "v", sel, selChunks, "blosc:lz4", ctx.threads, zoneMaps = true)
    val g = graft.sources.zarr.ZarrStoreWriterV3.writeGroup(shardDir.toString)
    graft.sources.zarr.ZarrStoreWriterV3.writeShardedArray(
      g, "v", Vector(shard.nt, shard.ny, shard.nx), Vector(16, 64, 64), Vector(4, 32, 32), "float32",
      f => shard.value(f / (shard.ny * shard.nx), (f / shard.nx) % shard.ny, f % shard.nx).toDouble,
      dims = Some(Vector("t", "y", "x")), innerCodecs = Seq("zstd")
    )
    Stores.writeGroup(lineDir)
    Stores.writeLine(lineDir, "v", "i", line, lineChunk, lineCoord, ctx.threads)
  }

  def footprint: (Long, Long, Long) = {
    val (b, o) = Stores.footprint(dir)
    (b, o, sel.cells + shard.cells + line.cells)
  }
  def probeArray: (Path, String) = (selDir, "v")

  /** Keys of the chunks of store `id` (grid `k`) that the box intersects. */
  private def chunksOf(id: Int, k: (Int, Int, Int), t0: Int, t1: Int, y0: Int, y1: Int, x0: Int, x1: Int): Set[Long] =
    (for {
      ct <- t0 / k._1 to (t1 - 1) / k._1
      cy <- y0 / k._2 to (y1 - 1) / k._2
      cx <- x0 / k._3 to (x1 - 1) / k._3
    } yield id * 1000000000L + ct * 1000000L + cy * 1000L + cx).toSet
  private def tChunks(ts: Seq[Int]): Set[Long] =
    ts.flatMap(t => chunksOf(1, selChunks, t, t + 1, 0, sel.ny, 0, sel.nx)).toSet

  // share of operations touching a chunk that one of the previous five touched
  private val recent = scala.collection.mutable.Queue[Set[Long]]()
  private var opsSeen, retouched = 0L
  private def touch(keys: Set[Long]): Long = {
    if (recent.exists(_.exists(keys.contains))) retouched += 1
    opsSeen += 1
    recent.enqueue(keys)
    if (recent.size > 5) recent.dequeue()
    keys.size.toLong
  }
  override def summary: String = f"retouch_share=${retouched.toDouble / math.max(1L, opsSeen)}%.3f"

  /** Chunks a narrow value band opens with and without zone maps. */
  override def probes(ctx: Ctx): Map[String, Double] = {
    val t = sel.nt / 2
    val (lo, hi) = (t * Cube.Q + 1000, t * Cube.Q + 1300)
    def opens(pruning: Boolean): Long = {
      ctx.counting = true
      try {
        val before = Fetch.chunkOpens.get
        val r = ctx.spark.read.format("zarr").option("path", ctx.uri(selDir)).option("array", "v")
          .option("stats.pruning", pruning.toString)
          .options(ctx.storageOptions.map { case (k, v) => s"storage.$k" -> v })
          .load().filter(col("value").between(lo / 4.0, hi / 4.0)).agg(count(lit(1))).collect().head.getLong(0)
        Check.eq("zone probe count", r, sel.quadBand(lo, hi)._1)
        Fetch.chunkOpens.get - before
      } finally ctx.counting = false
    }
    Map("zone_skipped_chunks" -> (opens(false) - opens(true)).toDouble)
  }

  def round(r: Int): Seq[Op] = {
    val rnd = new java.util.Random(ctx.seed * 7919L + r)
    def pickT(nt: Int): Int = if (rnd.nextBoolean()) nt - 16 + rnd.nextInt(16) else rnd.nextInt(nt)
    // extents are fixed, positions seeded: every round costs about the same
    def span(n: Int, len: Int): (Int, Int) = { val a = rnd.nextInt(n - len + 1); (a, a + len) }
    val (ny, nx) = (sel.ny, sel.nx)

    def point(): Op = {
      val t = pickT(sel.nt)
      Op("point", ny.toLong * nx, touch(chunksOf(1, selChunks, t, t + 1, 0, ny, 0, nx)), () =>
        Check.eq(s"point t=$t", ctx.countSum(ctx.reader(selDir).readArray("v", Map("t" -> DimSel.Point(t)))),
          sel.boxSum(t, t + 1, 0, ny, 0, nx)))
    }
    def range(): Op = {
      val t0 = pickT(sel.nt - 1); val t1 = t0 + 2
      val (y0, y1) = span(ny, 32); val (x0, x1) = span(nx, 32)
      val want = sel.boxSum(t0, t1, y0, y1, x0, x1)
      Op("range", want._1, touch(chunksOf(1, selChunks, t0, t1, y0, y1, x0, x1)), () =>
        Check.eq(s"range t=$t0:$t1 y=$y0:$y1 x=$x0:$x1", ctx.countSum(ctx.reader(selDir).readArray("v",
          Map("t" -> DimSel.Range(t0, t1), "y" -> DimSel.Range(y0, y1), "x" -> DimSel.Range(x0, x1)))), want))
    }
    def distinctTs(n: Int): Seq[Int] = {
      val s = scala.collection.mutable.LinkedHashSet[Int]()
      while (s.size < n) s += pickT(sel.nt)
      s.toSeq.sorted
    }
    def indices(): Op = {
      val ts = distinctTs(3)
      Op("indices", 3L * ny * nx, touch(tChunks(ts)), () =>
        Check.eq(s"indices t=$ts", ctx.countSum(ctx.reader(selDir).readArray("v", Map("t" -> DimSel.Indices(ts.toVector)))),
          sel.tSetSum(ts)))
    }
    def dimFilter(): Op = {
      val t0 = pickT(sel.nt - 1); val t1 = t0 + 2
      val (y0, y1) = span(ny, 48); val (x0, x1) = span(nx, 48)
      val want = sel.boxSum(t0, t1, y0, y1, x0, x1)
      Op("dim_filter", want._1, touch(chunksOf(1, selChunks, t0, t1, y0, y1, x0, x1)), () =>
        Check.eq(s"filter t=$t0:$t1 y=$y0:$y1 x=$x0:$x1", ctx.countSum(ctx.reader(selDir).readArray("v").filter(
          col("t").between(t0, t1 - 1) && col("y") >= y0 && col("y") < y1 && col("x").between(x0, x1 - 1))), want))
    }
    def band(): Op = {
      val t = pickT(sel.nt)
      val lo = t * Cube.Q + rnd.nextInt(Cube.Q.toInt - 384)
      val hi = lo + 383
      val want = sel.quadBand(lo, hi)
      Op("value_band", want._1, touch(chunksOf(1, selChunks, t, t + 1, 0, ny, 0, nx)), () =>
        Check.eq(s"band [$lo, $hi]/4", ctx.countSum(ctx.reader(selDir).readArray("v").filter(
          col("value").between(lo / 4.0, hi / 4.0))), want))
    }
    /** count and dimension min/max under a pushed t range: planning can
      * answer it from metadata alone, without a Spark job. */
    def meta(): Op = {
      val t0 = pickT(sel.nt - 3); val t1 = t0 + 4
      Op("meta", (t1 - t0).toLong * ny * nx, touch(Set.empty), () => {
        val r = ctx.execute(ctx.reader(selDir).readArray("v").filter(col("t").between(t0, t1 - 1)))(
          _.agg(count(lit(1)), min("t"), max("t"), min("y"), max("x")).collect().head)
        Check.eq(s"meta t=$t0:$t1", (0 to 4).map(i => r.getAs[Number](i).longValue),
          Seq((t1 - t0).toLong * ny * nx, t0.toLong, t1 - 1L, 0L, nx - 1L))
      })
    }
    def limit(): Op = {
      val t = pickT(sel.nt)
      Op("limit", 50L, touch(chunksOf(1, selChunks, t, t + 1, 0, 1, 0, 1)), () => {
        val rows = ctx.execute(ctx.reader(selDir).readArray("v", Map("t" -> DimSel.Range(t, t + 1))).limit(50))(_.collect())
        Check.eq("limit rows", rows.length, 50)
        rows.foreach { row =>
          val (tt, y, x) = (row.getAs[Number]("t").longValue, row.getAs[Number]("y").longValue, row.getAs[Number]("x").longValue)
          Check.eq(s"limit value at ($tt,$y,$x)", row.getAs[Float]("value"), sel.value(tt, y, x))
          Check.eq("limit t", tt, t.toLong)
        }
      })
    }
    // a filtered dimension table: Spark inserts a runtime filter into the
    // scan only when the broadcast side carries a selective predicate
    def dimTable(ts: Seq[Int]) =
      ctx.spark.range(0, sel.nt).toDF("t").filter(col("t").isin(ts.map(_.toLong): _*))
    def join(): Op = {
      val ts = distinctTs(3)
      Op("join_runtime_filter", 3L * ny * nx, touch(tChunks(ts)), () => {
        val keys = dimTable(ts)
        val r = ctx.execute(ctx.reader(selDir).readArray("v").join(broadcast(keys), "t"))(
          _.agg(count(lit(1)), sum((col("value") * 4).cast("long")), sum("y"), sum("x")).collect().head)
        val (c, s) = sel.tSetSum(ts)
        val perT = ts.size.toLong * nx * ny * (ny - 1) / 2
        Check.eq(s"join t=$ts", (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)), (c, s, perT, perT))
      })
    }
    /** The same join with only `value` kept. Planning fails on every run
      * (the scan's runtime-filter attributes name pruned columns), so this
      * operation is counted failed; its keys are fixed, not seeded. */
    def joinPruned(): Op = {
      val ts = Seq(1, 2, 3)
      Op("join_pruned", 3L * ny * nx, touch(tChunks(ts)), () => {
        val keys = dimTable(ts)
        Check.eq(s"join_pruned t=$ts", ctx.countSum(ctx.reader(selDir).readArray("v").join(broadcast(keys), "t")),
          sel.tSetSum(ts))
      })
    }
    def sharded(): Op = {
      val t0 = pickT(shard.nt - 2); val t1 = t0 + 3
      val (y0, y1) = span(shard.ny, 32)
      val want = shard.boxSum(t0, t1, y0, y1, 0, shard.nx)
      Op("sharded_v3", want._1, touch(chunksOf(2, shardChunks, t0, t1, y0, y1, 0, shard.nx)), () =>
        Check.eq(s"shard t=$t0:$t1 y=$y0:$y1", ctx.countSum(ctx.reader(shardDir).readArray("v",
          Map("t" -> DimSel.Range(t0, t1), "y" -> DimSel.Range(y0, y1)))), want))
    }
    def deferred(): Op = {
      val len = 12000
      val g0 = rnd.nextInt(line.nx - len); val g1 = g0 + len
      val want = line.boxSum(0, 1, 0, 1, g0, g1)
      Op("deferred_axis", len.toLong, touch(chunksOf(3, (1, 1, lineChunk), 0, 1, 0, 1, g0, g1)), () =>
        Check.eq(s"deferred i=$g0:$g1", ctx.countSum(ctx.reader(lineDir).readArray("v").filter(
          col("i").between(lineCoord(g0), lineCoord(g1 - 1)))), want))
    }
    Seq(point(), range(), indices(), dimFilter(), band(), meta(), sharded(), deferred(),
      point(), range(), dimFilter(), band(), limit(), join(), joinPruned(), sharded(), deferred())
  }
}
