package perfbench

/** The generated value formula and its closed forms — the benchmark's own
  * arithmetic, independent of the program's index math.
  *
  * A cube of shape (nt, ny, nx) holds at flat C-order index
  * `f = (t*ny + y)*nx + x` the f4 value
  *
  * {{{ v(t, y, x) = (t*Q + g(f mod L)) / 4 }}}
  *
  * where g is a seeded table of L values in [0, Q). Sums over a contiguous
  * flat range are whole table periods plus a prefix-sum difference. `4*v`
  * is an integer below 2^24, so every value is exact in f4 and every sum of
  * `4*v` is exact in a long. The period L is longer than any chunk, so a
  * chunk holds no repeat a codec could exploit; values rise in bands of t,
  * so chunk min/max (zone maps) separate by t. */
final case class Cube(nt: Int, ny: Int, nx: Int, table: Array[Int]) {
  import Cube.{L, Q}
  require(nt.toLong * Q + Q < (1L << 24), s"nt=$nt too large for exact f4 values")

  private val prefix: Array[Long] = table.scanLeft(0L)(_ + _)
  val cells: Long = nt.toLong * ny * nx
  def flat(t: Long, y: Long, x: Long): Long = (t * ny + y) * nx + x
  def residue(f: Long): Long = table((f % L).toInt)
  /** 4 * value at (t, y, x), as an exact integer. */
  def quad(t: Long, y: Long, x: Long): Long = t * Q + residue(flat(t, y, x))
  def value(t: Long, y: Long, x: Long): Float = quad(t, y, x).toFloat * 0.25f

  /** Sum of g over flats [0, n). */
  private def upTo(n: Long): Long = (n / L) * prefix(L) + prefix((n % L).toInt)
  /** Sum of residues over flats [from, until). */
  def residueSum(from: Long, until: Long): Long = upTo(until) - upTo(from)

  /** Count and sum of residues in [rlo, rhi] over flats [from, until). */
  def residueBand(from: Long, until: Long, rlo: Long, rhi: Long): (Long, Long) = {
    def in(r: Int) = r >= rlo && r <= rhi
    val cycles = (until - from) / L
    var c = 0L; var s = 0L
    if (cycles > 0) table.foreach(r => if (in(r)) { c += cycles; s += cycles * r })
    var f = from + cycles * L
    while (f < until) { val r = table((f % L).toInt); if (in(r)) { c += 1; s += r }; f += 1 }
    (c, s)
  }

  /** (count, sum of 4*v) over the box [t0,t1) x [y0,y1) x [x0,x1). */
  def boxSum(t0: Int, t1: Int, y0: Int, y1: Int, x0: Int, x1: Int): (Long, Long) = {
    val rowLen = (x1 - x0).toLong
    val cnt = (t1 - t0).toLong * (y1 - y0) * rowLen
    var s = 0L
    var t = t0
    while (t < t1) {
      s += t.toLong * Q * (y1 - y0) * rowLen
      if (x0 == 0 && x1 == nx) s += residueSum(flat(t, y0, 0), flat(t, y1, 0))
      else {
        var y = y0
        while (y < y1) { s += residueSum(flat(t, y, x0), flat(t, y, x1)); y += 1 }
      }
      t += 1
    }
    (cnt, s)
  }

  /** (count, sum of 4*v) over the rows whose t is in `ts` (full y, x). */
  def tSetSum(ts: Iterable[Int]): (Long, Long) =
    ts.iterator.map(t => boxSum(t, t + 1, 0, ny, 0, nx)).foldLeft((0L, 0L)) { case ((c, s), (c1, s1)) =>
      (c + c1, s + s1)
    }

  /** (count, sum of 4*v) of the cells whose 4*v lies in [qlo, qhi]. */
  def quadBand(qlo: Long, qhi: Long): (Long, Long) = {
    var c = 0L; var s = 0L
    val tFirst = math.max(0L, qlo / Q).toInt
    val tLast = math.min(nt - 1L, qhi / Q).toInt
    var t = tFirst
    while (t <= tLast) {
      val rlo = math.max(0L, qlo - t.toLong * Q)
      val rhi = math.min(Q - 1, qhi - t.toLong * Q)
      if (rlo <= rhi) {
        val (c1, s1) = residueBand(flat(t, 0, 0), flat(t + 1, 0, 0), rlo, rhi)
        c += c1; s += s1 + c1 * t.toLong * Q
      }
      t += 1
    }
    (c, s)
  }

  /** Raw little-endian f4 bytes of chunk (ct, cy, cx) of a (kt, ky, kx)
    * chunk grid; edge chunks are padded with zeros like any zarr chunk. */
  def chunkBytes(kt: Int, ky: Int, kx: Int, ct: Int, cy: Int, cx: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(kt * ky * kx * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    var dt = 0
    while (dt < kt) {
      val t = ct * kt + dt
      var dy = 0
      while (dy < ky) {
        val y = cy * ky + dy
        var dx = 0
        while (dx < kx) {
          val x = cx * kx + dx
          if (t < nt && y < ny && x < nx) buf.putFloat(i * 4, value(t, y, x))
          i += 1; dx += 1
        }
        dy += 1
      }
      dt += 1
    }
    buf.array()
  }
}

object Cube {
  /** Band width of one t step, in quarter units. */
  val Q: Long = 4096L
  /** Period of the value table, in cells. */
  val L: Int = 1 << 17

  /** A seeded cube: the value table comes from the seed and a salt. */
  def seeded(nt: Int, ny: Int, nx: Int, seed: Long, salt: Long): Cube = {
    val rnd = new java.util.Random(seed * 1000003L + salt)
    Cube(nt, ny, nx, Array.fill(L)(rnd.nextInt(Q.toInt)))
  }
}
