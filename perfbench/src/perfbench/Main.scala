package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** An output that disagrees with the benchmark's own computation. */
final class CheckFailed(msg: String) extends Exception(msg)

/** One timed operation. `run` builds fresh Datasets, executes them and
  * checks the output; `cells` is the number of cells it reads or writes and
  * `chunksNeeded` the chunks its selection intersects (own index math). */
final case class Op(kind: String, cells: Long, chunksNeeded: Long, run: () => Unit)

/** What one run shares with its workload. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val work: Path,
    val threads: Int,
    val tracer: Tracer,
    val counters: Counters
) {
  /** Traced rounds read stores through the counting filesystem. */
  @volatile var counting = false
  private val planned = ArrayBuffer[DataFrame]()

  def uri(p: Path): String = if (counting) s"${Fetch.Scheme}://${p.toAbsolutePath}" else p.toAbsolutePath.toString
  def storageOptions: Map[String, String] = if (counting) Fetch.storageOptions else Map.empty
  def reader(p: Path): graft.api.ZarrDataReader =
    new graft.api.ZarrDataReader(spark, uri(p), storageOptions = storageOptions)

  /** Plan `df` (span `zarr.plan`), then run `action` on it (span `exec`). */
  def execute[T](df: => DataFrame)(action: DataFrame => T): T = {
    val d = tracer.span("zarr.plan") { val d = df; d.queryExecution.executedPlan; d }
    if (tracer.active) planned += d
    tracer.span("exec")(action(d))
  }

  /** (count, sum of 4*value) of a frame with a `value` column. */
  def countSum(df: => DataFrame): (Long, Long) =
    execute(df)(_.agg(count(lit(1)), sum((col("value") * 4).cast("long"))).collect().head) match {
      case Row(c: Long, s: Long) => (c, s)
      case Row(c: Long, null) => (c, 0L)
    }

  /** Run `body` as layer `name`: a span, and its Spark jobs labelled so. */
  def layer[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Counters.LabelKey)
    sc.setLocalProperty(Counters.LabelKey, name)
    try tracer.span("zarr." + name)(body)
    finally sc.setLocalProperty(Counters.LabelKey, outer)
  }

  def drainPlanned(): Seq[DataFrame] = { val r = planned.toList; planned.clear(); r }
}

trait Workload {
  /** Generate the inputs into `dir`. */
  def setup(dir: Path): Unit
  /** The operations of round `r`; every round has the same kinds in the same order. */
  def round(r: Int): Seq[Op]
  /** Untimed clean-up after a round. */
  def afterRound(r: Int): Unit = ()
  /** (bytes, objects, cells) of the stores the workload reads or wrote. */
  def footprint: (Long, Long, Long)
  /** The store and array the layer probes read. */
  def probeArray: (Path, String)
  /** Untimed rounds before the timed phase, counted in the set-up. */
  def warmRounds: Int
  /** A line about the generated inputs, for the run's state record. */
  def summary: String = ""
  /** Traced-run extras measured outside the timed rounds. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}

object Check {
  def eq(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
  def near(what: String, got: Double, want: Double, rel: Double = 1e-9): Unit =
    if (math.abs(got - want) > rel * math.max(1.0, math.abs(want)))
      throw new CheckFailed(s"$what: got $got, want $want")
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, t0Ms: Long, work: Path,
                        corrupt: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(
      m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.get("t0-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      Paths.get(m("work")), m.getOrElse("selftest", "0") == "1"
    )
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def usedHeapAfterGc(): Double = {
    System.gc()
    val mx = ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def workloadOf(name: String, ctx: Ctx, corrupt: Boolean): Workload = name match {
    case "zarr-scan" => new ScanWorkload(ctx, corrupt)
    case "zarr-select" => new SelectWorkload(ctx)
    case "zarr-write" => new WriteWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Every BatchScanExec of an executed plan, through AQE stages. */
  def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val threads = Runtime.getRuntime.availableProcessors()
    val heapMb = Runtime.getRuntime.maxMemory / 1048576.0
    val stateStart = (threads, loadAvg)
    Files.createDirectories(args.work)
    val spark = graft.Sessions.local(threads.toString)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer
    val ctx = new Ctx(spark, args.seed, args.work, threads, tracer, counters)
    val wl = workloadOf(args.workload, ctx, args.corrupt)
    val sessionS = (System.currentTimeMillis() - args.t0Ms) / 1000.0
    val sessionCpuS = Cpu.processNs / 1e9

    // inputs are generated three times; the median generation time counts
    val gen = (0 until 3).map { i =>
      val dir = args.work.resolve(s"inputs$i")
      val (t, c) = (System.nanoTime(), Cpu.processNs)
      wl.setup(dir)
      val s = ((System.nanoTime() - t) / 1e9, (Cpu.processNs - c) / 1e9)
      if (i < 2) Stores.delete(dir)
      s
    }
    val genS = gen.map(_._1)
    var heapPeak = usedHeapAfterGc()

    var attempted = 0L
    var failed = 0L
    var mismatched = 0L
    // per timed round: each op position's latency and CPU time, and the
    // completed ops' count and cells
    val roundLat = ArrayBuffer[Array[Double]]()
    val roundCpu = ArrayBuffer[Array[Double]]()
    val meter = new Cpu.Meter
    var okOps = 0L
    var cells = 0L
    var chunksNeeded = 0L
    var round = 0

    val reported = scala.collection.mutable.Set[String]()
    /** Runs `op`; returns its wall and CPU milliseconds. */
    def runOp(op: Op, record: Boolean): (Double, Double) = {
      meter.lap()
      val t = System.nanoTime()
      val ok =
        try { spark.sparkContext.setLocalProperty(Counters.LabelKey, op.kind); op.run(); true }
        catch {
          case e: CheckFailed =>
            System.err.println(s"[perfbench] ${op.kind} wrong: ${e.getMessage}"); if (record) mismatched += 1; false
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.kind} failed: $e")
            if (reported.add(op.kind)) e.getStackTrace.take(12).foreach(f => System.err.println(s"[perfbench]   at $f"))
            false
        } finally spark.sparkContext.setLocalProperty(Counters.LabelKey, null)
      val ms = (System.nanoTime() - t) / 1e6
      val cpuMs = meter.lap() / 1e6
      if (record) {
        attempted += 1
        if (!ok) failed += 1
        else { okOps += 1; cells += op.cells; chunksNeeded += op.chunksNeeded }
      }
      (ms, cpuMs)
    }

    // warm-up: a fixed number of whole rounds, so that set-up does the same
    // work on every run
    val (warmStart, warmCpu) = (System.nanoTime(), Cpu.processNs)
    val roundMs = (0 until wl.warmRounds).map { _ =>
      val ops = wl.round(round)
      val ms = ops.map(op => runOp(op, record = false)._2).sum
      wl.afterRound(round)
      round += 1
      ms
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val warmCpuS = (Cpu.processNs - warmCpu) / 1e9
    heapPeak = math.max(heapPeak, usedHeapAfterGc())
    val setupS = sessionS + median(genS) + warmS
    val setupCpuS = sessionCpuS + median(gen.map(_._2)) + warmCpuS

    // timed phase: whole rounds until `seconds` have passed; a traced run
    // alternates untraced and traced rounds and reports the difference
    val tracedMs = ArrayBuffer[Double]()
    val plainMs = ArrayBuffer[Double]()
    var tracedOps = 0L
    var gcTraced = 0L
    var fetchTraced = Array.fill(4)(0L)
    var plans = Seq.empty[DataFrame]
    var needTraced = 0L
    val phaseStart = System.nanoTime()
    while ((System.nanoTime() - phaseStart) / 1e9 < args.seconds || (args.trace && tracedMs.isEmpty)) {
      val tracedRound = args.trace && round % 2 == 1
      ctx.counting = tracedRound
      tracer.active = tracedRound
      counters.enabled = tracedRound
      val (a0, n0) = (attempted, chunksNeeded)
      val f0 = Fetch.snapshot
      val g0 = gcMs
      val ops = wl.round(round)
      val res = ops.map { op => tracer.op += 1; tracer.span("op." + op.kind)(runOp(op, record = true)) }
      val lat = res.map(_._1).toArray
      val ms = lat.sum
      roundLat += lat
      roundCpu += res.map(_._2).toArray
      wl.afterRound(round)
      round += 1
      if (tracedRound) {
        tracedMs += ms
        tracedOps += attempted - a0
        needTraced += chunksNeeded - n0
        gcTraced += gcMs - g0
        val f1 = Fetch.snapshot
        fetchTraced = Array(
          fetchTraced(0) + f1._1 - f0._1, fetchTraced(1) + f1._2 - f0._2,
          fetchTraced(2) + f1._3 - f0._3, fetchTraced(3) + f1._4 - f0._4
        )
        plans = plans ++ ctx.drainPlanned()
      } else plainMs += ms
    }
    ctx.counting = false; tracer.active = false; counters.enabled = false
    heapPeak = math.max(heapPeak, usedHeapAfterGc())
    val stateEnd = (Runtime.getRuntime.availableProcessors(), loadAvg)
    val (bytes, objects, storeCells) = wl.footprint

    // rounds repeat the same op kinds in the same order: each position's
    // median across rounds makes a median round, robust to one slow round
    def positions(rounds: ArrayBuffer[Array[Double]]): Seq[Double] =
      rounds.head.indices.map(i => median(rounds.map(_(i)).toSeq))
    val positionMs = positions(roundLat)
    val medianRoundMs = positionMs.sum
    val positionCpu = positions(roundCpu)
    val medianRoundCpu = positionCpu.sum
    val rounds = roundLat.length
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        Seq(
          ("setup_s", setupCpuS, "s"),
          ("heap_peak_mb", heapPeak, "MB"),
          ("mcells_cpu_s", cells / 1e6 / rounds / (medianRoundCpu / 1e3), "Mcells/s"),
          ("cpu_ms_op", medianRoundCpu / (okOps.toDouble / rounds), "ms"),
          ("op_cpu_p50_ms", median(positionCpu), "ms"),
          ("store_bytes_per_cell", bytes.toDouble / storeCells, "B/cell")
        )
      } else {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        val roundLabels = counters.labels
        // the sink and append layers: one zarr-write round, traced, after the timed rounds
        if (!wl.isInstanceOf[WriteWorkload]) {
          val w = new WriteWorkload(ctx)
          w.setup(args.work.resolve("write-probe"))
          tracer.active = true; counters.enabled = true
          w.round(0).foreach { op => tracer.op += 1; tracer.span("op." + op.kind)(runOp(op, record = true)) }
          tracer.active = false; counters.enabled = false
          org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        }
        traceMetrics(ctx, wl, counters, roundLabels, tracer, plans, tracedOps, needTraced, fetchTraced, gcTraced,
          median(tracedMs.toSeq), median(plainMs.toSeq), bytes, objects)
      }

    System.err.println(
      f"[perfbench] state nproc=${stateStart._1}->${stateEnd._1} heap_mb=$heapMb%.0f " +
        f"load1=${stateStart._2}%.2f->${stateEnd._2}%.2f rounds=$round ops=$attempted failed=$failed ${wl.summary}"
    )
    System.err.println(
      f"[perfbench] cpu session_s=$sessionCpuS%.2f gen_s=${gen.map(g => f"${g._2}%.2f").mkString("/")} " +
        f"warm_s=$warmCpuS%.2f warm_round_ms=${roundMs.map(m => f"$m%.0f").mkString("/")} " +
        f"round_ms=${roundCpu.map(r => f"${r.sum}%.0f").mkString("/")} median_round_ms=$medianRoundCpu%.0f " +
        f"op_ms=${wl.round(0).map(_.kind).zip(positionCpu).map { case (k, v) => f"$k:$v%.0f" }.mkString(",")}"
    )
    // wall-clock figures, for reading alongside; they carry the host's steal
    System.err.println(
      f"[perfbench] wall setup_s=$setupS%.2f session_s=$sessionS%.2f gen_s=${genS.map(g => f"$g%.2f").mkString("/")} " +
        f"warm_s=$warmS%.2f round_ms=${roundLat.map(r => f"${r.sum}%.0f").mkString("/")} " +
        f"mcells_s=${cells / 1e6 / rounds / (medianRoundMs / 1e3)}%.3f " +
        f"ops_s=${okOps.toDouble / rounds / (medianRoundMs / 1e3)}%.3f op_p50_ms=${median(positionMs)}%.1f"
    )
    if (args.trace) tracer.write(args.work.resolve("spans.jsonl"))
    spark.stop()
    val metricJson = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${mismatched == 0},"attempted":$attempted,"failed":$failed,"metrics":{$metricJson}}""")
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def traceMetrics(
      ctx: Ctx, wl: Workload, counters: Counters, labels: Seq[String], tracer: Tracer, plans: Seq[DataFrame], ops: Long,
      needed: Long, fetch: Array[Long], gcTraced: Long, tracedMs: Double, plainMs: Double,
      storeBytes: Long, storeObjects: Long
  ): Seq[(String, Double, String)] = {
    val perOp = 1.0 / math.max(1L, ops)
    val spans = tracer.selfTimes
    def spanMs(n: String): Double = spans.get(n).map(_._1).getOrElse(0.0)
    def opCount(kind: String): Long = tracer.all.count(_.name == "op." + kind)
    def perKind(kind: String)(v: Double): Double = { val n = opCount(kind); if (n == 0) 0.0 else v / n }
    def perSpan(name: String)(v: Double): Double = { val n = tracer.all.count(_.name == name); if (n == 0) 0.0 else v / n }

    // planning: partitions and chunk ordinals of every Zarr scan planned
    val planStats = plans.flatMap(d => scans(d.queryExecution.executedPlan)).map { b =>
      val parts = b.partitions.flatten
      val ords = parts.collect { case p: graft.sources.zarr.ZarrInputPartition => p.end - p.start }.sum
      (parts.length.toLong, ords)
    }
    val probe = Probes.run(ctx, wl)
    val extra = wl.probes(ctx)
    val sinkL = Seq("sink"); val appL = Seq("append"); val metaL = Seq("meta")
    Seq(
      ("zarr.fetch.objects", fetch(1) * perOp, "objects/op"),
      ("zarr.fetch.mb", fetch(2) / 1048576.0 * perOp, "MB/op"),
      ("zarr.fetch.ms", fetch(3) / 1e6 * perOp, "ms/op"),
      ("zarr.decode.ms", probe("decode_ms"), "ms/chunk"),
      ("zarr.decode.blosc_lz4.mcells_s", probe("decode_blosc_lz4"), "Mcells/s"),
      ("zarr.decode.zstd.mcells_s", probe("decode_zstd"), "Mcells/s"),
      ("zarr.decode.zlib.mcells_s", probe("decode_zlib"), "Mcells/s"),
      ("zarr.chunk.read_ms", probe("chunk_read_ms"), "ms/chunk"),
      ("zarr.scan.value_mcells_s", probe("value_mcells_s"), "Mcells/s"),
      ("zarr.scan.rows_mcells_s", probe("rows_mcells_s"), "Mcells/s"),
      ("zarr.expand.ms", probe("expand_ms"), "ms/scan"),
      ("zarr.encode.blosc_lz4.mcells_s", probe("encode_blosc_lz4"), "Mcells/s"),
      ("zarr.encode.zstd.mcells_s", probe("encode_zstd"), "Mcells/s"),
      ("zarr.plan.ms", spanMs("zarr.plan") * perOp, "ms/op"),
      ("zarr.plan.partitions", planStats.map(_._1).sum.toDouble * perOp, "count/op"),
      ("zarr.plan.chunks_planned", planStats.map(_._2).sum.toDouble * perOp, "count/op"),
      ("zarr.plan.useful_ratio", if (fetch(1) == 0) 0.0 else needed.toDouble / fetch(1), "ratio"),
      ("zarr.stats.meta_agg_ms", perKind("meta")(spanMs("op.meta")), "ms/op"),
      ("zarr.stats.meta_agg_jobs", perKind("meta")(counters.sum(metaL)(_.jobs).toDouble), "jobs/op"),
      ("zarr.stats.zone_skipped_chunks", extra.getOrElse("zone_skipped_chunks", 0.0), "count/op"),
      ("zarr.sink.ms", perSpan("zarr.sink")(spanMs("zarr.sink")), "ms/write"),
      ("zarr.sink.jobs", perSpan("zarr.sink")(counters.sum(sinkL)(_.jobs).toDouble), "jobs/write"),
      ("zarr.sink.task_ms", perSpan("zarr.sink")(counters.sum(sinkL)(_.taskMs).toDouble), "ms/write"),
      ("zarr.sink.shuffle_write_mb", perSpan("zarr.sink")(counters.sum(sinkL)(_.shuffleWriteBytes) / 1048576.0), "MB/write"),
      ("zarr.sink.spill_mb", perSpan("zarr.sink")(counters.sum(sinkL)(_.spillBytes) / 1048576.0), "MB/write"),
      ("zarr.append.ms", perSpan("zarr.append")(spanMs("zarr.append")), "ms/write"),
      ("zarr.append.jobs", perSpan("zarr.append")(counters.sum(appL)(_.jobs).toDouble), "jobs/write"),
      ("zarr.append.shuffle_write_mb", perSpan("zarr.append")(counters.sum(appL)(_.shuffleWriteBytes) / 1048576.0), "MB/write"),
      ("zarr.store.bytes", storeBytes.toDouble, "B"),
      ("zarr.store.objects", storeObjects.toDouble, "count"),
      ("jvm.gc_ms", gcTraced * perOp, "ms/op"),
      ("spark.jobs", counters.sum(labels)(_.jobs) * perOp, "jobs/op"),
      ("spark.tasks", counters.sum(labels)(_.tasks) * perOp, "tasks/op"),
      ("spark.task_ms", counters.sum(labels)(_.taskMs) * perOp, "ms/op"),
      ("spark.scheduler_delay_ms", counters.sum(labels)(_.schedDelayMs) * perOp, "ms/op"),
      // self time of operation spans: what planning, execution and the layer
      // spans do not cover — mostly the benchmark's own checks
      ("bench.op_self_ms", spans.collect { case (n, (_, self)) if n.startsWith("op.") => self }.sum * perOp, "ms/op"),
      ("trace.overhead_pct", if (plainMs == 0) 0.0 else (tracedMs / plainMs - 1) * 100, "%")
    )
  }
}
