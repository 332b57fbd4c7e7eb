package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path => HPath, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One recorded span: a layer boundary crossed by one operation. */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. `span` is a plain call when tracing is off, so
  * untraced runs pay nothing for it. Spans are written when the run ends. */
final class Tracer {
  /** Spans are recorded only while active (traced rounds and probes). */
  @volatile var active = false
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  @volatile var op: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Total time and self time (span minus the parts its children cover)
    * per span name, in ms. Children run on the same thread, so they nest. */
  def selfTimes: Map[String, (Double, Double)] = {
    val childNs = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      n -> ((total / 1e6, self / 1e6))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark scheduler counters per label. The runner tags every job with the
  * local property [[Counters.LabelKey]]; stages inherit the job's label. */
final class Counters extends SparkListener {
  final class Acc {
    val jobs, tasks, taskMs, schedDelayMs, shuffleWriteBytes, spillBytes = new AtomicLong
  }
  private val byLabel = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile var enabled = false

  def acc(label: String): Acc = byLabel.computeIfAbsent(label, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.LabelKey))).getOrElse("other")
    e.stageIds.foreach(id => stageLabel.put(id, label))
    acc(label).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    val a = acc(stageLabel.getOrDefault(e.stageId, "other"))
    val m = e.taskMetrics
    a.tasks.incrementAndGet()
    a.taskMs.addAndGet(m.executorRunTime)
    val info = e.taskInfo
    val delay = info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime
    a.schedDelayMs.addAndGet(math.max(0L, delay))
    a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def labels: Seq[String] = { import scala.jdk.CollectionConverters._; byLabel.keySet.asScala.toSeq }
  def sum(labels: Seq[String])(f: Acc => AtomicLong): Long = labels.map(l => f(acc(l)).get).sum
}

object Counters { val LabelKey = "perfbench.label" }

/** Object-fetch counters at the Hadoop FileSystem boundary that
  * `ZarrFileIO.readBytesIfExists` and `readRange` read through. Traced runs
  * address stores as `cfile://` paths, which Hadoop resolves to
  * [[CountingFileSystem]] — a local filesystem that counts what it serves. */
object Fetch {
  val opens, chunkOpens, bytes, nanos = new AtomicLong
  def snapshot: (Long, Long, Long, Long) = (opens.get, chunkOpens.get, bytes.get, nanos.get)
  val Scheme = "cfile"
  /** Reader storage options that bind the scheme to the counting class. */
  val storageOptions: Map[String, String] = Map(s"fs.$Scheme.impl" -> classOf[CountingFileSystem].getName)
  private val metaNames = Set(".zarray", ".zattrs", ".zgroup", ".zmetadata", "zarr.json")
  /** Value arrays of the workloads; coordinate arrays are named after dims. */
  private val valueArrays = Set("v", "lz4", "zstd", "zlib")
  def isChunk(p: HPath): Boolean =
    !metaNames.contains(p.getName) && p.toUri.getPath.split('/').exists(valueArrays.contains)
}

class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${Fetch.Scheme}:///")
  override def getScheme: String = Fetch.Scheme

  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    val t0 = System.nanoTime()
    val inner = super.open(f, bufferSize)
    Fetch.opens.incrementAndGet()
    if (Fetch.isChunk(f)) Fetch.chunkOpens.incrementAndGet()
    Fetch.nanos.addAndGet(System.nanoTime() - t0)
    new FSDataInputStream(new CountingStream(inner))
  }
}

final class CountingStream(in: FSDataInputStream) extends FSInputStream {
  private def timed(n: => Int): Int = {
    val t0 = System.nanoTime()
    val r = n
    Fetch.nanos.addAndGet(System.nanoTime() - t0)
    if (r > 0) Fetch.bytes.addAndGet(r)
    r
  }
  override def read(): Int = {
    val t0 = System.nanoTime()
    val r = in.read()
    Fetch.nanos.addAndGet(System.nanoTime() - t0)
    if (r >= 0) Fetch.bytes.incrementAndGet()
    r
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = timed(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = timed(in.read(pos, b, off, len))
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}
