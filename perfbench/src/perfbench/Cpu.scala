package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** CPU time of this process.
  *
  * The kernel counts a thread's run time only while it runs on a CPU. Time
  * the hypervisor gives a vCPU to another guest (steal, which this kernel
  * subtracts with paravirtual time accounting) and time a thread waits for
  * a CPU are not in it. Wall time carries both: on the shared 4-vCPU VM
  * the benchmark was tuned on, identical runs drifted by 2x in wall time
  * over minutes, and by about 15 % in CPU time. */
object Cpu {
  private val NsPerTick = 1000000000L / 100 // USER_HZ

  /** utime + stime of the whole process, exited threads included, in ns
    * (10-ms resolution). */
  def processNs: Long = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    // fields after the parenthesised command name; utime and stime are fields 14 and 15
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) * NsPerTick
  }

  private val Threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time between calls, in ns, summed over the JVM's Java threads: the
    * driver, Spark's task threads and Spark's own service threads. The JIT
    * compiler threads are not among them: Spark generates new classes for
    * every query, and compiling them takes CPU in bursts that fall on
    * whichever operation is running, which would make one operation's figure
    * swing by a third. GC threads are not counted either; they used under 1 %
    * of the CPU in the timed phase of either workload. A thread that ends
    * between two calls loses only what it ran since the first. */
  final class Meter {
    private var last = new java.util.HashMap[java.lang.Long, java.lang.Long]()

    /** CPU ns since the previous call. */
    def lap(): Long = {
      val ids = Threads.getAllThreadIds
      val ns = Threads.getThreadCpuTime(ids)
      val now = new java.util.HashMap[java.lang.Long, java.lang.Long](ids.length * 2)
      var delta = 0L
      var i = 0
      while (i < ids.length) {
        if (ns(i) >= 0) {
          now.put(ids(i), ns(i))
          delta += ns(i) - last.getOrDefault(ids(i), 0L)
        }
        i += 1
      }
      last = now
      delta
    }
  }
}
