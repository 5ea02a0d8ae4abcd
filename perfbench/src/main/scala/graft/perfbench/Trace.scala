package graft.perfbench

import java.io.{File, IOException}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer, or a grouping around such calls.
  * `run` tells the untraced and the traced phase of a run apart. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long = 0L)

/** Spark work charged to one job group. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var scans = 0L // stages whose tasks read stored input (files or cached blocks)
  var shuffleRead = 0L
  var shuffleWrite = 0L
  val sqlExecs: mutable.Set[String] = mutable.Set.empty
}

/** Charges jobs, stages, shuffle bytes and SQL executions to the job group
  * they ran under. Every call the benchmark makes into a layer runs under the
  * group `pb-<span id>` (set by `graft.util.Limits.runWithTimeout`); work in
  * any other group, or in none, is kept under `Accounting.Unattributed`.
  * Listener events arrive on Spark's single listener-bus thread; readers
  * drain the bus first (`GraftSparkShims.waitListenerBusEmpty`). */
final class Accounting extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def key(p: java.util.Properties): String = {
    val g = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull
    if (g != null && g.startsWith("pb-")) g else Accounting.Unattributed
  }
  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  /** Time spent inside this listener's callbacks: the tracing's own cost on
    * the listener-bus thread. */
  var busyNs = 0L
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(timed {
    val g = key(e.properties)
    val w = work(g)
    w.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(w.sqlExecs += _)
    e.stageIds.foreach(stageGroup(_) = g)
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(timed {
    val info = e.stageInfo
    val w = work(stageGroup.getOrElse(info.stageId, Accounting.Unattributed))
    w.stages += 1
    val m = info.taskMetrics
    if (m != null) {
      if (m.inputMetrics.recordsRead > 0) w.scans += 1
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  })

  def get(group: String): Work = synchronized(byGroup.getOrElse(group, new Work))
}

object Accounting { val Unattributed = "unattributed" }

/** Process-wide CPU time, GC time and peak heap, from the JVM's MXBeans
  * and, for the JIT compiler threads, from Linux's /proc. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the threads that run the program: tasks, driver, listeners
    * and GC. The JIT compiler threads are left out: in a run's first timed
    * round they still compile in the background, and their share varies
    * from run to run with what the program does not control. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9 - jitSeconds

  /** CPU time of the JIT compiler threads, from `/proc/self/task/<tid>/stat`
    * (user + system ticks of 10 ms); 0 where there is no /proc. The JVM must
    * run with `-XX:-UseDynamicNumberOfCompilerThreads`, so that no compiler
    * thread exits and takes its time with it. */
  def jitSeconds: Double = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0.0
        else {
          // fields after the name start at the state, field 3; utime and
          // stime are fields 14 and 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: IOException => 0.0 } // the thread has ended
    }.sum
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since `resetPeak` (an upper bound on the
    * true simultaneous peak, since pools peak at different times). */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
