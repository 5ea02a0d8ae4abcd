package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftSparkShims
import org.apache.spark.sql.SparkSession

/** One operation of a workload: an algorithm job, a stream batch or a query. */
final case class Op(name: String, phase: String, round: Int, seconds: Double, cpuSeconds: Double,
                    var ok: Boolean)

/** A workload: set-up that can be repeated, and a round of operations in a
  * fixed order. Checks run inside `round`, outside the timed calls. */
trait Workload {
  def setup(h: Harness): Unit
  /** Runs before the first set-up, untimed and in its own phase: the calls
    * of a round once, on inputs as small as a workload allows, so that
    * class loading, Spark's code generation and most JIT compilation happen
    * before anything is timed. */
  def warmup(h: Harness): Unit
  def round(h: Harness): Unit
  /** Figures only the workload knows, for the traced run. Names outside
    * `Metrics.perLayer` go to the sidecar only. */
  def layerMetrics(h: Harness): Map[String, Double]
  /** Work done only in the traced run, after its timed rounds. */
  def tracedExtras(h: Harness): Unit = ()
}

/** Runs one call into a layer at a time from the benchmark's single thread,
  * times it, and (when tracing) records it as a span whose Spark jobs the
  * `Accounting` listener charges to it. */
final class Harness(val spark: SparkSession, val cores: Int, val workDir: String) {
  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  val spans = ArrayBuffer.empty[Span]
  var accounting: Option[Accounting] = None
  var phase = "untraced"
  var round = 0

  private var nextId = 0
  private var parent = -1

  private def open(name: String): Span = {
    val s = Span(nextId, name, parent, phase, System.nanoTime())
    nextId += 1
    if (accounting.isDefined) spans += s
    s
  }

  /** Groups the calls made inside `body` under one span (no Spark job runs
    * directly in it). */
  def group[T](name: String)(body: => T): T = {
    val s = open(name)
    val saved = parent
    parent = s.id
    try body finally { parent = saved; s.endNs = System.nanoTime() }
  }

  /** One timed call into a layer, as an operation when `op` is set. Returns
    * None when it threw or ran past `Harness.TimeoutS`; that operation
    * counts as failed. */
  def call[T](name: String, op: Boolean = true)(body: => T): Option[T] = {
    val s = open(name)
    val cpu0 = Jvm.cpuSeconds
    val res =
      try graft.util.Limits.runWithTimeout(spark, s"pb-${s.id}", Harness.TimeoutS * 1000L)(body)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
      }
    s.endNs = System.nanoTime()
    System.err.println(f"[perfbench] $phase%-8s r$round%-3d $name%-28s ${(s.endNs - s.startNs) / 1e9}%8.3fs")
    if (res.isEmpty) failures += s"$name: failed or timed out"
    if (op) ops += Op(name, phase, round, (s.endNs - s.startNs) / 1e9, Jvm.cpuSeconds - cpu0, res.isDefined)
    res
  }

  /** Records a failed output check against the latest operation `name`. */
  def check(name: String, ok: Boolean, detail: => String): Unit = if (!ok) {
    failures += s"$name: $detail"
    ops.reverseIterator.find(_.name == name).foreach(_.ok = false)
  }

  def drainListener(): Unit = GraftSparkShims.waitListenerBusEmpty(spark.sparkContext)

  /** Spark work charged to the spans named `name` in the current phase. */
  def work(name: String): Seq[Work] = accounting.toSeq.flatMap { a =>
    spans.filter(s => s.name == name && s.run == phase).map(s => a.get(s"pb-${s.id}"))
  }

  /** Timed seconds of the operations named `name` in the current phase. */
  def opSeconds(name: String): Seq[Double] =
    ops.filter(o => o.name == name && o.phase == phase).map(_.seconds).toSeq

  private val recorded = mutable.Map.empty[(String, String), ArrayBuffer[Double]]

  /** Keeps a per-layer figure of the current phase. */
  def record(name: String, v: Double): Unit =
    recorded.getOrElseUpdate((phase, name), ArrayBuffer.empty) += v

  /** Median of the figures recorded under `name` in `in` (by default the
    * current phase), or 0. */
  def recordedMedian(name: String, in: String = phase): Double =
    recorded.get((in, name)).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)

  private var kept = Set.empty[Int]

  /** Marks everything cached so far as the workload's inputs. */
  def keepCached(): Unit = kept = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drops what calls cached beyond the kept inputs (or everything), so each
    * call starts from the same session state: algorithms and queries
    * persist and checkpoint internally. */
  def release(all: Boolean = false): Unit = {
    if (all) kept = Set.empty
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = true)
    }
    spark.catalog.clearCache()
  }
}

object Harness {
  /** Limit of one call: a run must end within 180 s. */
  val TimeoutS = 150
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
