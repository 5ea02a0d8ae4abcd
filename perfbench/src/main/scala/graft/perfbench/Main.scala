package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The metric names of BENCHMARK.json. Every run reports every name of its
  * kind: end-to-end names untraced, per-layer names traced. A layer the
  * workload never enters reports 0. Figures a workload knows beyond these
  * go to the sidecar only. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "round_cpu_s" -> "s")

  private val algos = Seq("pagerank", "csr", "cc", "lp", "bfs")

  val perLayer: Seq[(String, String)] =
    Seq("setup_wall_s" -> "s", "round_wall_s" -> "s", "jvm.gc_s" -> "s", "jvm.jit_cpu_s" -> "s",
      "jvm.heap_peak_mb" -> "MB",
      "pages.extract_s" -> "s", "pages.pages_per_s" -> "1/s",
      "graph.undirected_s" -> "s") ++
      algos.flatMap(a => Seq(s"algo.$a.supersteps" -> "count", s"algo.$a.superstep_s_p50" -> "s",
        s"algo.$a.jobs" -> "count", s"algo.$a.shuffle_bytes" -> "bytes")) ++
      Seq("algo.csr.build_s" -> "s", "algo.csr.edges_per_s" -> "1/s",
        "algo.triangles.jobs" -> "count", "algo.triangles.shuffle_bytes" -> "bytes",
        "algo.bfs.depth_max" -> "count",
        "state.commits" -> "count", "state.snapshot_bytes" -> "bytes", "state.overhead_s" -> "s",
        "ingest_s" -> "s", "pagerank_s" -> "s", "csr_pagerank_s" -> "s", "cc_s" -> "s",
        "labelprop_s" -> "s", "triangles_s" -> "s", "bfs_s" -> "s",
        "matching.init_s" -> "s", "stream.parse_s" -> "s",
        "matching.batch_s_max" -> "s", "matching.batches" -> "count",
        "matching.jobs_per_batch" -> "count", "matching.sql_execs_per_batch" -> "count",
        "matching.scans_per_batch" -> "count",
        "matching.searches_run" -> "count", "matching.searches_skipped" -> "count",
        "matching.safe_updates" -> "count", "matching.updates" -> "count",
        "stream_upd_per_s" -> "1/s", "stream_1w_upd_per_s" -> "1/s", "batch_s_p50" -> "s",
        "catalogue_s" -> "s") ++
      Catalogue.names.flatMap(q => Seq(s"catalogue.$q.s" -> "s", s"catalogue.$q.jobs" -> "count"))
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --data <dir>
  * --work <dir> --traces <dir>`; `--workload classes` loads the classes of
  * every workload and exits.
  *
  * Runs one workload in this JVM at local[cores]: the workload's untimed
  * warm-up and one untimed set-up, set-up three times, then rounds of
  * operations in a fixed order
  * until `seconds` have passed (at least one round). Prints one JSON line
  * on stdout and exits 1 if an output check failed.
  *
  * The end-to-end times are CPU seconds of the JVM without its JIT compiler
  * threads (`Jvm.cpuSeconds`), not wall time: on a shared 4-core VM, wall
  * times of identical runs drifted by up to 50% over half an hour
  * (hypervisor steal up to 16%, and slower phases without it), which no run
  * length averages out. The wall times are per-layer metrics of the traced
  * run.
  *
  * With `--trace 1` the rounds run twice, traced then untraced, so that the
  * traced rounds are the ones an untraced run times. The per-layer metrics
  * come from the traced rounds. Traced minus untraced bounds the tracing
  * overhead from above: the later rounds run with more of the code
  * compiled. A sidecar with spans, self times and unattributed
  * work is written to `<traces>/<workload>-seed<n>.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))
    val spark = session(cores, work)
    val h = new Harness(spark, cores, work)
    if (name == "classes") {
      // loads the classes every workload's calls use, for run.py's
      // class-data archive, which the JVM writes when it exits
      val cat = new Catalogue(opts("data"))
      Seq(new CrawlBulk(seed), new CsmStream(seed), cat).foreach(_.warmup(h))
      cat.round(h)
      spark.stop()
      Runtime.getRuntime.halt(if (h.failures.isEmpty) 0 else 1)
    }
    val w: Workload = name match {
      case "crawl_bulk" => new CrawlBulk(seed)
      case "csm_stream" => new CsmStream(seed)
      case "catalogue" => new Catalogue(opts("data"))
      case other => sys.error(s"unknown workload $other")
    }

    h.phase = "warmup"
    val w0 = System.nanoTime()
    h.group("warmup")(w.warmup(h))
    System.err.println(s"[perfbench] warm-up wall ${(System.nanoTime() - w0) / 1e9}")
    h.phase = "setup"
    // the first set-up at full size runs colder code than the ones after
    // it, and is left out like the warm-up
    h.group("setup")(w.setup(h))
    val setups = (1 to 3).map { _ =>
      val (t0, cpu0) = (System.nanoTime(), Jvm.cpuSeconds)
      h.group("setup")(w.setup(h))
      ((System.nanoTime() - t0) / 1e9, Jvm.cpuSeconds - cpu0)
    }
    val setupS = Stats.median(setups.map(_._2))
    val setupWallS = Stats.median(setups.map(_._1))
    System.err.println(s"[perfbench] set-ups wall ${setups.map(_._1).mkString(" ")} cpu ${setups.map(_._2).mkString(" ")}")
    val result = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      h.phase = "untraced"
      val e2e = endToEnd(setupS, measure(h, w, seconds))
      Metrics.endToEnd.foreach { case (k, u) => result(k) = (e2e(k), u) }
    } else {
      val acc = new Accounting
      spark.sparkContext.addSparkListener(acc)
      h.accounting = Some(acc)
      h.phase = "traced"
      val (gc0, jit0) = (Jvm.gcSeconds, Jvm.jitSeconds)
      Jvm.resetPeak()
      val traced = measure(h, w, seconds)
      val gcS = Jvm.gcSeconds - gc0
      val jitS = Jvm.jitSeconds - jit0
      val heapMb = Jvm.heapPeakMb
      w.tracedExtras(h)
      h.drainListener()
      spark.sparkContext.removeSparkListener(acc)
      val layers = w.layerMetrics(h) ++ Map("jvm.gc_s" -> gcS, "jvm.jit_cpu_s" -> jitS,
        "jvm.heap_peak_mb" -> heapMb,
        "setup_wall_s" -> setupWallS,
        "round_wall_s" -> Stats.median(traced.groupBy(_.round).values.map(_.map(_.seconds).sum).toSeq))
      Metrics.perLayer.foreach { case (k, u) => result(k) = (layers.getOrElse(k, 0.0), u) }
      val extra = (layers -- result.keys).map { case (k, v) => k -> (v, if (k.endsWith(".jobs")) "count" else "s") }
      h.accounting = None
      h.phase = "untraced"
      val untraced = measure(h, w, seconds)
      Sidecar.write(Paths.get(opts("traces"), s"$name-seed$seed.json"), name, seed, h, acc,
        untracedE2e = endToEnd(setupS, untraced), tracedE2e = endToEnd(setupS, traced),
        layers = result.toMap ++ extra)
    }

    val attempted = h.ops.size
    val failed = h.ops.count(!_.ok)
    val correct = h.failures.isEmpty
    h.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
    val metrics = result.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metrics}""")
    System.out.flush()
    // Spark's shutdown hooks have nothing left to do once the session is
    // stopped; halting keeps a stray non-daemon thread from holding the exit.
    Runtime.getRuntime.halt(if (correct && failed == 0) 0 else 1)
  }

  /** Rounds until `seconds` of wall time have passed, at least one.
    * Returns their operations. */
  private def measure(h: Harness, w: Workload, seconds: Double): Seq[Op] = {
    val first = h.round + 1
    val t0 = System.nanoTime()
    while (h.round < first || (System.nanoTime() - t0) / 1e9 < seconds) {
      h.round += 1
      h.group("round")(w.round(h))
    }
    h.ops.filter(o => o.round >= first).toSeq
  }

  /** `round_cpu_s` is the median over rounds of the JVM CPU time the
    * round's operations took (set-up inside a round, such as a fresh stream
    * driver, is not an operation). */
  private def endToEnd(setupS: Double, ops: Seq[Op]): Map[String, Double] =
    Map("setup_s" -> setupS,
      "round_cpu_s" -> Stats.median(ops.groupBy(_.round).values.map(_.map(_.cpuSeconds).sum).toSeq))

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
