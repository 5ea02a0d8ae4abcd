package graft.perfbench

import java.nio.file.{Files, Path}

/** Writes the traced run's spans once, after the run: per span its wall
  * and self time (wall minus the part its child spans cover) and the Spark
  * work charged to it; the work no span could claim; the per-layer metrics;
  * and, per end-to-end metric, traced minus untraced as the tracing
  * overhead, next to the listener's own busy time. The untraced rounds run
  * after the traced ones, with more of the code compiled, so the difference
  * is an upper bound; the busy time is the listener's direct cost. */
object Sidecar {
  def write(path: Path, workload: String, seed: Long, h: Harness, acc: Accounting,
            untracedE2e: Map[String, Double], tracedE2e: Map[String, Double],
            layers: Map[String, (Double, String)]): Unit = {
    val spans = h.spans.toSeq
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Long = {
      // children of one span run one after another on the benchmark thread
      children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
    }
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val spanJson = spans.map { s =>
      val w = acc.get(s"pb-${s.id}")
      val wall = (s.endNs - s.startNs) / 1e9
      val self = (s.endNs - s.startNs - covered(s)) / 1e9
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""run": ${Json.str(s.run)}, "start_s": ${Json.num((s.startNs - t0) / 1e9)}, """ +
        s""""end_s": ${Json.num((s.endNs - t0) / 1e9)}, "wall_s": ${Json.num(wall)}, """ +
        s""""self_s": ${Json.num(self)}, ${workJson(w)}}"""
    }
    val un = acc.get(Accounting.Unattributed)
    val overhead = Metrics.endToEnd.map { case (k, u) =>
      s"""${Json.str(k)}: {"untraced": ${Json.num(untracedE2e(k))}, "traced": ${Json.num(tracedE2e(k))}, """ +
        s""""overhead": ${Json.num(tracedE2e(k) - untracedE2e(k))}, "unit": ${Json.str(u)}}"""
    }
    val layerJson = layers.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
    val failures = h.failures.map(Json.str)
    val json =
      s"""{"workload": ${Json.str(workload)}, "seed": $seed,
         |"tracing_overhead": {${overhead.mkString(", ")}},
         |"listener_busy_s": ${Json.num(acc.busyNs / 1e9)},
         |"unattributed": {${workJson(un)}},
         |"per_layer": {${layerJson.mkString(",\n  ")}},
         |"failures": [${failures.mkString(", ")}],
         |"spans": [
         |${spanJson.mkString(",\n")}
         |]}
         |""".stripMargin
    Files.createDirectories(path.getParent)
    Files.writeString(path, json)
    System.err.println(s"[perfbench] trace sidecar: $path")
  }

  private def workJson(w: Work): String =
    s""""jobs": ${w.jobs}, "stages": ${w.stages}, "scans": ${w.scans}, """ +
      s""""sql_execs": ${w.sqlExecs.size}, "shuffle_read_bytes": ${w.shuffleRead}, """ +
      s""""shuffle_write_bytes": ${w.shuffleWrite}"""
}
