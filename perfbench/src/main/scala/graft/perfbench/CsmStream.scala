package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{GraphUpdate, TextGraph}
import graft.matching.{GraphMatcher, MatchClassifier, MultiQueryDriver, QueryGraph}

/** Size of the co-purchase graph and of the update stream. */
final case class StreamSize(parts: Int, orders: Int, streamParts: Int, ops: Int)

object StreamSize {
  val Default: StreamSize = StreamSize(parts = 2000, orders = 3000, streamParts = 800, ops = 8000)
  /** The warm-up's base graph and stream, a few seconds' worth. */
  val Warmup: StreamSize = StreamSize(parts = 200, orders = 300, streamParts = 100, ops = 400)
}

/** `csm_stream`: continuous multi-query matching. A seeded insert/delete
  * stream (70% / 30%), written and re-parsed in the reference text format,
  * runs through `MultiQueryDriver` with materialized state over a seeded
  * labeled co-purchase graph, for the queries p012, p123 and tri1. Each
  * round replays the same stream twice, each time on a fresh driver: in
  * `Windows` batches, then as one batch. Vertex label = id % 4 and edge
  * label = (src + dst) % 3, as in the catalogue's labeled graph.
  * `recountShift` lets tests corrupt the expected counts. */
final class CsmStream(seed: Long, size: StreamSize = StreamSize.Default,
                      recountShift: Long = 0L) extends Workload {
  val queries: Map[String, QueryGraph] = Map(
    "p012" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(Some(1), Some(2))),
    "p123" -> QueryGraph.path(Seq(Some(1), Some(2), Some(3)), Seq(Some(0), Some(1))),
    "tri1" -> QueryGraph.clique(3, Some(1)))

  /** Base graph: each order buys 2 to 5 distinct parts; every pair of them
    * is an edge (lo, hi). */
  val baseEdges: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val set = mutable.LinkedHashSet.empty[(Long, Long)]
    (1 to size.orders).foreach { _ =>
      val basket = Seq.fill(2 + rnd.nextInt(4))(rnd.nextInt(size.parts).toLong).distinct.sorted
      for (a <- basket; b <- basket if a < b) set += ((a, b))
    }
    set.toSeq
  }

  /** The stream as reference-format lines: inserts of new pairs among the
    * first `streamParts` parts, deletes of edges the stream inserted. */
  val streamLines: Seq[String] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val live = mutable.ArrayBuffer.empty[(Long, Long)]
    val liveSet = mutable.HashSet.empty[(Long, Long)] ++ baseEdges
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < size.ops) {
      if (live.nonEmpty && rnd.nextInt(10) < 3) {
        val i = rnd.nextInt(live.size)
        val e = live(i)
        live(i) = live.last
        live.remove(live.size - 1)
        liveSet -= e
        out += s"-e ${e._1} ${e._2} ${(e._1 + e._2) % 3}"
      } else {
        val a = rnd.nextInt(size.streamParts).toLong
        val b = rnd.nextInt(size.streamParts).toLong
        val e = (math.min(a, b), math.max(a, b))
        if (a != b && liveSet.add(e)) {
          live += e
          out += s"e ${e._1} ${e._2} ${(e._1 + e._2) % 3}"
        }
      }
    }
    out.toSeq
  }

  /** Edge set after the whole stream, replayed in plain Scala. */
  lazy val finalEdges: Set[(Long, Long)] = streamLines.foldLeft(baseEdges.toSet) { (s, l) =>
    val t = l.split(' ')
    val e = (t(1).toLong, t(2).toLong)
    if (t(0) == "e") s + e else s - e
  }

  private var vertices: DataFrame = _
  private var edges: DataFrame = _
  private var ops: Array[GraphUpdate] = Array.empty
  private var expected: Map[String, Long] = Map.empty
  private val parseSeconds = mutable.ArrayBuffer.empty[Double]

  /** The windowed phase's batch count. */
  private val Windows = 2

  /** Generates the base graph, writes and parses the stream, and builds a
    * driver on them. The round's two phases each take one of the drivers
    * the set-ups built; a later round builds its own. */
  def setup(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    h.call("setup.generate", op = false) {
      vertices = spark.range(size.parts).select(col("id"), (col("id") % 4).cast("int").as("vlabel"))
        .localCheckpoint(true)
      edges = baseEdges.toDF("src", "dst")
        .withColumn("elabel", ((col("src") + col("dst")) % 3).cast("int"))
        .localCheckpoint(true)
    }
    val path = Paths.get(h.workDir, s"stream-$seed.txt")
    Files.writeString(path, streamLines.mkString("\n"))
    val t0 = System.nanoTime()
    h.call("stream.parse", op = false) {
      ops = TextGraph.loadUpdates(spark, path.toString).collect().sortBy(_.seq)
    }
    parseSeconds += (System.nanoTime() - t0) / 1e9
    newDriver(h).foreach(ready.enqueue(_))
    h.keepCached()
  }

  private val ready = mutable.Queue.empty[MultiQueryDriver]

  private def nextDriver(h: Harness): Option[MultiQueryDriver] =
    if (ready.nonEmpty) Some(ready.dequeue()) else newDriver(h)

  private def newDriver(h: Harness): Option[MultiQueryDriver] = {
    val t0 = System.nanoTime()
    val d = h.call("matching.init", op = false) {
      new MultiQueryDriver(h.spark, queries, vertices, edges, materializeState = true)
    }
    h.record("matching.init_s", (System.nanoTime() - t0) / 1e9)
    d
  }

  /** Counts recomputed from scratch on the final edge set (once per run). */
  private def recount(h: Harness): Map[String, Long] = {
    if (expected.isEmpty) {
      val spark = h.spark
      import spark.implicits._
      h.call("check.recount", op = false) {
        val e = finalEdges.toSeq.toDF("src", "dst")
          .withColumn("elabel", ((col("src") + col("dst")) % 3).cast("int"))
        queries.map { case (n, q) =>
          n -> (GraphMatcher.countMatches(spark, q, e, vertices).head().getLong(0) + recountShift)
        }
      }.foreach(expected = _)
    }
    expected
  }

  /** Set-up and one batch of a small stream: the calls of a round are
    * the driver's `applyBatchLocal` alone. */
  def warmup(h: Harness): Unit = {
    val w = new CsmStream(seed, StreamSize.Warmup)
    w.setup(h)
    w.nextDriver(h).foreach(d => h.call("stream.batch", op = false)(d.applyBatchLocal(w.ops.toSeq)))
    h.release()
  }

  def round(h: Harness): Unit = {
    val per = (ops.length + Windows - 1) / Windows
    phase(h, "stream.batch", ops.grouped(per).toSeq)
    phase(h, "stream.batch_1w", Seq(ops))
  }

  private def phase(h: Harness, name: String, batches: Seq[Array[GraphUpdate]]): Unit = {
    nextDriver(h).foreach { d =>
      batches.foreach(b => h.call(name)(d.applyBatchLocal(b.toSeq)))
      h.record(s"$name.searches_run", d.searchesRun)
      h.record(s"$name.searches_skipped", d.searchesSkipped)
      val want = recount(h)
      h.check(name, d.counts.toMap == want, s"maintained counts ${d.counts.toMap}, recomputed $want")
    }
    h.release()
  }

  override def tracedExtras(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    h.call("matching.classify", op = false) {
      val c = MatchClassifier.classify(spark, queries, vertices, spark.createDataset(ops.toSeq))
        .agg(count(lit(1)), sum(when(col("safe"), 1L).otherwise(0L))).head()
      h.record("matching.updates", c.getLong(0))
      h.record("matching.safe_updates", c.getLong(1))
    }
    h.release()
  }

  def layerMetrics(h: Harness): Map[String, Double] = {
    val windowed = h.opSeconds("stream.batch")
    val oneWindow = h.opSeconds("stream.batch_1w")
    val rounds = windowed.grouped(Windows).map(_.sum).toSeq
    def perBatch(f: Work => Double): Double = {
      val ws = h.work("stream.batch")
      if (ws.isEmpty) 0.0 else ws.map(f).sum / ws.size
    }
    val recorded = Seq("matching.updates", "matching.safe_updates").map(k => k -> h.recordedMedian(k))
    recorded.toMap ++ Map(
      "matching.init_s" -> h.recordedMedian("matching.init_s", in = "setup"),
      "stream.parse_s" -> Stats.median(parseSeconds.toSeq),
      "matching.batch_s_max" -> windowed.max,
      "matching.batches" -> (Windows + 1).toDouble,
      "matching.jobs_per_batch" -> perBatch(_.jobs.toDouble),
      "matching.sql_execs_per_batch" -> perBatch(_.sqlExecs.size.toDouble),
      "matching.scans_per_batch" -> perBatch(_.scans.toDouble),
      "matching.searches_run" -> (h.recordedMedian("stream.batch.searches_run") +
        h.recordedMedian("stream.batch_1w.searches_run")),
      "matching.searches_skipped" -> (h.recordedMedian("stream.batch.searches_skipped") +
        h.recordedMedian("stream.batch_1w.searches_skipped")),
      "stream_upd_per_s" -> ops.length / Stats.median(rounds),
      "stream_1w_upd_per_s" -> ops.length / Stats.median(oneWindow),
      "batch_s_p50" -> Stats.median(windowed))
  }
}
