package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.algo.{Bfs, ConnectedComponents, CsrPageRank, LabelPropagation, PageRank, TriangleCount}
import graft.graph.GraphBuilder
import graft.pages.{Extract, Page, PagesFixture}
import graft.state.StateStore

/** Size of the crawl graph (`sites` × `pages`), of the HTML sample, and the
  * supersteps of PageRank (both implementations) and label propagation.
  * The PageRank tolerance is absolute, so converging to L-inf < 1e-6 takes
  * 22 supersteps at 10^5 vertices, at ~0.7 s each; a fixed count keeps a run
  * within its time budget, and every superstep still computes the L-inf
  * convergence aggregate. */
final case class CrawlSize(sites: Int, pages: Int, sampleSites: Int, samplePages: Int,
                           supersteps: Int, lpSupersteps: Int)

object CrawlSize {
  val Default: CrawlSize = CrawlSize(sites = 200, pages = 250, sampleSites = 20, samplePages = 100,
    supersteps = 3, lpSupersteps = 1)
  /** The warm-up's graph: every call of a round, at a cost of a few seconds. */
  val Warmup: CrawlSize = CrawlSize(sites = 4, pages = 50, sampleSites = 2, samplePages = 20,
    supersteps = 1, lpSupersteps = 1)
}

/** Expected results, computed in plain Scala from `PagesFixture.outlinks`:
  * component count, triangle count, undirected edge count, the size of the
  * component holding each site's hub page, and the sample's table sizes. */
final case class CrawlTruth(components: Long, triangles: Long, undirectedEdges: Long,
                            hubComponentSize: Map[Int, Long], sampleVertices: Long,
                            sampleEdges: Long, sampleLinks: Long)

object CrawlTruth {
  def apply(size: CrawlSize): CrawlTruth = {
    val (s, p) = (size.sites, size.pages)
    val n = s * p
    val adj = Array.fill(n)(mutable.Set.empty[Int])
    val root = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (root(r) != r) r = root(r)
      root(x) = r
      r
    }
    for (si <- 0 until s; k <- 0 until p; (ts, tk) <- PagesFixture.outlinks(si, k, s, p)) {
      val (u, v) = (si * p + k, ts * p + tk)
      adj(u) += v
      adj(v) += u
      root(find(u)) = find(v)
    }
    val sizeOf = (0 until n).groupBy(find).view.mapValues(_.size.toLong).toMap
    var triangles = 0L
    for (u <- 0 until n; v <- adj(u) if v > u; w <- adj(u) if w > v && adj(v).contains(w))
      triangles += 1
    CrawlTruth(
      components = sizeOf.size.toLong,
      triangles = triangles,
      undirectedEdges = adj.map(_.size.toLong).sum / 2,
      hubComponentSize = (0 until s).map(si => si -> sizeOf(find(si * p))).toMap,
      sampleVertices = size.sampleSites.toLong * size.samplePages,
      sampleEdges = PagesFixture.expectedEdges(size.sampleSites, size.samplePages).distinct.size.toLong,
      sampleLinks = PagesFixture.expectedEdges(size.sampleSites, size.samplePages).size.toLong)
  }
}

/** `crawl_bulk`: bulk link-graph analytics on the synthetic crawl graph of
  * `PagesFixture.edgesDistributed`, one call per algorithm, plus the HTML
  * ingest of a page sample. The seed permutes vertex ids by an affine map
  * (partitioning and hashing change, results do not), picks the BFS source
  * site and seeds the sample's body text. `expect` lets tests corrupt the
  * expected values. */
final class CrawlBulk(seed: Long, size: CrawlSize = CrawlSize.Default,
                      expect: CrawlTruth => CrawlTruth = identity) extends Workload {
  private val n = size.sites.toLong * size.pages
  private val mul = 1000003L + 2L * Math.floorMod(seed, 1000L)
  private val off = Math.floorMod(seed * 7919L, 1000000L)
  private val bfsSite = Math.floorMod(seed, size.sites.toLong).toInt
  lazy val truth: CrawlTruth = expect(CrawlTruth(size))

  private var edges: DataFrame = _
  private var vertices: DataFrame = _
  private var sample: Dataset[Page] = _
  private var nEdges = 0L

  /** Last ranks of each PageRank implementation (parity check). */
  var lastRanks: Map[Long, Double] = Map.empty
  var lastCsrRanks: Map[Long, Double] = Map.empty

  def setup(h: Harness): Unit = {
    h.release(all = true)
    h.call("setup.generate", op = false) {
      val spark = h.spark
      import spark.implicits._
      edges = PagesFixture.edgesDistributed(spark, size.sites, size.pages, h.cores).toDF("src", "dst")
        .select((col("src") * mul + off).as("src"), (col("dst") * mul + off).as("dst"))
        .localCheckpoint(true)
      nEdges = edges.count()
      vertices = spark.range(n).select((col("id") * mul + off).as("id")).localCheckpoint(true)
      sample = spark.createDataset(PagesFixture.generate(size.sampleSites, size.samplePages, seed))
        .localCheckpoint(true)
    }
    h.keepCached()
  }

  def warmup(h: Harness): Unit = {
    val w = new CrawlBulk(seed, CrawlSize.Warmup)
    w.setup(h)
    w.round(h)
  }

  def round(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._

    // the pages layer alone: links and text of every page
    h.call("pages.extract") {
      val r = sample.map(p => (Extract.extractLinks(p.html, p.url).size.toLong,
          if (Extract.extractText(p.html) == p.text) 0L else 1L))
        .agg(sum(col("_1")), sum(col("_2"))).head()
      (r.getLong(0), r.getLong(1))
    }.foreach { case (links, wrongText) =>
      h.check("pages.extract", links == truth.sampleLinks && wrongText == 0,
        s"$links links and $wrongText wrong texts, expected ${truth.sampleLinks} and 0")
    }

    // the graph build over it: extraction, hashing, dedup, collision audit
    h.call("graph.ingest") {
      val (v, e) = GraphBuilder.buildVerified(spark, sample)
      (v.count(), e.count())
    }.foreach { case (nv, ne) =>
      h.check("graph.ingest", nv == truth.sampleVertices && ne == truth.sampleEdges,
        s"ingested $nv vertices / $ne edges, expected ${truth.sampleVertices} / ${truth.sampleEdges}")
    }

    h.call("graph.undirected")(GraphBuilder.undirected(edges).count()).foreach { c =>
      h.check("graph.undirected", c == 2 * truth.undirectedEdges,
        s"$c directed rows, expected ${2 * truth.undirectedEdges}")
    }

    h.call("algo.pagerank")(new PageRank(tol = 0.0, maxIter = size.supersteps).run(spark, edges, vertices))
      .foreach { r =>
        recordSteps(h, "pagerank", r.metrics.map(_.wallMs))
        h.call("check.pagerank", op = false) {
          lastRanks = r.state.select("id", "rank").as[(Long, Double)].collect().toMap
        }
      }
    h.release()

    h.call("algo.csr") {
      val t0 = System.nanoTime()
      val blocks = CsrPageRank.build(spark, edges, vertices)
      val buildS = (System.nanoTime() - t0) / 1e9
      val (state, _, m) = CsrPageRank.runPacked(spark, blocks, tol = 0.0, maxIter = size.supersteps)
      (blocks, state, m, buildS)
    }.foreach { case (blocks, state, m, buildS) =>
      recordSteps(h, "csr", m.map(_.wallMs))
      h.record("algo.csr.build_s", buildS)
      h.record("algo.csr.edges_per_s", nEdges * m.size / (m.map(_.wallMs).sum / 1e3).max(1e-3))
      h.call("check.csr", op = false) {
        lastCsrRanks = CsrPageRank.toRows(spark, state, blocks.vertsOrFail)
          .as[(Long, Double)].collect().toMap
      }
      val linf = Checks.linf(lastRanks, lastCsrRanks)
      h.check("algo.csr", linf < 1e-6,
        s"CSR and Dataset PageRank differ by L-inf $linf over ${lastCsrRanks.size} of $n vertices")
    }

    h.call("algo.cc") {
      val r = new ConnectedComponents().run(spark, edges, vertices)
      (r, r.state.select("label").distinct().count())
    }.foreach { case (r, comps) =>
      recordSteps(h, "cc", r.metrics.map(_.wallMs))
      h.check("algo.cc", comps == truth.components, s"$comps components, expected ${truth.components}")
    }

    h.call("algo.lp") {
      val r = new LabelPropagation(maxIter = size.lpSupersteps).run(spark, edges, vertices)
      (r, r.state.count())
    }.foreach { case (r, rows) =>
      recordSteps(h, "lp", r.metrics.map(_.wallMs))
      h.check("algo.lp", rows == n, s"$rows labelled vertices, expected $n")
    }

    h.call("algo.triangles")(TriangleCount.countTriangles(spark, edges).head().getLong(0)).foreach { t =>
      h.check("algo.triangles", t == truth.triangles, s"$t triangles, expected ${truth.triangles}")
    }

    h.call("algo.bfs") {
      val src = Seq(bfsSite.toLong * size.pages * mul + off).toDF("id")
      val row = Bfs.depths(spark, edges, src).agg(count(lit(1)), max(col("depth"))).head()
      (row.getLong(0), row.getLong(1))
    }.foreach { case (reached, depth) =>
      // Bfs.depths returns no per-level metrics: one level per depth, plus
      // the last one that finds nothing new
      h.record("algo.bfs.depth_max", depth)
      h.record("algo.bfs.supersteps", depth + 1)
      h.record("algo.bfs.superstep_s_p50", h.opSeconds("algo.bfs").last / (depth + 1))
      val want = truth.hubComponentSize(bfsSite)
      h.check("algo.bfs", reached == want, s"reached $reached vertices, expected $want")
    }
    h.release()
  }

  private def recordSteps(h: Harness, algo: String, wallMs: Seq[Long]): Unit = {
    h.record(s"algo.$algo.supersteps", wallMs.size)
    if (wallMs.nonEmpty) h.record(s"algo.$algo.superstep_s_p50", Stats.median(wallMs.map(_ / 1e3)))
  }

  /** PageRank on the durable path, every superstep committed to a
    * StateStore. Minus the in-memory PageRank of the traced round, this is
    * the state layer's overhead. */
  override def tracedExtras(h: Harness): Unit = {
    val storeDir = Paths.get(h.workDir, "state")
    val store = new StateStore(storeDir.toString)
    val t0 = System.nanoTime()
    h.call("algo.pagerank_durable", op = false) {
      new PageRank(tol = 0.0, maxIter = size.supersteps).run(h.spark, edges, vertices, Some(store)).state.count()
    }.foreach { _ =>
      h.record("algo.pagerank_durable_s", (System.nanoTime() - t0) / 1e9)
      val commits = store.latestCompleted("pagerank")
      h.record("state.commits", commits)
      h.record("state.snapshot_bytes", (1 to commits).map { it =>
        "\"byteSize\":(\\d+)".r.findFirstMatchIn(store.manifestJson("pagerank", it))
          .fold(0.0)(_.group(1).toDouble)
      }.sum)
    }
    deleteTree(storeDir)
    h.release()
  }

  def layerMetrics(h: Harness): Map[String, Double] = {
    def opMed(name: String): Double = {
      val xs = h.opSeconds(name)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def perCall(name: String, f: Work => Double): Double = {
      val ws = h.work(name)
      if (ws.isEmpty) 0.0 else Stats.median(ws.map(f))
    }
    val recorded = Seq("state.commits", "state.snapshot_bytes", "algo.csr.build_s",
      "algo.csr.edges_per_s", "algo.bfs.depth_max") ++
      Seq("pagerank", "csr", "cc", "lp", "bfs").flatMap(a =>
        Seq(s"algo.$a.supersteps", s"algo.$a.superstep_s_p50"))
    val work = Seq("pagerank", "csr", "cc", "lp", "bfs", "triangles").flatMap { a =>
      Seq(s"algo.$a.jobs" -> perCall(s"algo.$a", _.jobs.toDouble),
        s"algo.$a.shuffle_bytes" -> perCall(s"algo.$a", w => (w.shuffleRead + w.shuffleWrite).toDouble))
    }
    val extract = opMed("pages.extract")
    recorded.map(k => k -> h.recordedMedian(k)).toMap ++ work ++ Map(
      "pages.extract_s" -> extract,
      "pages.pages_per_s" -> (if (extract > 0) truth.sampleVertices / extract else 0.0),
      "graph.undirected_s" -> opMed("graph.undirected"),
      "state.overhead_s" -> (h.recordedMedian("algo.pagerank_durable_s") - opMed("algo.pagerank")),
      "ingest_s" -> opMed("graph.ingest"),
      "pagerank_s" -> opMed("algo.pagerank"),
      "csr_pagerank_s" -> opMed("algo.csr"),
      "cc_s" -> opMed("algo.cc"),
      "labelprop_s" -> opMed("algo.lp"),
      "triangles_s" -> opMed("algo.triangles"),
      "bfs_s" -> opMed("algo.bfs"))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
