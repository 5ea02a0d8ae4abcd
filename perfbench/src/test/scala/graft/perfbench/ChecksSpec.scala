package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes on two seeds and fails against a corrupted
  * expected value, at sizes small enough for a unit test. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def runRound(w: Workload): Harness = {
    val dir = Files.createTempDirectory("perfbench-test").toString
    val h = new Harness(spark, 2, dir)
    w.setup(h)
    h.round += 1
    w.round(h)
    h
  }

  private def failedOps(h: Harness): Set[String] = h.ops.filterNot(_.ok).map(_.name).toSet

  private val tinyCrawl = CrawlSize.Warmup

  test("crawl_bulk: every check passes on two seeds") {
    Seq(1L, 2L).foreach { seed =>
      val w = new CrawlBulk(seed, tinyCrawl)
      val h = runRound(w)
      assert(h.failures.isEmpty, s"seed $seed")
      assert(h.ops.map(_.name).toSet == Set("pages.extract", "graph.ingest", "graph.undirected", "algo.pagerank",
        "algo.csr", "algo.cc", "algo.lp", "algo.triangles", "algo.bfs"))
    }
  }

  test("crawl_bulk: each closed-form check fails against a corrupted expected value") {
    val w = new CrawlBulk(3L, tinyCrawl, t => t.copy(
      components = t.components + 1,
      triangles = t.triangles + 1,
      undirectedEdges = t.undirectedEdges + 1,
      hubComponentSize = t.hubComponentSize.map { case (k, v) => k -> (v + 1) },
      sampleEdges = t.sampleEdges + 1,
      sampleLinks = t.sampleLinks + 1))
    val h = runRound(w)
    assert(failedOps(h) == Set("pages.extract", "graph.ingest", "graph.undirected", "algo.cc",
      "algo.triangles", "algo.bfs"))
  }

  test("crawl_bulk: the CSR parity check catches a 1e-5 deviation in one rank") {
    val w = new CrawlBulk(4L, tinyCrawl)
    val h = runRound(w)
    assert(h.failures.isEmpty)
    assert(Checks.linf(w.lastRanks, w.lastCsrRanks) < 1e-6)
    val (k, v) = w.lastRanks.head
    assert(Checks.linf(w.lastRanks.updated(k, v + 1e-5), w.lastCsrRanks) >= 1e-6)
    assert(Checks.linf(w.lastRanks - k, w.lastCsrRanks).isPosInfinity)
  }

  private val tinyStream = StreamSize.Warmup

  test("csm_stream: maintained counts match the recount on two seeds") {
    Seq(1L, 2L).foreach { seed =>
      val h = runRound(new CsmStream(seed, tinyStream))
      assert(h.failures.isEmpty, s"seed $seed")
      assert(h.ops.count(_.name == "stream.batch") == 2)
      assert(h.ops.count(_.name == "stream.batch_1w") == 1)
    }
  }

  test("csm_stream: a corrupted recount fails both phases") {
    val h = runRound(new CsmStream(1L, tinyStream, recountShift = 1L))
    assert(failedOps(h) == Set("stream.batch", "stream.batch_1w"))
  }

  private val dataDir = "data/sf0.001"
  private val someQueries = Seq("q_edges", "q_doc_tokens")

  test("catalogue: digests match the recorded ones, and fail when one is corrupted") {
    val recorded = Catalogue.recorded(dataDir)
    val ok = runRound(new Catalogue(dataDir, recorded, someQueries))
    assert(ok.failures.isEmpty)
    val bad = runRound(new Catalogue(dataDir, recorded.updated("q_doc_tokens", "0:0:0"), someQueries))
    assert(failedOps(bad) == Set("catalogue.q_doc_tokens"))
  }

  test("digest reads every column, unlike count()") {
    import spark.implicits._
    val a = Seq((1L, "x", 0.5), (2L, "y", 0.25)).toDF("id", "s", "d")
    val b = Seq((1L, "x", 0.5), (2L, "z", 0.25)).toDF("id", "s", "d")
    assert(Checks.digest(a) != Checks.digest(b))
    assert(Checks.digest(a) == Checks.digest(a.orderBy($"id".desc)))
    assert(Checks.digest(a) == Checks.digest(Seq((1L, "x", 0.5 + 1e-12), (2L, "y", 0.25)).toDF("id", "s", "d")))
  }
}
