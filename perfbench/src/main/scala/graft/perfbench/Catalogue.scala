package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `catalogue`: the `SparkEntry.queries` entries of `Catalogue.names`, once
  * each in name order, over the bundled TPC-H-style tables. Each result is reduced to
  * `Checks.digest`, which evaluates every output column, and compared with
  * the digest recorded from outputs that passed `scripts/check_oracles.py`
  * on the same tables. The tables are fixed, so the seed does not change
  * the inputs. */
final class Catalogue(dataDir: String, expected: Map[String, String],
                      queries: Seq[String] = Catalogue.names) extends Workload {
  def this(dataDir: String) = this(dataDir, Catalogue.recorded(dataDir))

  def setup(h: Harness): Unit = {
    h.release(all = true)
    h.call("setup.read", op = false) {
      Catalogue.Tables.foreach(t => h.spark.read.parquet(s"$dataDir/$t.parquet").count())
    }
  }

  /** One pass over the same queries, so that the timed pass runs compiled
    * code: a cold pass's CPU time rose ~20% in the VM's slow phases, as its
    * JIT compilation fell behind. */
  def warmup(h: Harness): Unit = round(h)

  def round(h: Harness): Unit = queries.foreach { q =>
    val fn = SparkEntry.queries(q)
    val d = h.call(s"catalogue.$q")(Checks.digest(fn(h.spark, dataDir)))
    h.release()
    d.foreach(x => h.check(s"catalogue.$q", expected.get(q).contains(x),
      s"digest $x, expected ${expected.getOrElse(q, "none recorded")}"))
  }

  def layerMetrics(h: Harness): Map[String, Double] = {
    val perQuery = queries.flatMap { q =>
      val s = h.opSeconds(s"catalogue.$q")
      val jobs = h.work(s"catalogue.$q").map(_.jobs.toDouble)
      Seq(s"catalogue.$q.s" -> (if (s.isEmpty) 0.0 else Stats.median(s)),
        s"catalogue.$q.jobs" -> (if (jobs.isEmpty) 0.0 else Stats.median(jobs)))
    }
    val rounds = h.ops.filter(_.phase == h.phase).groupBy(_.round).values
      .map(_.map(_.seconds).sum).toSeq
    perQuery.toMap + ("catalogue_s" -> Stats.median(rounds))
  }
}

object Catalogue {
  /** The tables the timed queries read. */
  val Tables: Seq[String] = Seq("part", "lineitem", "events", "documents", "embeddings")

  /** The timed queries: one per family of the `ops` layer and the static
    * matching join planner. The whole catalogue takes ~40 s of wall time
    * per pass on 4 cores, far past a run's share of the benchmark's time
    * budget; these take ~12 s cold and ~6 s warm. `digests.tsv` holds a
    * digest for every query but the four `graft.Bench` leaves out, so any
    * other can be added. */
  val names: Seq[String] = Seq(
    "q_ann_lsh", // ops.Similarity: sign-LSH top-k
    "q_dedup_jaccard_capped", // ops.Dedup: shingle inverted-index self-join
    "q_doc_tokens", // ops.TextAnalysis: regexp token and subword counts
    "q_match_path3", // matching: the join planner (GraphMatcher.findMatches)
    "q_media_meta") // ops.Multimodal + ops.Hashing: payload decode

  /** `<query> <digest>` lines in `<dataDir>/digests.tsv`. */
  def recorded(dataDir: String): Map[String, String] =
    Files.readAllLines(Paths.get(dataDir, "digests.tsv")).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\\s+"); q -> d }.toMap
}

/** `RecordDigests <verifyOutDir>` prints the digest lines of the query
  * outputs that `graft.Verify` wrote to `<verifyOutDir>`. Run
  * `scripts/check_oracles.py <dataDir> <verifyOutDir>` first, and record
  * only when it reports no failure. */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.keys.toSeq.sorted.filter(q => Files.isDirectory(Paths.get(outDir, q)))
      .foreach(q => println(s"$q ${Checks.digest(spark.read.parquet(s"$outDir/$q"))}"))
    spark.stop()
  }
}
