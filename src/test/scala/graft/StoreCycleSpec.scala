package graft

import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftspec.CacheEntries
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.VersionedStore

/** The semantic-best store cycle (ingest → write → retract → write, the
  * loop a long-lived ingest or takedown job runs) outside any cache
  * bracket: it must leave no session cache entry behind, and it must
  * stay within a recorded Spark job budget. */
class StoreCycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val d = "/root/testdata/sf0.001"

  /** Jobs per cycle on this fixture: measured 81 in each of 3 cycles on
    * 4 cores with the quotient closed through `clusters`' gate probe and
    * collect (79 with one `limit(cap+1).collect()`, 83 with an eager
    * pair checkpoint before the probe), PageRank iterated on the driver
    * (96 with its three rounds as Spark joins), and no session persist
    * (141 with them). Raise it only with a CHANGES.md entry that gives
    * the measured reason. */
  private val JobBudget = 83

  test("a semantic-best store cycle leaves nothing cached, within a job budget") {
    val (tau, k) = (0.35, 5)
    val emb = graft.sources.Tables.embeddings(spark, d)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_cycle").toString
    val tables = Seq("bits", "graph", "assignment", "pairs")
    def write(st: Dedup.SemanticBestStore): Unit =
      VersionedStore.write(dir,
        tables.zip(Seq(st.bits, st.graph, st.assignment, st.pairs)))
    def read(): Dedup.SemanticBestStore = {
      val Seq(bits, graph, assignment, pairs) =
        VersionedStore.read(spark, dir, tables).get
      Dedup.SemanticBestStore(bits, graph, assignment, pairs, tau, k)
    }
    // the batch build runs under its bracket, like Bench's rows
    Dedup.cached(write(Dedup.semanticBestStore(
      emb.filter(col("vec_id") % 3 =!= 0), tau, k)))
    val before = CacheEntries(spark)
    for (cycle <- 1 to 3) {
      val (_, jobs) = Jobs.during(spark.sparkContext) {
        write(Dedup.semanticKeepersBestDelta(read(), delta, tau, k).updatedStore)
        write(Dedup.semanticBestRetract(read(), delta.select("vec_id"), tau, k)
          .updatedStore)
      }
      val added = CacheEntries(spark) - before
      assert(added == 0, s"cycle $cycle: $added new cache entries")
      assert(jobs.size <= JobBudget, s"cycle $cycle: ${jobs.size} jobs")
    }
  }

  test("st_semantic_retract's ingest and takedown micro-batches leave nothing cached") {
    // the batches run on the streams' threads, outside any bracket the
    // caller holds
    val bind = graft.registry.StreamsRegistry.queries("st_semantic_retract")
    val before = CacheEntries(spark)
    for (_ <- 1 to 2) bind(spark, d).collect()
    val added = CacheEntries(spark) - before
    assert(added == 0, s"$added new cache entries")
  }
}
