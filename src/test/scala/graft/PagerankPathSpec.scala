package graft

import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.graftspec.CacheEntries
import org.scalatest.funsuite.AnyFunSuite

import graft.Caps.withCaps
import graft.operators.{DriverGate, Similarity}

/** `Similarity.pagerankFromEdges` has a driver path (edges within the
  * `clusters.local.relation` gate, iterated on collected arrays) and a
  * distributed path (one join + sum per round). On generated graphs,
  * malformed edges included, both must give the same (vec_id, pagerank)
  * rows, doubles compared exactly. */
class PagerankPathSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val Damping = 0.85

  private def run(edges: DataFrame, ids: DataFrame,
                  iters: Int): (Seq[(String, Double)], Boolean) = {
    val df = Similarity.pagerankFromEdges(edges, ids, iters, Damping)
    val aggregates = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    val rows = df.collect().toSeq
      .map(r => (String.valueOf(r.get(0)), r.getDouble(1))).sortBy(_._1)
    (rows, aggregates.nonEmpty)
  }

  /** Rows of the driver path and of the forced distributed path. */
  private def bothPaths(edges: DataFrame, ids: DataFrame, iters: Int) = {
    val (driver, driverAggregates) = run(edges, ids, iters)
    assert(!driverAggregates, "driver path planned an aggregate")
    val (distributed, distAggregates) =
      withCaps("clusters.local.relation" -> "-1") {
        assert(DriverGate.cap("clusters.local.relation") == -1)
        run(edges, ids, iters)
      }
    assert(distAggregates, "distributed path planned no aggregate")
    (driver, distributed)
  }

  /** Edges over nodes 0 until n: duplicates and self-loops by chance,
    * sources in n until n + 3 (outside ids), a few null src and null
    * dst rows. */
  private def randomGraph(rnd: scala.util.Random,
                          n: Int): Seq[(Option[Long], Option[Long])] = {
    val inside = Seq.fill(rnd.nextInt(4 * n + 1)) {
      (Option(rnd.nextInt(n).toLong), Option(rnd.nextInt(n).toLong))
    }
    val outside = Seq.fill(rnd.nextInt(4)) {
      (Option((n + rnd.nextInt(3)).toLong), Option(rnd.nextInt(n).toLong))
    }
    val nulls = Seq.fill(rnd.nextInt(3))((None, Option(rnd.nextInt(n).toLong))) ++
      Seq.fill(rnd.nextInt(3))((Option(rnd.nextInt(n).toLong), None))
    val all = inside ++ outside ++ nulls
    all ++ Seq.fill(rnd.nextInt(3))(all(rnd.nextInt(all.size)))
  }

  test("driver and distributed paths give identical ranks on generated graphs") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val n = 2 + rnd.nextInt(30)
      val edges = rnd.shuffle(randomGraph(rnd, n)).toDF("src", "dst")
      // ids n-1 and up to two more are isolated unless an edge hits them
      val ids = (0L until n.toLong + rnd.nextInt(3)).toDF("vec_id")
      val iters = 1 + rnd.nextInt(4)
      val frame = if (seed % 3 == 0) edges.repartition(3) else edges
      val (driver, distributed) = bothPaths(frame, ids, iters)
      assert(driver.size == ids.count(), s"seed $seed")
      assert(driver == distributed, s"seed $seed (n=$n, iters=$iters)")
    }
  }

  test("an empty edge frame and isolated ids rank at the teleport floor on both paths") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val ids = Seq(1L, 2L, 3L).toDF("vec_id")
    val (driver, distributed) = bothPaths(edges, ids, 3)
    assert(driver == distributed)
    assert(driver.map(_._2).distinct == Seq((1.0 - Damping) / 3))
  }

  test("null src, null dst and a null id behave alike on both paths") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(1L), None), (None, Some(3L)),
      (Some(2L), Some(1L)), (Some(2L), Some(2L)), (Some(2L), Some(1L)))
      .toDF("src", "dst")
    val ids = Seq[Option[Long]](Some(1L), Some(2L), Some(3L), None).toDF("vec_id")
    val (driver, distributed) = bothPaths(edges, ids, 3)
    assert(driver == distributed)
    assert(driver.map(_._1) == Seq("1", "2", "3", "null"))
    // nothing lands on 3: the null-src row sends nothing
    assert(driver.find(_._1 == "3").get._2 == (1.0 - Damping) / 4)
  }

  test("int-typed ids give the same rows on both paths") {
    val rnd = new scala.util.Random(99)
    val edges = Seq.fill(40)((rnd.nextInt(10), rnd.nextInt(10))).toDF("src", "dst")
    val ids = (0 until 12).toDF("vec_id")
    val (driver, distributed) = bothPaths(edges, ids, 3)
    assert(driver == distributed)
    assert(driver.size == 12)
  }

  test("zero iterations is refused with a message on both paths") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val ids = Seq(1L, 2L).toDF("vec_id")
    val e = intercept[IllegalArgumentException](
      Similarity.pagerankFromEdges(edges, ids, 0, Damping))
    assert(e.getMessage.contains("at least one iteration"))
    withCaps("clusters.local.relation" -> "-1")(
      intercept[IllegalArgumentException](
        Similarity.pagerankFromEdges(edges, ids, 0, Damping)))
    val emb = Seq((1L, Array.fill(64)(0.5f)), (2L, Array.tabulate(64)(_.toFloat)))
      .toDF("vec_id", "embedding")
    // knnPagerank refuses before it builds the graph: no job, no cache entry
    val before = CacheEntries(spark)
    val (_, jobs) = Jobs.during(spark.sparkContext)(
      intercept[IllegalArgumentException](Similarity.knnPagerank(emb, 5, iters = 0)))
    assert(jobs.isEmpty, s"${jobs.size} jobs")
    assert(CacheEntries(spark) - before == 0)
  }
}
