package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Caps.withCaps
import graft.operators.{Similarity, WordCount}
import graft.sources.Tables

/** Spec coverage for the sketch/ANN paths without SQL oracles. */
class ApproxAndIvfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  val d = "/root/testdata/sf0.001"

  test("approx distinct words is within the configured error of exact") {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val exact = WordCount.distinctWords(docs).as[Long].head().toDouble
    val approx = WordCount.distinctWordsApprox(docs, rsd = 0.05)
      .as[Long].head().toDouble
    assert(math.abs(approx - exact) / exact <= 0.15) // 3x rsd headroom
  }

  test("IVF ANN returns exact scores for in-cell candidates, bounded per probe") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val ivf = Similarity.knnIvf(emb, Similarity.probeEvery(emb, 50), k = 10)
      .as[(Long, Long, Double, Int)].collect()
    assert(ivf.nonEmpty)
    val bf = Similarity.knnBruteForce(emb, Similarity.probeEvery(emb, 50), k = 1000)
      .as[(Long, Long, Double, Int)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    ivf.foreach { case (p, nb, cos, _) => assert(bf((p, nb)) == cos) }
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 10)
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length)) // dense ranks
    }
    // deterministic across runs
    val again = Similarity.knnIvf(emb, Similarity.probeEvery(emb, 50), k = 10)
      .as[(Long, Long, Double, Int)].collect()
    assert(again.sortBy(r => (r._1, r._4)).toSeq == ivf.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("probe set over the broadcast cap: shuffle fallback, identical results") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    // more probes than the shard ladder's 32 one-probe shards at cap 1,
    // so brute force reaches the final un-hinted rung (the ladder
    // itself is spec'd below)
    val probes = Similarity.probeEvery(emb, 10)
    assert(probes.count() > 32)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val bfB = Similarity.knnBruteForce(emb, probes, k = 5)
    val lshB = Similarity.knnLsh(emb, probes, k = 5)
    val ivfB = Similarity.knnIvf(emb, probes, k = 5)
    // brute force: cartesian instead of broadcast-nested-loop; lsh +
    // ivf: plain shuffle equi-join on the bucket/cell key
    val (bfS, lshS, ivfS) = withCaps("knn.broadcast.probes" -> "1")(
      (Similarity.knnBruteForce(emb, probes, k = 5),
        Similarity.knnLsh(emb, probes, k = 5),
        Similarity.knnIvf(emb, probes, k = 5)))
    assert(sorted(bfB) == sorted(bfS) && sorted(bfB).nonEmpty)
    assert(sorted(lshB) == sorted(lshS))
    assert(sorted(ivfB) == sorted(ivfS))
    // the guard really removes the forced hint (AQE may still choose a
    // runtime broadcast at this toy scale — what must go is OUR hint
    // pinning a corpus-scaled frame to the driver)
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString.contains("ResolvedHint")
    assert(hinted(bfB) && !hinted(bfS))
    assert(hinted(lshB) && !hinted(lshS))
  }

  test("over-cap probe set shards into bounded broadcasts with identical results") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val probes = Similarity.probeEvery(emb, 20) // 25 probes at sf0.001
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    // ground truth: everything broadcast in one pass
    val one = Similarity.knnBruteForce(emb, probes, k = 5)
    // cap 4 → ~9 shards of ≤ ~4 probes, within the 32-shard ladder
    val sharded = withCaps("knn.broadcast.probes" -> "4")(
      Similarity.knnBruteForce(emb, probes, k = 5))
    assert(sorted(sharded) == sorted(one) && sorted(one).nonEmpty)
    // the shard path really is per-shard broadcasts: several bounded
    // hints, not one probe-scaled hint and not zero
    val hints = "ResolvedHint".r
      .findAllIn(sharded.queryExecution.analyzed.toString).size
    assert(hints > 1, s"expected shard-count hints, got $hints")
    // past 32 shards the ladder falls through to the un-hinted pass:
    // cap 1 targets one probe per shard, and here are more than 32
    val many = Similarity.probeEvery(emb, 10)
    assert(many.count() > 32)
    val fell = withCaps("knn.broadcast.probes" -> "1")(
      Similarity.knnBruteForce(emb, many, k = 5))
    assert(!fell.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(sorted(fell) == sorted(Similarity.knnBruteForce(emb, many, k = 5)))
  }

  test("empty and null-id probe frames give the same rows under and over the probe cap") {
    import org.apache.spark.sql.functions.lit
    val emb = Tables.embeddings(spark, d)
    val nullId = emb.limit(1)
      .withColumn("vec_id", lit(null).cast(emb.schema("vec_id").dataType))
    val frames = Seq("empty" -> emb.limit(0),
      "null vec_id" -> Similarity.probeEvery(emb, 50).union(nullId))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def searches(probes: org.apache.spark.sql.DataFrame) = Seq(
      "knnBruteForce" -> Similarity.knnBruteForce(emb, probes, k = 5),
      "knnLsh" -> Similarity.knnLsh(emb, probes, k = 5),
      "knnIvf" -> Similarity.knnIvf(emb, probes, k = 5))
    for ((shape, probes) <- frames) {
      val under = searches(probes)
      // a negative cap is never met, so even the empty frame is over it
      val over = withCaps("knn.broadcast.probes" -> "-1")(searches(probes))
      for (((op, u), (_, o)) <- under.zip(over))
        assert(rows(u) == rows(o), s"$op on the $shape probe frame")
    }
  }

  test("trained-codebook IVF: centroids move, scores stay exact, results bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, d)
    // Lloyd's iterations actually refine the seeds
    val e = emb.select(col("vec_id"), col("embedding").as("v"))
    val seeds = e.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("cid"),
        org.apache.spark.sql.functions.transform(col("v"),
          x => x.cast("double")).as("cv"))
      .as[(Long, Seq[Double])].collect().toMap
    val trained = Similarity.trainCentroids(e, 37, iters = 3, dim = 64)
      .as[(Long, Seq[Double])].collect().toMap
    assert(trained.keySet == seeds.keySet) // id-stable cells
    assert(trained.exists { case (cid, cv) => cv != seeds(cid) })
    // the search contract is unchanged: exact scores, ≤ k, dense ranks
    val ivfT = Similarity.knnIvfTrained(emb, Similarity.probeEvery(emb, 50), k = 10)
      .as[(Long, Long, Double, Int)].collect()
    assert(ivfT.nonEmpty)
    val bf = Similarity.knnBruteForce(emb, Similarity.probeEvery(emb, 50), k = 1000)
      .as[(Long, Long, Double, Int)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    ivfT.foreach { case (p, nb, cos, _) => assert(bf((p, nb)) == cos) }
    ivfT.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 10)
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length))
    }
    // deterministic end-to-end (training included)
    val again = Similarity.knnIvfTrained(emb, Similarity.probeEvery(emb, 50), k = 10)
      .as[(Long, Long, Double, Int)].collect()
    assert(again.sortBy(r => (r._1, r._4)).toSeq == ivfT.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("ivfDelta grows the index to a fresh same-codebook build; idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val idx = Similarity.ivfIndex(old, centroidMod = 37)
    val grown = Similarity.ivfDelta(idx, delta)
    def asn(i: Similarity.IvfIndex) = i.assigned
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toSet
    // assignment under a fixed codebook is per-row: grown == fresh
    // build over the union with the SAME (old-side) codebook
    val fresh = Similarity.ivfIndexWith(emb, idx.centroids)
    assert(asn(grown) == asn(fresh) && asn(grown).nonEmpty)
    // re-ingest replaces, never duplicates
    assert(asn(Similarity.ivfDelta(grown, delta)) == asn(grown))
    // the served query over the grown index == over the fresh build
    val probes = Similarity.probeEvery(emb, 50)
    def q(i: Similarity.IvfIndex) =
      Similarity.knnIvfIndexed(i, probes, 10, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(q(grown) == q(fresh) && q(grown).nonEmpty)
  }

  test("pqDelta grows the code table to a fresh same-seed encode; idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    Similarity.cached {
      val idx = Similarity.pqIndex(old)
      val grown = Similarity.pqDelta(idx, delta)
      def codes(i: Similarity.PqIndex) = i.codes
        .as[(Long, Array[Int])].collect().map { case (v, c) => (v, c.toSeq) }
        .toSet
      // encode under a fixed seed frame is per-row: grown == fresh
      // union encode under the SAME (old-side) seeds
      val fresh = Similarity.PqIndex(
        Similarity.pqCodes(
          emb.select(col("vec_id"), col("embedding").as("v")), idx.seeds),
        idx.seeds)
      assert(codes(grown) == codes(fresh) && codes(grown).nonEmpty)
      assert(codes(Similarity.pqDelta(grown, delta)) == codes(grown))
      val probes = Similarity.probeEvery(emb, 50)
      def q(i: Similarity.PqIndex) =
        Similarity.knnPqIndexed(i, probes, 10)
          .as[(Long, Long, Double, Int)].collect().toSet
      assert(q(grown) == q(fresh) && q(grown).nonEmpty)
    }
  }
}
