package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  // 3 clusters along axes + a probe near each; 8-dim for readability.
  def vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f), 0),
    (1L, Array(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f), 0),
    (2L, Array(0.8f, 0.2f, 0f, 0f, 0f, 0f, 0f, 0f), 0),
    (3L, Array(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f), 1),
    (4L, Array(0f, 0f, 0.9f, 0.1f, 0f, 0f, 0f, 0f), 1),
    (5L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f), 2),
  ).toDF("vec_id", "embedding", "label")

  test("brute force returns exact top-k in deterministic order") {
    val r = Similarity.knnBruteForce(vecs, Similarity.probeEvery(vecs, 3), k = 2)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    assert(r(0L) == Seq(1L, 2L)) // axis-0 cluster, nearest first
    assert(r(3L) == Seq(4L, 5L) || r(3L).head == 4L)
  }

  test("knnFiltered: neighbors share the probe's label, ranked like brute force in-class") {
    import org.apache.spark.sql.functions.col
    val probes = Similarity.probeEvery(vecs, 3) // ids 0 (label 0) and 3 (label 1)
    val r = Similarity.knnFiltered(vecs, probes, k = 2)
      .as[(Long, Long, Double, Int)].collect()
    val labelOf = vecs.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    assert(r.nonEmpty)
    // the filter contract: every neighbor is in the probe's class
    assert(r.forall { case (p, nb, _, _) => labelOf(p) == labelOf(nb) })
    val byProbe = r.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    assert(byProbe(0L) == Seq(1L, 2L)) // in-class ranking = brute force
    assert(byProbe(3L) == Seq(4L))     // label 1 has ONE other member —
                                       // a cross-class near vector can't leak in
    // equals brute force run per label-restricted corpus
    val perClass = labelOf.values.toSeq.distinct.flatMap { lb =>
      val sub = vecs.filter(col("label") === lb)
      Similarity.knnBruteForce(sub, Similarity.probeEvery(sub, 3), k = 2)
        .as[(Long, Long, Double, Int)].collect()
    }.toSet
    assert(r.toSet == perClass)
  }

  test("knnIvfFiltered: neighbors share the probe's label and cells") {
    val probes = Similarity.probeEvery(vecs, 3)
    val r = Similarity.knnIvfFiltered(vecs, probes, k = 2,
        centroidMod = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect()
    val labelOf = vecs.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    assert(r.nonEmpty)
    assert(r.forall { case (p, nb, _, _) => labelOf(p) == labelOf(nb) })
    // the filtered result is a SUBSET of the exact filtered answer's
    // pair set restricted to probed cells — on this fixture cell
    // coverage is total, so it equals knnFiltered outright
    val exact = Similarity.knnFiltered(vecs, probes, k = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(r.toSet == exact)
  }

  test("PQ encode/LUT/ADC == a plain-Scala product quantizer on fuzzed vectors") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val n = 60
    val dim = 64
    val m = Similarity.PqM
    val sub = dim / m
    val data = (0L until n.toLong).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    val df = data.toDF("vec_id", "embedding")
    val out = Similarity.knnPq(df, Similarity.probeEvery(df, 10), 5,
      kSub = 4, seedMod = 3)
    // the compact-index shape: no corpus-key exchange anywhere before
    // the per-probe top-k aggregate
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(vec_id"), plan)
    val got = out.as[(Long, Long, Double, Int)].collect().toSet
    // independent plain-Scala reference of the same quantizer
    def unit(v: Array[Float]): Array[Double] = {
      var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble)
      val nr = math.sqrt(s); v.map(_.toDouble / nr)
    }
    val units = data.map { case (id, v) => id -> unit(v) }.toMap
    val seeds = data.map(_._1).filter(_ % 3 == 0).sorted.take(4)
      .map(id => units(id))
    def codesOf(u: Array[Double]): Array[Int] = Array.tabulate(m) { j =>
      var best = 0; var bd = Double.MaxValue
      for (c <- seeds.indices) {
        var d = 0.0; var t = 0
        while (t < sub) {
          val x = u(j * sub + t) - seeds(c)(j * sub + t); d += x * x; t += 1
        }
        if (d < bd) { bd = d; best = c }
      }
      best
    }
    def score(pu: Array[Double], codes: Array[Int]): Double = {
      var s = 0.0
      for (j <- 0 until m) {
        var d = 0.0; var t = 0
        while (t < sub) { d += pu(j * sub + t) * seeds(codes(j))(j * sub + t); t += 1 }
        s += d
      }
      s
    }
    val codes = data.map { case (id, _) => id -> codesOf(units(id)) }.toMap
    val expected = data.map(_._1).filter(_ % 10 == 0).flatMap { pid =>
      data.map(_._1).filter(_ != pid)
        .map(nid => (pid, nid, score(units(pid), codes(nid))))
        .sortBy { case (_, nid, s) => (-s, nid) }.take(5).zipWithIndex
        .map { case ((p, nv, s), i) => (p, nv, s, i + 1) }
    }.toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("knnIvfPq pairs score identically to knnPq; candidates come from IVF cells") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val nVecs = emb.count().toInt
    // the full PQ score set (k = corpus): every (probe, neighbor) pair
    val allPq = Similarity.knnPq(emb, probes, nVecs)
      .select(col("probe_id"), col("neighbor_id"), col("approx_sim"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val composed = Similarity.knnIvfPq(emb, probes, 10)
      .as[(Long, Long, Double, Int)].collect()
    assert(composed.nonEmpty)
    // every composed score is exactly the PQ score for that pair: the
    // IVF stage may only SHORTLIST, never change a score
    composed.foreach { case (p, n, s, _) =>
      assert(allPq((p, n)) == s, s"score drift for ($p, $n)")
    }
    // and the shortlist is real: some exact-PQ top pair is absent
    // (nProbe=2 of ~14 cells cannot cover every neighbor)
    val composedPairs = composed.map(r => (r._1, r._2)).toSet
    val pqTop = Similarity.knnPq(emb, probes, 10)
      .as[(Long, Long, Double, Int)].collect().map(r => (r._1, r._2)).toSet
    assert((pqTop -- composedPairs).nonEmpty, "shortlisting had no effect")
  }

  test("knnLshIndexed over a persisted index == knnLsh rebuilt per call") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val fresh = Similarity.knnLsh(emb, probes, 10)
      .collect().map(_.toSeq).toSet
    // index built once (matching params), persisted as a bucketed
    // table — the serving layout — and queried via knnLshIndexed
    val store = graft.operators.Dedup.embeddingLshStore(emb,
      nTables = 4, planesPerTable = 6)
    spark.sql("DROP TABLE IF EXISTS lsh_index_rt")
    val loc = new java.io.File("spark-warehouse/lsh_index_rt")
    if (loc.exists()) scala.reflect.io.Directory(loc).deleteRecursively()
    graft.sources.Sinks.writeBucketed(store.bucketed, "lsh_index_rt", "bucket", 8)
    val served = Similarity.knnLshIndexed(graft.operators.Dedup
      .EmbeddingLshStore(spark.table("lsh_index_rt"), 4, 6, 64),
      probes, 10).collect().map(_.toSeq).toSet
    assert(served == fresh && fresh.nonEmpty)
    assert(Similarity.knnLshIndexed(store, probes, 10)
      .filter(col("rnk") === 1).count() > 0)
    spark.sql("DROP TABLE IF EXISTS lsh_index_rt")
  }

  test("knnIvfIndexed over a persisted index == knnIvf rebuilt per call") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val fresh = Similarity.knnIvf(emb, probes, 10).collect().map(_.toSeq).toSet
    val idx = Similarity.ivfIndex(emb)
    spark.sql("DROP TABLE IF EXISTS ivf_index_rt")
    val loc = new java.io.File("spark-warehouse/ivf_index_rt")
    if (loc.exists()) scala.reflect.io.Directory(loc).deleteRecursively()
    graft.sources.Sinks.writeBucketed(idx.assigned, "ivf_index_rt", "cell", 8)
    val served = Similarity.knnIvfIndexed(
      Similarity.IvfIndex(spark.table("ivf_index_rt"), idx.centroids),
      probes, 10).collect().map(_.toSeq).toSet
    assert(served == fresh && fresh.nonEmpty)
    // trained index serves identically to knnIvfTrained
    val trained = Similarity.knnIvfTrained(emb, probes, 10)
      .collect().map(_.toSeq).toSet
    val servedTrained = Similarity.knnIvfIndexed(
      Similarity.ivfIndex(emb, trained = true), probes, 10)
      .collect().map(_.toSeq).toSet
    assert(servedTrained == trained)
    spark.sql("DROP TABLE IF EXISTS ivf_index_rt")
  }

  test("trained IVF index round-trips: served == knnIvfTrained fresh") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val fresh = Similarity.knnIvfTrained(emb, probes, 10)
      .collect().map(_.toSeq).toSet
    // the Lloyd's-refined codebook is bit-reproducible (quantized
    // mean updates) and assignment under a fixed codebook is a pure
    // per-row function, so the persisted trained index must answer
    // identically to the fresh build-and-search
    val idx = Similarity.ivfIndex(emb, trained = true)
    val dir = java.nio.file.Files.createTempDirectory("ivf_trained_rt")
    idx.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    idx.centroids.write.mode("overwrite").parquet(s"$dir/cents")
    val served = Similarity.knnIvfIndexed(
      Similarity.IvfIndex(spark.read.parquet(s"$dir/assigned"),
        spark.read.parquet(s"$dir/cents")),
      probes, 10).collect().map(_.toSeq).toSet
    assert(served == fresh && fresh.nonEmpty)
  }

  test("knnIvfFilteredIndexed over a persisted labeled index == knnIvfFiltered") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val fresh = Similarity.knnIvfFiltered(emb, probes, 10)
      .collect().map(_.toSeq).toSet
    // the ONE label-carrying index, round-tripped through parquet
    // (the serving layout), answers the filtered query identically —
    // and serves every predicate value without a rebuild
    val idx = Similarity.ivfIndex(emb, carry = Seq("label"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_labeled_rt")
    idx.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    idx.centroids.write.mode("overwrite").parquet(s"$dir/cents")
    val served = Similarity.knnIvfFilteredIndexed(
      Similarity.IvfIndex(spark.read.parquet(s"$dir/assigned"),
        spark.read.parquet(s"$dir/cents")),
      probes, 10).collect().map(_.toSeq).toSet
    assert(served == fresh && fresh.nonEmpty)
    // a label-blind index is a contract error up front, not a late
    // AnalysisException from inside the scoring join
    val bare = Similarity.ivfIndex(emb)
    val err = intercept[IllegalArgumentException] {
      Similarity.knnIvfFilteredIndexed(bare, probes, 10)
    }
    assert(err.getMessage.contains("label"))
  }

  test("knnPqIndexed over a persisted code table == knnPq rebuilt per call") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val probes = Similarity.probeEvery(emb, 50)
    val fresh = Similarity.knnPq(emb, probes, 10).collect().map(_.toSeq).toSet
    // index built once, round-tripped through parquet (the serving
    // layout: 4-byte codes + the 1-row seed frame), queried via
    // knnPqIndexed
    val idx = Similarity.pqIndex(emb)
    val dir = java.nio.file.Files.createTempDirectory("pq_index_rt")
    idx.codes.write.mode("overwrite").parquet(s"$dir/codes")
    idx.seeds.write.mode("overwrite").parquet(s"$dir/seeds")
    val served = Similarity.knnPqIndexed(
      Similarity.PqIndex(spark.read.parquet(s"$dir/codes"),
        spark.read.parquet(s"$dir/seeds")),
      probes, 10).collect().map(_.toSeq).toSet
    assert(served == fresh && fresh.nonEmpty)
    scala.reflect.io.Directory(new java.io.File(dir.toString)).deleteRecursively()
  }

  test("bucketedFromBits slices of one sign word == per-table bucket construction, both families") {
    // r14 sharing contract (VERDICT r13 item #2): the 24-bit
    // plane-dot sign word computed once by lshBits must slice into
    // EXACTLY the (table, bucket) rows the historical per-table
    // construction produced, for BOTH consumers' groupings (the 4×6
    // graph family and the 6×4 near-dup family) — the reference here
    // recomputes the buckets in plain Scala from the public
    // hyperplanes, independent of the Spark expressions.
    import org.apache.spark.sql.functions.col
    val dim = 8
    val e = vecs.select(col("vec_id"), col("embedding").as("v"))
    val planes = Similarity.hyperplanes(24, dim)
    val raw = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def expected(nTables: Int, ppt: Int): Set[(Long, Int, Long)] =
      raw.flatMap { case (id, v) =>
        (0 until nTables).map { t =>
          val bucket = (0 until ppt).map { p =>
            val plane = planes(t * ppt + p)
            val dot = v.indices.map(i => v(i).toDouble * plane(i)).sum
            if (dot >= 0) 1L << p else 0L
          }.sum
          (id, t, bucket)
        }
      }.toSet
    for ((nT, pP) <- Seq((4, 6), (6, 4))) {
      val bits = Similarity.lshBits(e, 24, dim)
      val got = Similarity.bucketedFromBits(bits, nT, pP)
        .select(col("vec_id"), col("table"), col("bucket"))
        .as[(Long, Int, Long)].collect().toSet
      assert(got == expected(nT, pP), s"family ${nT}x$pP")
    }
  }

  test("LSH hyperplanes are deterministic and scores are exact cosines") {
    val h1 = Similarity.hyperplanes(4, 8).map(_.toSeq).toSeq
    val h2 = Similarity.hyperplanes(4, 8).map(_.toSeq).toSeq
    assert(h1 == h2)
    val lsh = Similarity.knnLsh(vecs, Similarity.probeEvery(vecs, 3), k = 2,
      nTables = 2, planesPerTable = 2, dim = 8)
      .as[(Long, Long, Double, Int)].collect()
    val bf = Similarity.knnBruteForce(vecs, Similarity.probeEvery(vecs, 3), k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    // every LSH result's score equals the exact cosine for that pair
    lsh.foreach { case (p, nb, cos, _) => assert(bf((p, nb)) == cos) }
    // per-probe result count bounded by k
    lsh.groupBy(_._1).foreach { case (_, rows) => assert(rows.length <= 2) }
  }

  test("knnGraph == knnLsh with the whole corpus as probes") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    val graph = rows(Similarity.knnGraph(emb, k = 5))
    // the single-bucketing self-join must equal probing every vector
    // through the two-sided LSH path
    val viaLsh = rows(Similarity.knnLsh(emb, emb, k = 5)
      .withColumnRenamed("probe_id", "vec_id"))
    assert(graph == viaLsh && graph.nonEmpty)
    // ranks are dense from 1, at most k per vector, no self-edges
    val byVec = graph.groupBy(_._1)
    byVec.foreach { case (v, es) =>
      assert(es.size <= 5)
      assert(es.map(_._4).toSeq.sorted == (1 to es.size))
      assert(es.forall(_._2 != v))
    }
  }

  test("pagerankFromEdges: a source outside ids sends rank but gets no row and no share of N") {
    // 9 is a source but not an id: the documented edges.src ⊆ ids
    // precondition is broken, and this pins what the iteration does then
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (9L, 1L))
    val ids = Seq(1L, 2L, 3L)
    val (iters, d) = (3, 0.85)
    val got = Similarity.pagerankFromEdges(edges.toDF("src", "dst"),
      ids.toDF("vec_id"), iters, d).as[(Long, Double)].collect().toMap
    // plain-Scala replay of the quantized update, with 9 ranked like any
    // source that has no inflow
    val outdeg = edges.groupBy(_._1).map { case (v, es) => v -> es.size }
    def rankOf(inflow: Option[Double]) = (1.0 - d) + d * inflow.getOrElse(0.0)
    var inflow = Option.empty[Map[Long, Double]]
    for (_ <- 1 to iters) {
      val contrib = edges.map { case (src, dst) =>
        val r = inflow.fold(1.0)(m => rankOf(m.get(src)))
        dst -> math.floor(r / outdeg(src) * 1000000.0).toLong
      }
      inflow = Some(contrib.groupBy(_._1).map { case (v, cs) =>
        v -> cs.map(_._2).sum.toDouble / 1000000.0 })
    }
    val expected = ids.map(v => v -> rankOf(inflow.get.get(v)) / ids.size).toMap
    assert(got.keySet == ids.toSet)
    ids.foreach(v => assert(math.abs(got(v) - expected(v)) < 1e-12, s"vec $v"))
    // 9's out-edge is what lifts 1 above 3 (both have one in-edge from 2)
    assert(got(1L) > got(3L))
  }

  test("outliers ranks the off-cluster vector first, ascending own-cell cosine") {
    // centroidMod=2: centroids are vecs 0, 2 and 4. Everything sits
    // near an axis except vec 5, which points away from EVERY
    // centroid — the planted outlier.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (3L, Array(0f, 0.1f, 0.9f, 0f)),
      (4L, Array(0.8f, 0f, 0.2f, 0f)),
      (5L, Array(-1f, -1f, -1f, 2f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.outliers(emb, centroidMod = 2, topK = 3)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 3)
    assert(out.head._1 == 5L)                       // planted outlier first
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted) // cos ascending
    // every reported cell is a genuine centroid id
    assert(out.forall(r => r._2 == 0L || r._2 == 2L || r._2 == 4L))
    // centroids score cos=1 in their own cell, so with three
    // non-centroid vectors below 1.0 the top-3 excludes all of 0/2/4
    assert(out.map(_._1).toSet == Set(5L, 1L, 3L))
    // topK caps the report
    assert(Similarity.outliers(emb, centroidMod = 2, topK = 2).count() == 2)
  }
}
