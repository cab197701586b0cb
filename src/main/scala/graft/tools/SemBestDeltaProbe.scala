package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{CacheTracker, Dedup}

/** SURVEY §6 evidence for dd_semantic_best_delta's SCALING story
  * (r15, VERDICT r14 task 3): the graded row ingests a 1/3-corpus
  * delta (DeltaMod = 3), which makes `affected` — any vector sharing
  * a 6×4 bucket with the delta — essentially the whole corpus, so the
  * graded number reads like "delta costs 2.3× the full rebuild". The
  * delta pass's actual contract is a SMALL ingest against a LARGE
  * store: delta-bounded plane dots and pairs, bucket-bounded graph
  * re-ranking, plus the honestly-global linear pagerank + election
  * floor. This probe measures exactly that:
  *
  *   sbt "runMain graft.tools.SemBestDeltaProbe <mult> <dmod[,dmod…]>"
  *
  * scales the sf0.1 embeddings `mult`× (ScaleProbe's deterministic
  * per-copy perturbation recipe), and for EACH dmod builds the store
  * over the (1 − 1/dmod) slice ONCE to parquet, then times (warm +
  * timed pass) the delta ingest of the 1/dmod slice — beside ONE
  * FULL semanticKeepersBest rebuild over the same union, the number
  * the delta exists to avoid. Several dmods against the one corpus
  * separate the delta-size-DEPENDENT stages from the global
  * (pagerank + election) floor: if the wall barely moves between a
  * 2% and a 33% delta, the wall IS the floor. Not part of the graded
  * surface. */
object SemBestDeltaProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val dmods = (if (args.length > 1) args(1) else "50")
      .split(",").toSeq.map(_.toInt)
    val tau = graft.registry.DedupRegistry.CosineTau
    val k = graft.registry.SimilarityRegistry.K
    val spark = GraftSession.local("graft-sembest-delta-probe")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = java.nio.file.Files.createTempDirectory("graft_sbd").toString
    val emb = graft.sources.Tables.embeddings(spark, src)
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until mult).map { i =>
      val shifted =
        if (i == 0) emb
        else emb.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === lit(i % dim), x + lit((i * 1e-4).toFloat))
              .otherwise(x)))
      shifted.withColumn("vec_id", col("vec_id") + lit(i.toLong * maxVec))
    }.reduce(_ union _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    val all = spark.read.parquet(s"$out/embeddings.parquet")
    val c = col("vec_id")
    val nAll = all.count()
    println(s"""{"probe_vectors":$nAll,"mult":$mult}""")
    dmods.foreach { dmod =>
      val nDelta = all.filter(c % dmod === 0).count()
      // store built ONCE to parquet per dmod — the delta pass
      // presupposes a store that already exists (the graded row's
      // ServingIndexes discipline); build time is reported but is
      // not the probe number
      val t0 = System.nanoTime()
      CacheTracker.scoped {
        val st = Dedup.semanticBestStore(all.filter(c % dmod =!= 0), tau, k)
        st.bits.write.mode(SaveMode.Overwrite).parquet(s"$out/bits.parquet")
        st.graph.write.mode(SaveMode.Overwrite).parquet(s"$out/graph.parquet")
        st.assignment.write.mode(SaveMode.Overwrite)
          .parquet(s"$out/assignment.parquet")
        st.pairs.write.mode(SaveMode.Overwrite).parquet(s"$out/pairs.parquet")
      }
      println(f"""{"stage":"store_build","dmod":$dmod,""" +
        f""""delta_vectors":$nDelta,"sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      def deltaPass(): Double = CacheTracker.scoped {
        val t = System.nanoTime()
        Dedup.semanticKeepersBestDelta(
          Dedup.SemanticBestStore(
            spark.read.parquet(s"$out/bits.parquet"),
            spark.read.parquet(s"$out/graph.parquet"),
            spark.read.parquet(s"$out/assignment.parquet"),
            spark.read.parquet(s"$out/pairs.parquet"), tau, k),
          all.filter(c % dmod === 0), tau, k)
          .assignment.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      // non-empty-output gate (§6 probe discipline)
      val rows = CacheTracker.scoped {
        Dedup.semanticKeepersBestDelta(
          Dedup.SemanticBestStore(
            spark.read.parquet(s"$out/bits.parquet"),
            spark.read.parquet(s"$out/graph.parquet"),
            spark.read.parquet(s"$out/assignment.parquet"),
            spark.read.parquet(s"$out/pairs.parquet"), tau, k),
          all.filter(c % dmod === 0), tau, k).assignment.count()
      }
      deltaPass() // warm
      val dt = deltaPass()
      println(f"""{"stage":"delta_pass","dmod":$dmod,"sec":$dt%.3f,"rows":$rows}""")
      if (rows == 0L)
        System.err.println("[graft] SemBestDeltaProbe: EMPTY assignment — " +
          "the timing above is not evidence of anything")
    }
    // the comparison the delta exists to beat: a full rebuild
    def fullPass(): Double = CacheTracker.scoped {
      val t = System.nanoTime()
      Dedup.semanticKeepersBest(all, tau, k)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    fullPass() // warm
    println(f"""{"stage":"full_rebuild","sec":${fullPass()}%.3f}""")
    spark.stop()
  }
}
