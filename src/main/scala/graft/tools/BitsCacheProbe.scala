package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{CacheTracker, Dedup}

/** SURVEY §6 evidence for the centrality rows' BITS CACHE (r16,
  * VERDICT r15 task #2): r14+ materializes the (vec_id, v, nrm, bits)
  * sign-word frame once and slices BOTH bucket families out of it
  * (one corpus scan, four columnar reads), where r13 recomputed each
  * family's plane dots inline from the source (four source scans, no
  * cache write). §6 r15's worktree anatomy measured the cache as a
  * +0.7-1.1 s (~7-10%) premium at toy scale and KEPT it citing the
  * at-scale inversion — this probe measures the inversion instead of
  * citing it:
  *
  *   sbt "runMain graft.tools.BitsCacheProbe <mult[,mult…]>"
  *
  * scales the sf0.1 embeddings mult× (SemBestDeltaProbe's
  * deterministic per-copy perturbation — all vectors distinct, so the
  * raw centrality election IS the composed one and the A/B isolates
  * exactly the bits materialization), writes the scaled corpus to
  * parquet (a real scan on both sides), then times the FULL
  * semanticKeepersBest pass — pairs + graph + pagerank + election —
  * under cacheBits=true (the r14-r15 graded shape) and
  * cacheBits=false (the r13 inline shape), warm + timed each,
  * equal-rows gate. The crossover multiple is where "cached" first
  * beats "inline"; the r16 run found NO crossover (inline ≤ cached
  * at 2k/20k/100k vectors — §6 r16), which flipped the graded
  * default to inline. Re-run after any change to the plane-dot
  * kernel or the cache layer before touching the default again. */
object BitsCacheProbe {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption.getOrElse("10,50")
      .split(",").toSeq.map(_.toInt)
    val tau = graft.registry.DedupRegistry.CosineTau
    val k = graft.registry.SimilarityRegistry.K
    val spark = GraftSession.local("graft-bits-cache-probe")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = java.nio.file.Files.createTempDirectory("graft_bcp").toString
    val emb = graft.sources.Tables.embeddings(spark, src)
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    mults.foreach { mult =>
      (0 until mult).map { i =>
        val shifted =
          if (i == 0) emb
          else emb.withColumn("embedding",
            transform(col("embedding"), (x, j) =>
              when(j === lit(i % dim), x + lit((i * 1e-4).toFloat))
                .otherwise(x)))
        shifted.withColumn("vec_id", col("vec_id") + lit(i.toLong * maxVec))
      }.reduce(_ union _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/emb_$mult.parquet")
      val all = spark.read.parquet(s"$out/emb_$mult.parquet")
      val n = all.count()
      def pass(cache: Boolean): Double = CacheTracker.scoped {
        val t = System.nanoTime()
        Dedup.semanticBestFrames(all, tau, k, 6, 4, dim,
            cacheBits = cache).assignment
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      // equal-output gate at the SMALLEST mult only (the shapes are
      // plan-identical modulo caching — SimilaritySpec pins the
      // bucket equivalence — so one corpus-level check suffices and
      // the 50x run doesn't pay two extra full passes)
      val (rc, ri) =
        if (mult == mults.min) CacheTracker.scoped {
          (Dedup.semanticBestFrames(all, tau, k, 6, 4, dim,
             cacheBits = true).assignment.count(),
           Dedup.semanticBestFrames(all, tau, k, 6, 4, dim,
             cacheBits = false).assignment.count())
        } else (-1L, -1L)
      pass(cache = true) // warm (JIT, parquet footers)
      val cached = Seq(pass(cache = true), pass(cache = true))
      pass(cache = false) // warm
      val inline = Seq(pass(cache = false), pass(cache = false))
      println(f"""{"probe":"bits_cache","mult":$mult,"vectors":$n,""" +
        f""""rows_cached":$rc,"rows_inline":$ri,""" +
        f""""cached_sec":[${cached.map(t => f"$t%.3f").mkString(",")}],""" +
        f""""inline_sec":[${inline.map(t => f"$t%.3f").mkString(",")}]}""")
      if (rc >= 0L && (rc != ri || rc == 0L))
        System.err.println("[graft] BitsCacheProbe: OUTPUT MISMATCH or " +
          "empty — the timings above are not evidence of anything")
    }
    spark.stop()
  }
}
