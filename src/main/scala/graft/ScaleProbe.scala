package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale probe (SURVEY §6 evidence, reproducible): replicate the
  * sf0.1 documents table `mult`× — offset doc_ids, SAME text, the
  * duplication-heavy worst case for dedup families — into a temp dir
  * and time registered document-family queries against it (one warm
  * pass, one timed, noop sink). Usage:
  *
  *   sbt "runMain graft.ScaleProbe 50 dd_paragraph,cp_quality_gate"
  *
  * Not part of the graded surface. The EMBEDDINGS table scales too
  * (r12, for the E-family capstone probes): `mult` offset-id copies
  * with a DETERMINISTIC per-copy perturbation — copy i shifts
  * dimension (i mod dim) by i·1e-4 — the r8 embedding-probe recipe:
  * copies stay near-identical (the near-dup worst case: every copy
  * pairs inside its LSH bucket) without the exact ties of bit-equal
  * vectors degenerating kNN ranking.
  *
  * r13 corpus-shape toggles (each a distinct worst case):
  *   SPARK_GRAFT_PROBE_EXACT_EMB=1  — skip the perturbation: copies
  *     are BYTE-IDENTICAL (the re-crawl-duplicated corpus the
  *     composed exact-first semantic order exists for; the raw pair
  *     stage is quadratic in copy multiplicity here).
  *   SPARK_GRAFT_PROBE_HOT_LABEL=90 — rewrite `label` so that
  *     percentage of vectors (by vec_id mod 100) share ONE hot class:
  *     the skew worst case for the filtered kNN paths, whose
  *     label-keyed scoring join must AQE-split the hot partition.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map { a =>
      scala.util.Try(a.toInt).filter(_ > 0).getOrElse(
        sys.error(s"ScaleProbe: mult must be a positive integer, got '$a'"))
    }.getOrElse(50)
    val queries = if (args.length > 1) args(1).split(",").toSeq
      else Seq("wc_wordcount", "dd_paragraph", "cp_quality_gate",
        "ta_search_served")
    val spark = GraftSession.local("graft-scale-probe")
    // honor the harness convention (Bench reads the same variable)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val docs = graft.sources.Tables.documents(spark, src)
    // max() is NULL on an empty table — treat it as "no ids taken"
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val maxId = (if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)) + 1L
    val big = (0 until mult).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * maxId)))
      .reduce(_ union _)
    big.write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    val emb = graft.sources.Tables.embeddings(spark, src)
    val maxVecRow = emb.agg(max(col("vec_id"))).head()
    val maxVec = (if (maxVecRow.isNullAt(0)) -1L else maxVecRow.getLong(0)) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val exactEmb = sys.env.get("SPARK_GRAFT_PROBE_EXACT_EMB").contains("1")
    val hotPct = sys.env.get("SPARK_GRAFT_PROBE_HOT_LABEL").map(_.toInt)
    val bigEmb0 = (0 until mult).map { i =>
      val shifted =
        if (i == 0 || exactEmb) emb
        else emb.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === lit(i % dim), x + lit((i * 1e-4).toFloat))
              .otherwise(x)))
      shifted.withColumn("vec_id", col("vec_id") + lit(i.toLong * maxVec))
    }.reduce(_ union _)
    val bigEmb = hotPct match {
      case Some(pct) =>
        val hot = emb.select(col("label")).limit(1).head().get(0)
        bigEmb0.withColumn("label",
          when(pmod(col("vec_id"), lit(100L)) < lit(pct.toLong), lit(hot))
            .otherwise(col("label")))
      case None => bigEmb0
    }
    bigEmb.write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    val n = spark.read.parquet(s"$out/documents.parquet").count()
    println(s"""{"probe_docs":$n,"mult":$mult}""")
    queries.filter(SparkEntry.queries.contains).foreach { q =>
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, out)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // warm pass doubles as the non-empty-output gate (§6 probe
      // discipline: st_semantic once "ran" a 10× probe in 0.98 s —
      // because a staging bug made it return EMPTY; a probe number
      // without a row count proves nothing)
      val rows = SparkEntry.queries(q)(spark, out).count()
      val t = once()
      println(f"""{"query":"$q","sec":$t%.3f,"rows":$rows}""")
      if (rows == 0L)
        System.err.println(s"[graft] ScaleProbe: $q returned ZERO rows — " +
          "the timing above is not evidence of anything")
    }
    spark.stop()
  }
}
