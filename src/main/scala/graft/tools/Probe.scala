package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Dev probe over registered rows at a multiplied corpus scale. Not
  * part of the graded surface. Usage:
  *
  *   sbt "runMain graft.tools.Probe time 10 dd_semantic_best,wc_wordcount"
  *   sbt "runMain graft.tools.Probe plan 1 dd_clusters"
  *
  * reads `$SPARK_GRAFT_SF_DIR` (the default is Bench's). `time` prints
  * one `{"query","sec","rows"}` line per row; `plan` prints each row's
  * formatted physical plan. Which operator phase submitted which job is
  * the perfbench trace's question, not this probe's. */
object Probe {
  private val Usage = "usage: Probe <time|plan> <mult> <query[,query…]>"

  def main(args: Array[String]): Unit = {
    require(args.length == 3, Usage)
    val Array(mode, multArg, queryArg) = args
    require(mode == "time" || mode == "plan",
      s"Probe: unknown mode '$mode'; $Usage")
    val mult = parseMult(multArg)
    val names = queryNames(queryArg)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-probe")
    try {
      val dir = if (mult == 1) src
        else scale(spark, src, mult,
          Files.createTempDirectory("graft_probe").toString)
      names.foreach { q =>
        // a frame an earlier row cached would carry that row's AQE plan
        spark.catalog.clearCache()
        if (mode == "plan") {
          println(s"==== $q ====")
          SparkEntry.queries(q)(spark, dir).explain("formatted")
        } else {
          val (sec, rows) = time(spark, dir, q)
          println(f"""{"query":"$q","sec":$sec%.3f,"rows":$rows}""")
          // a row that silently returns nothing also runs fast
          if (rows == 0L)
            System.err.println(s"[graft] Probe: $q returned zero rows — " +
              "its timing is not evidence of anything")
        }
      }
    } finally spark.stop()
  }

  def parseMult(arg: String): Int =
    arg.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"Probe: mult must be a positive integer, got '$arg'"))

  /** The comma-separated row names, every one registered. */
  def queryNames(arg: String): Seq[String] = {
    val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"Probe: unknown query name(s): ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"Probe: no query named; $Usage")
    names
  }

  /** Writes `src`'s corpus scaled `mult`× into `out` and returns `out`.
    * `documents` and `embeddings` become `mult` copies with offset ids
    * (copy 0 is the source). Copy i > 0 of each embedding shifts
    * dimension (i mod dim) by i·1e-4: copies stay near-identical, the
    * near-dup worst case where every copy pairs inside its LSH bucket,
    * without the exact ties of bit-equal vectors degenerating kNN
    * ranking. Every other table is symlinked unscaled, so every
    * registered row resolves against `out`. */
  def scale(spark: SparkSession, src: String, mult: Int,
            out: String): String = {
    val docs = Tables.documents(spark, src)
    copies(docs, "doc_id", mult)((d, _) => d)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    val emb = Tables.embeddings(spark, src)
    val dim = emb.select(size(col("embedding"))).limit(1).collect()
      .headOption.fold(1)(_.getInt(0))
    copies(emb, "vec_id", mult) { (e, i) =>
      if (i == 0) e
      else e.withColumn("embedding", transform(col("embedding"), (x, j) =>
        when(j === lit(i % dim), x + lit((i * 1e-4).toFloat)).otherwise(x)))
    }.write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    val scaled = Set("documents.parquet", "embeddings.parquet")
    new java.io.File(src).listFiles().filterNot(f => scaled(f.getName))
      .foreach(f => Files.createSymbolicLink(Paths.get(out, f.getName),
        f.toPath.toAbsolutePath))
    out
  }

  /** `mult` copies of `df`, copy i perturbed by `perturb(df, i)` and its
    * `id` offset by i × (max id + 1). */
  private def copies(df: DataFrame, id: String, mult: Int)(
      perturb: (DataFrame, Int) => DataFrame): DataFrame = {
    // max() is NULL on an empty table: treat it as "no ids taken"
    val maxRow = df.agg(max(col(id))).head()
    val stride = (if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)) + 1L
    (0 until mult).map(i =>
        perturb(df, i).withColumn(id, col(id) + lit(i * stride)))
      .reduce(_ union _)
  }

  /** One row's (seconds, rows): a row-count pass, one warm pass, then
    * one timed pass into the noop sink. */
  def time(spark: SparkSession, dir: String, q: String): (Double, Long) = {
    val query = SparkEntry.queries(q)
    val rows = query(spark, dir).count()
    def once(): Double = {
      val t0 = System.nanoTime()
      query(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (once(), rows)
  }
}
