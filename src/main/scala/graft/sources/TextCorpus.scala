package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own input mode: a directory of plain-text files,
  * one "document" per file (reference main.go:84-111 walks a file
  * list). Produces the same shape as the parquet `documents` table so
  * every operator runs unchanged on either.
  *
  * Fault tolerance matches the reference (main.go:119-131 warns and
  * continues past an unreadable file): every reader sets
  * `ignoreCorruptFiles` / `ignoreMissingFiles`, so one bad or vanished
  * object logs a warning instead of killing a 100 TB run.
  */
object TextCorpus {

  /** Tolerant text reader: skip-and-warn on corrupt or vanished files
    * (the Spark-native form of the reference's per-file error path). */
  private def reader(spark: SparkSession): DataFrameReader =
    spark.read
      .option("ignoreCorruptFiles", "true")
      .option("ignoreMissingFiles", "true")

  /** One row per file: doc_id from a stable hash of the path, the
    * whole file as `text`, the path as `source`. Materializes each
    * file as ONE row — fine for bounded documents; for arbitrarily
    * large files use [[perFileChunked]]. */
  def perFile(spark: SparkSession, dir: String): DataFrame =
    reader(spark)
      .option("wholetext", "true")
      .text(dir)
      .select(
        xxhash64(input_file_name()).as("doc_id"),
        col("value").as("text"),
        lit("").as("lang"),
        input_file_name().as("source"),
        length(col("value")).cast("long").as("n_chars"))

  /** Chunked ingest for big files (reference main.go:134-140 streams
    * 1 MB chunks): one row per LINE, but doc_id/source still per FILE,
    * so per-file aggregations (word counts) are identical to
    * [[perFile]] — a newline is a token separator, never part of a
    * word. Spark's text source splits each file into byte-range tasks
    * at line boundaries, so a 10 GB file parallelizes across the
    * cluster instead of materializing as one OOM-sized row. `n_chars`
    * is per chunk row; sum it per doc_id for the file total. */
  def perFileChunked(spark: SparkSession, dir: String): DataFrame =
    reader(spark)
      .text(dir)
      .select(
        xxhash64(input_file_name()).as("doc_id"),
        col("value").as("text"),
        lit("").as("lang"),
        input_file_name().as("source"),
        length(col("value")).cast("long").as("n_chars"))

  /** The fields [[jsonl]] parses. The schema is EXPLICIT on purpose:
    * schema inference reads the whole input once before the real scan
    * — a full extra pass at 100 TB — and lets one malformed shard
    * silently change column types between runs. */
  private val JsonlSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType)))

  /** JSONL corpus ingest — the interchange format training corpora
    * actually ship in: one JSON object per line with (doc_id, text,
    * lang, source) fields. Explicit schema (no inference pass),
    * PERMISSIVE parsing: a malformed line yields a null-field row
    * flagged in the corrupt-record column and is dropped with the
    * rest of the pipeline untouched — the per-record analog of the
    * per-file warn-and-skip above, so one bad line in shard 40231 of a
    * 100 TB drop cannot kill the job. A record missing `doc_id` falls
    * back to the stable hash of (file, line text); `n_chars`
    * is derived like every other reader. */
  def jsonl(spark: SparkSession, dir: String): DataFrame = {
    val corrupt = "_graft_corrupt"
    val schema = JsonlSchema.add(corrupt,
      org.apache.spark.sql.types.StringType)
    reader(spark)
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(dir)
      .withColumn("_file", input_file_name())
      .filter(col(corrupt).isNull && col("text").isNotNull)
      .select(
        coalesce(col("doc_id"), xxhash64(col("_file"), col("text"))).as("doc_id"),
        col("text"),
        coalesce(col("lang"), lit("")).as("lang"),
        coalesce(col("source"), col("_file")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }
}
