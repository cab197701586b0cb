package graft.sources

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated parquet tables.
  *
  * Every operator in graft takes `DataFrame`s, so the library is
  * storage-agnostic; this object is the one place that knows the
  * on-disk layout (`<dir>/<name>.parquet`). Scans stay declarative so
  * Catalyst pushes filters/projections into the parquet reader.
  */
object Tables {
  /** Each table's schema, declared as a catalog would carry it, so a
    * load reads no footers (Spark infers a parquet schema with a job).
    * The types are those Spark infers from the files: `ts`,
    * `o_orderdate` and `l_shipdate` are INT64 micros with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. A column
    * of another physical type fails the scan. */
  val Schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  val All: Seq[String] = Schemas.keys.toSeq

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts as TimestampType: downstream operators (sessionize,
    * funnel, as-of, range join, streaming watermarks) need an instant,
    * and unix_micros()/withWatermark reject TIMESTAMP_NTZ. Under the
    * session's UTC zone the cast reinterprets the wall-clock micros as
    * UTC-instant micros bit-identically — the same reading DuckDB gives
    * the file. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    load(s, d, "events").withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
