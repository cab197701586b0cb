package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The one writer/reader pair for parquet tables graft writes and reads
  * back (store versions, serving indexes). The writer records the
  * frame's schema as JSON in [[SchemaFile]] inside the table directory
  * (Spark's file index skips `_`-prefixed names); the reader hands that
  * schema to the parquet source, so reading a table submits no
  * footer-reading Spark job. A table without its record is an error,
  * never a schema inference. */
object StoredTable {
  val SchemaFile = "_graft_schema.json"

  /** Overwrite `path` with `df` as parquet, then record its schema. */
  def write(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    val file = new Path(path, SchemaFile)
    val out = file.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .create(file, true)
    try out.write(SchemaBridge.asNullable(df.schema).json.getBytes(UTF_8))
    finally out.close()
  }

  /** The table at `path`, read with its recorded schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The schema recorded at `path`; fails loudly when there is none. */
  def schema(spark: SparkSession, path: String): StructType = {
    val file = new Path(path, SchemaFile)
    val in = try file.getFileSystem(spark.sparkContext.hadoopConfiguration).open(file)
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalStateException(s"no schema record $SchemaFile in " +
        s"'$path': graft reads only tables written through StoredTable.write")
    }
    val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
    DataType.fromJson(json).asInstanceOf[StructType]
  }
}
