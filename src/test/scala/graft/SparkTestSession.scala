package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM-wide; Spark sessions are
  * expensive and getOrCreate makes reuse safe across suites). */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // same handling of TIMESTAMP(NANOS) as GraftSession (read as
      // long, FileStreamSource converts to micros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "250")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
