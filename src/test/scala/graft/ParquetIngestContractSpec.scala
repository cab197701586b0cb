package graft

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.FileStreamSource

/** Pins the events-table ingest contract against REAL parquet files, so
  * a driver-side data regeneration cannot silently change the physical
  * timestamp encoding and break every event-time operator again (the
  * round-10 regression: events.ts moved from TIMESTAMP(NANOS) to
  * tz-less timestamp[us], Spark inferred TIMESTAMP_NTZ, and all nine
  * unix_micros()/withWatermark consumers threw at analysis time while
  * the suite stayed green on in-memory TimestampType fixtures).
  *
  * Contract: `Tables.events` reads with the declared schema, whose `ts`
  * is TIMESTAMP_NTZ micros (the driver's encoding), and delivers a
  * TimestampType column carrying the SAME micros DuckDB reads from the
  * file. Instant micros read through the declared type unchanged under
  * the UTC session zone; an epoch-nanos long fails the scan instead of
  * reading wrong values. `FileStreamSource` normalizes every encoding —
  * TIMESTAMP_NTZ micros, epoch-nanos longs (how Spark reads parquet
  * TIMESTAMP(NANOS) under legacy.parquet.nanosAsLong) and instant
  * micros. One representative event-time consumer resolves.
  */
class ParquetIngestContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  // One known instant, expressed per-encoding. Under the UTC session
  // zone the NTZ wall-clock and the instant must land on identical
  // micros.
  private val wall = LocalDateTime.of(2026, 3, 1, 12, 30, 15, 123456000)
  private val instant: Instant = wall.toInstant(ZoneOffset.UTC)
  private val expectMicros: Long =
    instant.getEpochSecond * 1000000L + instant.getNano / 1000L

  private def tmpDir(): Path = Files.createTempDirectory("graft_ingest")

  /** Write `df` as `<dir>/events.parquet` the way the driver stages
    * tables (one parquet footprint per table name). */
  private def writeEvents(df: DataFrame, dir: Path): String = {
    df.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  private def readMicros(dir: String): (org.apache.spark.sql.types.DataType, Long) = {
    val ev = Tables.events(spark, dir)
    val dt = ev.schema("ts").dataType
    // the representative consumer every broken call site shared
    val micros = ev.select(unix_micros(col("ts"))).head().getLong(0)
    (dt, micros)
  }

  test("tz-less timestamp[us] (TIMESTAMP_NTZ) normalizes to the same instant micros") {
    import spark.implicits._
    val dir = tmpDir()
    writeEvents(Seq((1L, wall)).toDF("user_id", "ts"), dir)
    // precondition: the file really is NTZ on disk (otherwise this
    // spec would stop covering the regression it exists for)
    val rawType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(rawType == TimestampNTZType, s"fixture no longer NTZ: $rawType")
    val (dt, micros) = readMicros(dir.toString)
    assert(dt == TimestampType)
    assert(micros == expectMicros)
  }

  test("epoch-nanos long ts fails the declared-schema Tables.events scan") {
    import spark.implicits._
    val dir = tmpDir()
    // nanosAsLong delivers TIMESTAMP(NANOS) as a plain long column;
    // writing a long column produces the identical post-read shape
    writeEvents(Seq((1L, expectMicros * 1000L + 789L)).toDF("user_id", "ts"), dir)
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == LongType)
    intercept[org.apache.spark.SparkException](readMicros(dir.toString))
  }

  test("instant micros (TimestampType) pass through unchanged") {
    import spark.implicits._
    val dir = tmpDir()
    writeEvents(
      Seq((1L, java.sql.Timestamp.from(instant))).toDF("user_id", "ts"), dir)
    val (dt, micros) = readMicros(dir.toString)
    assert(dt == TimestampType)
    assert(micros == expectMicros)
  }

  test("streaming source normalizes NTZ: watermark resolves, same micros out") {
    import spark.implicits._
    val dir = tmpDir()
    writeEvents(Seq((1L, wall)).toDF("user_id", "ts"), dir)
    val part = Files.list(dir.resolve("events.parquet")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    val stream = FileStreamSource(part).stream(spark)
    assert(stream.schema("ts").dataType == TimestampType)
    // withWatermark was the second analysis-time rejection
    // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); prove it binds and the
    // micros survive a drain through the micro-batch machinery
    val sink = s"ingest_contract_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = stream.withWatermark("ts", "1 minute")
      .select(unix_micros(col("ts")).as("us"))
      .writeStream.format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(sink).as[Long].collect()
    assert(got.toSeq == Seq(expectMicros))
  }

  test("streaming source normalizes epoch-nanos long ts to instant micros") {
    import spark.implicits._
    val dir = tmpDir()
    writeEvents(Seq((1L, expectMicros * 1000L + 42L)).toDF("user_id", "ts"), dir)
    val part = Files.list(dir.resolve("events.parquet")).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    val stream = FileStreamSource(part).stream(spark)
    assert(stream.schema("ts").dataType == TimestampType)
    assert(stream.select(unix_micros(col("ts"))).isStreaming)
  }
}
