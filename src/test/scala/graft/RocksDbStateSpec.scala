package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** The G-family under the RocksDB state store
  * ([[GraftSession.RocksDbProvider]] as the provider conf): identical
  * results and the same bounded-state behavior as the default
  * provider, with state now living off-heap/on-disk — the configuration a 100 TB session-state footprint needs.
  * The provider conf is read at query start, so the shared test
  * session can flip it per test and restore it after.
  */
class RocksDbStateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  private val ConfKey = "spark.sql.streaming.stateStore.providerClass"
  private val M = 60L * 1000000L

  private def withRocksDb[T](f: => T): T = {
    val prev = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, GraftSession.RocksDbProvider)
    try f finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None    => spark.conf.unset(ConfKey)
    }
  }

  private def lastState(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.reverse.flatMap(p => Option(p.stateOperators))
      .headOption.map(_.toSeq).getOrElse(Seq.empty)

  test("closed sessions under RocksDB: same output, state freed on timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val B = 60 * M
      val input = MemoryStream[(Long, Long, Long)]
      val events = input.toDF().toDF("user_id", "event_id", "ts_us")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(col("ts_us")).as("ts"))
      val sessions = Streams.sessionizeClosedFromStream(
        events, gapMinutes = 30, lateness = "5 minutes")
      val q = sessions.toDF().writeStream
        .outputMode("append").format("memory").queryName("rdb_closed").start()
      try {
        input.addData((1L, 1L, B), (2L, 2L, B + M), (3L, 3L, B + 2 * M))
        q.processAllAvailable()
        assert(lastState(q).map(_.numRowsTotal).sum == 3)
        // the provider must actually be RocksDB, not silently defaulted
        val metrics = lastState(q).flatMap(o =>
          Option(o.customMetrics).map(_.keySet.toString).toSeq).mkString
        assert(metrics.toLowerCase.contains("rocksdb"),
          s"no rocksdb metrics in state operator progress: $metrics")
        // watermark advance seals users 1-3 and must FREE their state
        input.addData((4L, 4L, B + 600 * M))
        q.processAllAvailable()
        input.addData((4L, 5L, B + 601 * M))
        q.processAllAvailable()
        assert(lastState(q).map(_.numRowsTotal).sum == 1)
        val closed = spark.table("rdb_closed")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(closed == Set(
          (1L, B, B, 1L), (2L, B + M, B + M, 1L), (3L, B + 2 * M, B + 2 * M, 1L)))
      } finally q.stop()
    }
  }

  test("streaming dedup under RocksDB: one state row per distinct fingerprint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[(Long, String)]
      val agg = input.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      val q = agg.writeStream
        .outputMode("complete").format("memory").queryName("rdb_dedup").start()
      try {
        input.addData((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"))
        q.processAllAvailable()
        assert(lastState(q).map(_.numRowsTotal).sum == 2)
        input.addData((5L, "aa"), (6L, "cc"))
        q.processAllAvailable()
        assert(lastState(q).map(_.numRowsTotal).sum == 3)
        val rows = spark.table("rdb_dedup")
          .as[(String, Long, Long)].collect().map(r => r._2 -> r._3).toMap
        assert(rows == Map(1L -> 4L, 2L -> 1L, 6L -> 1L))
      } finally q.stop()
    }
  }
}
