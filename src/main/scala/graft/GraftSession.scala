package graft

import org.apache.spark.sql.SparkSession

/** One place for session defaults shared by Verify, Bench, and tests.
  *
  * Tuned for the driver's local[N] harness but written for cluster
  * scale: shuffle parallelism tracks the executor-thread count instead
  * of Spark's default 200 (on a real cluster this would be set to
  * ~2-3x total cores / managed by AQE coalescing), AQE stays on for
  * runtime skew/partition re-planning, and parquet timestamps are
  * written as TIMESTAMP_MICROS so any engine (the DuckDB oracle
  * included) reads them back bit-identically.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The RocksDB state store provider class (shipped with Spark; the
    * rocksdbjni native lib is on the unmanaged classpath). Setting it
    * as `spark.sql.streaming.stateStore.providerClass` moves every
    * streaming query's state off-heap/on-disk; results are
    * provider-independent (RocksDbStateSpec). At 100 TB the G-family's
    * keyed state (open sessions, distinct fingerprints) outgrows the
    * default in-memory HDFS-backed store long before the data
    * outgrows the executors. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** `enableUi` powers WordCountCli's `-profile`: the Spark UI (and
    * its per-stage CPU/memory/spill views) is the engine-native
    * equivalent of the reference's pprof flag. */
  def local(appName: String = "graft", enableUi: Boolean = false): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Sketch aggregates are wide (MinHash: 128 min-columns); the
      // default 100-field limit would kick them out of codegen.
      .config("spark.sql.codegen.maxFields", "250")
      // Generated classes are cached JVM-wide, LRU, 100 by default.
      // Counted with CodegenMetrics per perfbench dedup_churn op (seed 7,
      // 4 cores, 7 passes): set-up compiles 95 classes, the first
      // semantic-best ingest 81 and retract 70, the next three passes 30
      // more, later passes none but knn_ivf_served's 2 per call. That
      // working set is over 100, so at the default each row recompiled
      // its own: knn_ivf_served after a store cycle read 0.75-0.83 s at
      // 100 and 0.49 s at 4000 (seed 603).
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Historical events.parquet layouts carried TIMESTAMP(NANOS),
      // which Spark has no type for; read as epoch-nanos long and let
      // FileStreamSource convert to micros. (Current layouts write
      // tz-less timestamp[us] → TIMESTAMP_NTZ, the type Tables declares.)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", enableUi.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
