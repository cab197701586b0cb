package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output layout helpers. At corpus scale the written layout IS the
  * downstream read plan: partition columns become partition-pruned
  * directories, bucket columns become shuffle-free join keys, and
  * file count controls both write parallelism and the next job's task
  * count (too many small files is the classic 100 TB failure mode).
  */
object Sinks {

  /** Write hive-partitioned parquet with a bounded file count per
    * partition: repartitions on the partition columns (plus a spread
    * key so one giant partition value still parallelizes into
    * `filesPerPartition` files, never one straggler file). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       filesPerPartition: Int = 4): Unit = {
    val spread = pmod(spark_partition_id() + monotonically_increasing_id(),
      lit(filesPerPartition))
    df.withColumn("__spread", spread)
      .repartition(partitionCols.map(col) :+ col("__spread"): _*)
      .drop("__spread")
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
  }

  /** Write parquet Z-ORDERED on N key columns (2 ≤ N ≤ 8): rows are
    * range-partitioned and sorted by the bit-interleaved Z-curve
    * value, so each output file covers a tight hyper-rectangle in key
    * space — min/max file statistics then prune file reads for range
    * predicates on ANY of the keys, where a single-column sort
    * clusters one key and scatters the rest (the layout trick behind
    * Delta's OPTIMIZE ZORDER, here as a plain parquet write).
    *
    * Every key is first NORMALIZED to a common `64/N`-bit range
    * (capped at 16 bits; one cheap min/max pass): interleaving raw
    * values lets whichever key has more significant bits dominate the
    * curve and the layout degenerates to a single-column sort — the
    * classic z-order mistake. Requires (max-min) < 2^47 per key (any
    * surrogate key). An empty input (all-null aggregates) is written
    * as-is — there is nothing to lay out. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    files: Int = 8): Unit = {
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order needs 2..8 key columns, got ${cols.size}")
    val bits = math.min(16, 64 / cols.size)
    val range = (1L << bits) - 1L
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    if (r.isNullAt(0)) { // empty input (or an all-null first key)
      df.write.mode("overwrite").parquet(path)
      return
    }
    // a single all-null key degenerates to the hi == lo case (that
    // dimension contributes nothing to the curve) instead of an NPE
    def norm(i: Int) =
      if (r.isNullAt(2 * i)) lit(0L)
      else {
        val (lo, hi) = (r.getLong(2 * i), r.getLong(2 * i + 1))
        if (hi > lo)
          ((col(cols(i)).cast("long") - lit(lo)) * lit(range) / lit(hi - lo))
            .cast("long")
        else lit(0L)
      }
    // File boundaries come from the DISCRETE top-bits curve cell, not
    // the raw z value: sampling a near-continuous z places range
    // bounds mid-cell (sampling noise at small inputs, and at any
    // scale a boundary inside a cell gives the two adjacent files
    // full-width spans on the keys that flip inside that cell —
    // exactly the pruning this layout exists for). With ~files
    // distinct cell values the sampled bounds land BETWEEN cells, so
    // every file covers whole hyper-rectangles deterministically.
    val totalBits = bits * cols.size
    val cellShift = math.max(0, totalBits - ceilLog2(files))
    df.withColumn("__z",
        graft.plans.Exprs.zorder(cols.indices.map(norm), bits))
      .withColumn("__zcell", shiftright(col("__z"), cellShift))
      .repartitionByRange(files, col("__zcell"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__zcell")
      .write.mode("overwrite").parquet(path)
  }

  private def ceilLog2(n: Int): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1, n - 1).toLong)

  /** Two-key form of [[writeZOrdered]]. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    files: Int): Unit =
    writeZOrdered(df, path, Seq(colA, colB), files)

  /** Write a training-order manifest ([[graft.operators.Corpus
    * .trainingMix]] / interleave output) as globally-ordered parquet:
    * range-partitioned on the (vt, source, doc_id) sort key into
    * `files` shards, each locally sorted — so reading the files in
    * range order IS the training order, with no single-task global
    * sort anywhere (the repartitionByRange sampler + local sorts do in
    * parallel what one orderBy task would serialize). Files are named
    * by range partition (part-00000 precedes part-00001 in key space:
    * Spark's range partitioner assigns ascending ranges to ascending
    * partition ids). SinksSpec proves the concatenation of per-file
    * contents equals the fully-sorted manifest. */
  def writeTrainingOrder(manifest: DataFrame, path: String,
                         files: Int = 8): Unit = {
    require(files > 0, "writeTrainingOrder needs files > 0")
    manifest
      .repartitionByRange(files, col("vt"), col("source"), col("doc_id"))
      .sortWithinPartitions(col("vt"), col("source"), col("doc_id"))
      .write.mode("overwrite").parquet(path)
  }

  /** Write bucketed+sorted tables for shuffle-free co-located joins
    * (see ScaleShapeSpec): the managed-table form of pre-partitioning
    * a fact table on its join key. Also the persistence layout for the
    * incremental-dedup stores: the exact-dedup keeper store
    * ([[graft.operators.Dedup.ExactStore]] keepers) bucketed on fp, and
    * [[graft.operators.Dedup.MinHashStore]]'s banded keys on bkey /
    * shingle rows on doc_id — each ingest's delta joins then read the
    * store pre-partitioned on its join key. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .saveAsTable(table)

  /** Compact a bucketed store table in place. Every delta ingest
    * APPENDS its new rows to the store (one file per write task per
    * bucket), so over many ingests the accumulated small-file count —
    * not the data size — starts to dominate the per-ingest store scan:
    * the classic maintained-table debt. This rewrites the table into
    * ONE file per bucket with ZERO shuffle: forcing the BUCKETED scan
    * (autoBucketedScan off for the rewrite) makes each read task hold
    * exactly one bucket's files, so the bucketed re-write emits one
    * file per task — a plain repartition-on-the-bucket-column is NOT
    * safe here, because the optimizer eliminates it against the
    * table's claimed partitioning while the planner independently
    * decides a non-bucketed scan, scattering every bucket across
    * tasks. The rewrite then swaps in via table rename. Bucketing
    * metadata is preserved: downstream ingest joins keep their
    * shuffle-free store side, and results are unchanged across a
    * compaction between two ingests (StoreRoundTripSpec proves rows,
    * assignments, file count, and plan). */
  def compactStore(spark: org.apache.spark.sql.SparkSession, table: String,
                   bucketCol: String, buckets: Int): Unit = {
    val tmp = s"${table}__compacting"
    spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
    // the rewrite needs autoBucketedScan OFF (see above), but that
    // conf is session-wide — toggling it on the caller's session would
    // let CONCURRENT queries in the same session plan non-bucketed
    // scans mid-compaction. Run the rewrite in a cloned session
    // instead: newSession shares the catalog (the rewritten table is
    // visible to the caller) but owns its conf, so the toggle is
    // invisible outside this method. Single WRITER per store table is
    // still assumed — two concurrent compactions (or a compaction
    // racing an ingest's append) on the SAME table can interleave the
    // rename chain below; readers are safe except during the two
    // renames, where the table name briefly doesn't resolve.
    val rewriteSession = spark.newSession()
    rewriteSession.conf
      .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    rewriteSession.table(table)
      .write
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .saveAsTable(tmp)
    // swap via a RECOVERABLE rename chain, not DROP-then-RENAME: a
    // crash between steps leaves the data reachable under `__old` or
    // `__compacting` (recovery = one rename), never silently gone.
    val old = s"${table}__old"
    spark.sql(s"DROP TABLE IF EXISTS `$old`")
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$old`")
  }

  /** Temp directories deleted recursively at JVM exit — shared by the
    * harness bindings that materialize session-scoped sinks/indexes
    * (streaming serve sinks, ServingIndexes). Production callers own
    * durable paths instead. */
  object TempDirs {
    private val registered =
      new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      registered.forEach { f =>
        scala.reflect.io.Directory(f).deleteRecursively(); ()
      }))
    def create(prefix: String): String =
      register(java.nio.file.Files.createTempDirectory(prefix).toString)
    /** Track an existing directory for exit-time deletion. */
    def register(path: String): String = {
      registered.add(new java.io.File(path))
      path
    }
  }
}
