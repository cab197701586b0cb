package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one "is this small enough for the driver?" decision. A driver
  * step saves whole rounds (a union-find instead of O(log diameter)
  * label-propagation jobs, PageRank on arrays instead of a join per
  * iteration, a broadcast probe set instead of a shuffle), but only
  * while the frame fits in driver memory; past its cap every caller
  * takes its distributed shape, which gives the same rows.
  *
  * Each gate has one cap, the system property `graft.<gate>.cap` (rows,
  * read on every call; a negative cap is never met):
  *  - `clusters.edge`, 4M rows: pair or quotient edges collected for
  *    the union-find. 4M edges are a few hundred MB of transient Row
  *    overhead, far above any ingest-bounded quotient and far below a
  *    heap-threatening collect; a corpus-scale pair list takes the
  *    pointer-doubling loop, priced at 1.2-1.7x the driver form.
  *  - `clusters.local.relation`, 1M rows: a driver result embedded as a
  *    local relation, which every downstream plan carries and every
  *    join broadcasts. Past it the rows ship once as a parallelized
  *    dataset (2x 4M union-find labels are far past a sensible
  *    broadcast). PageRank also iterates on the driver only up to this
  *    many edges, since its inflow result is one such relation.
  *  - `knn.broadcast.probes`, 100k rows: probe vectors broadcast to
  *    every executor (~100k 64-float vectors ≈ 30 MB each). Past it the
  *    kNN join runs un-hinted, or as bounded shards for brute force.
  */
private[graft] object DriverGate {

  private val Defaults = Map(
    "clusters.edge" -> 4000000,
    "clusters.local.relation" -> 1000000,
    "knn.broadcast.probes" -> 100000)

  /** The cap of `gate`: its system property, else its default. */
  def cap(gate: String): Int =
    sys.props.get(s"graft.$gate.cap").map(_.toInt).getOrElse(Defaults(gate))

  /** Whether `df` has at most `gate`'s cap rows, decided by a bounded
    * count per partition that never collects a row: each partition
    * iterates at most cap+1 rows of a zero-column projection (so no
    * vector or norm column is evaluated) and ships one long, and a
    * partition alone past the cap already proves the frame is. An
    * over-cap frame puts nothing on the driver, where a
    * `limit(cap+1)` would funnel up to cap+1 rows through a single
    * partition. One job; callers probe a checkpointed or cached frame,
    * or a cheap projection of a source, so the work that follows a
    * "yes" does not recompute it. */
  def fits(df: DataFrame, gate: String): Boolean = {
    val c = cap(gate)
    val n = math.min(c.toLong + 1, Int.MaxValue).toInt
    df.select().queryExecution.toRdd
      .mapPartitions(it => Iterator(it.take(n).size.toLong))
      .collect().sum <= c
  }

  /** A driver result as a frame: a local relation (`isLocal`) up to the
    * `clusters.local.relation` cap, a parallelized dataset past it. */
  def frame(sp: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    if (rows.size <= cap("clusters.local.relation"))
      sp.createDataFrame(rows.asJava, schema)
    else sp.createDataFrame(sp.sparkContext.parallelize(rows,
      math.max(2, sp.sparkContext.defaultParallelism)), schema)
}
