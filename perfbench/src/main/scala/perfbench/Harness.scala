package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.functions.Text
import graft.operators.{Dedup, WordCount}
import graft.registry.{DedupRegistry, SimilarityRegistry}
import graft.sources.{TextCorpus, VersionedStore}

/** The benchmark's JVM side: one local session, one closed-loop client.
  *
  *   Harness --workload W --data DIR --work DIR --out DIR --seconds N --trace 0|1
  *
  * Setup (session build, input registration, store builds and the warm-up
  * passes) is timed from the top of `main`. Then whole passes run until
  * `--seconds` have gone by and the workload's minimum number of passes
  * has run; each op's wall time covers its complete result, with query
  * outputs written to the noop sink. After the timed passes, one more
  * pass writes each query's output to `out/check/` for the checks, so an
  * output that drifts after the first call shows; store-cycle ops are
  * checked on every pass through their lookups instead. Everything lands
  * in `out/result.json`; perfbench/run.py checks the outputs and computes
  * the metrics. With `--trace 1`, traced and untraced passes alternate
  * (see [[Tracer]]), so one run yields the per-layer numbers and the
  * trace's own overhead. */
object Harness {

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  sealed trait Result
  /** A DataFrame the harness materializes (noop sink, or parquet when checking). */
  final case class Frame(df: DataFrame) extends Result
  /** Collected store lookups, (id, keeper id) pairs kept per pass for the
    * checks. */
  final case class Lookup(rows: Seq[(Long, Long)]) extends Result
  case object Done extends Result

  /** `storeCycle` ops are checked on every pass through the lookups that
    * follow them, so the checked pass skips them. */
  final case class Op(name: String, tracedOnly: Boolean = false,
                      action: String = "spark.action",
                      storeCycle: Boolean = false)(val body: () => Result)

  /** Pass numbers of the untimed passes: the warm-ups before the timed
    * passes, and the checked pass after them. */
  val WarmUp = -1
  val Checked = -2

  abstract class Workload(val spark: SparkSession, val tr: Tracer) {
    /** Whole passes every run measures, however short `--seconds` is. */
    def minPasses: Int = 1
    /** Untimed passes before the timed ones, until the JIT has settled. */
    def warmUps: Int = 1
    def setup(): Unit = ()
    def ops: Seq[Op]
    def probes: Seq[Long] = Nil
    def finalState(): Unit = ()
    val storeWrites = mutable.ArrayBuffer.empty[(Int, String, Long)]
  }

  final class WcBulk(spark: SparkSession, tr: Tracer, data: String)
      extends Workload(spark, tr) {
    // 8 passes give 40 op samples, enough for a p75 tail (10 beyond it);
    // passes are short, and the one after a cold pass still runs up to
    // 1.5x slower
    override def minPasses = 8
    override def warmUps = 2
    private def docs = tr.span("sources.load") {
      TextCorpus.perFileChunked(spark, s"$data/corpus")
    }
    val ops = Seq(
      Op("wordCount")(() => Frame(WordCount.wordCount(docs))),
      Op("distinctWords")(() => Frame(WordCount.distinctWords(docs))),
      Op("topK")(() => Frame(WordCount.topK(docs, 20))),
      Op("bigramLm")(() => Frame(WordCount.bigramLm(docs, 50))),
      Op("freqSpectrum")(() => Frame(WordCount.freqSpectrum(docs))),
      // traced only: the tokenizer kernel alone, no aggregate after it
      Op("tokenize", tracedOnly = true, action = "functions.tokenize")(() =>
        Frame(docs.select(Text.tokens(col("text")).as("tokens")))))
  }

  /** Registry rows bound over one directory of tables. */
  private def registryOp(spark: SparkSession, tr: Tracer, name: String,
                         dir: String): Op = {
    val bind = SparkEntry.queries(name)
    Op(name)(() => Frame(tr.span("registry.bind")(bind(spark, dir))))
  }

  /** A store cycle on the base store, built in setup: ingest the delta,
    * look up, retract the same delta, look up; then the served kNN row over
    * base ∪ delta. Retract undoes ingest, so each pass ends at the base
    * state. The store is the centrality election's four-table
    * SemanticBestStore, the one dd_semantic_retract retracts from. */
  final class DedupChurn(spark: SparkSession, tr: Tracer, data: String,
                         work: String, out: String)
      extends Workload(spark, tr) {
    private val (tau, k) = (DedupRegistry.CosineTau, SimilarityRegistry.K)
    private val storeDir = s"$work/stores/semantic"
    private val StoreTables = Seq("bits", "graph", "assignment", "pairs")
    private def embeddings(slice: String) =
      spark.read.parquet(s"$data/$slice/embeddings.parquet")
    private lazy val (base, delta) = (embeddings("base"), embeddings("delta"))
    /** Probed ids: every delta id and every tenth base id (ids are dense:
      * base rows first, then the delta's). */
    override val probes: Seq[Long] = {
      val m = Json.readTree(new java.io.File(s"$data/manifest.json"))
      val Seq(baseN, deltaN) = Seq("/vectors/base", "/vectors/delta").map(m.at(_).asLong)
      (0L until baseN by 10) ++ (baseN until baseN + deltaN)
    }

    override def setup(): Unit = {
      val st = Dedup.semanticBestStore(base, tau, k)
      write(st)
      // the full build over base, which retract must return to
      save(st.assignment, "base")
    }

    private def save(assignment: DataFrame, name: String): Unit =
      assignment.select("vec_id", "keep_id").write.mode("overwrite")
        .parquet(s"$out/final/$name")

    private def write(st: Dedup.SemanticBestStore): Unit = {
      val paths = tr.span("sources.store_write")(VersionedStore.write(storeDir,
        StoreTables.zip(Seq(st.bits, st.graph, st.assignment, st.pairs))))
      if (tr.active) storeWrites += ((tr.pass, tr.op, paths.map(dirBytes).sum))
    }

    private def store = {
      val Seq(bits, graph, assignment, pairs) =
        VersionedStore.read(spark, storeDir, StoreTables).getOrElse(
          sys.error(s"no live store under $storeDir"))
      Dedup.SemanticBestStore(bits, graph, assignment, pairs, tau, k)
    }

    private def lookup(): Result = tr.span("sources.store_read") {
      Lookup(store.assignment.filter(col("vec_id").isin(probes: _*))
        .select("vec_id", "keep_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }

    private def storeOp(name: String)(body: => Result) =
      Op(name, storeCycle = true)(() => body)

    val ops: Seq[Op] = Seq(
      storeOp("semantic_ingest") {
        val st = tr.span("sources.store_read")(store)
        write(tr.span("operators.ingest")(
          Dedup.semanticKeepersBestDelta(st, delta, tau, k)).updatedStore)
        Done
      },
      storeOp("store_lookup.ingested")(lookup()),
      storeOp("semantic_retract") {
        val st = tr.span("sources.store_read")(store)
        write(tr.span("operators.retract")(
          Dedup.semanticBestRetract(st, delta.select("vec_id"), tau, k)).updatedStore)
        Done
      },
      storeOp("store_lookup.base")(lookup()),
      registryOp(spark, tr, "knn_ivf_served", s"$data/full"))

    /** The store as the last pass left it, and the engine's full rebuild
      * over base ∪ delta, for the store-cycle checks. The rebuild is
      * semanticKeepersBest, the batch election the store's build, delta
      * and retract are exact against (the composed
      * semanticKeepersBestDedup elects differently among byte-identical
      * vectors, which the delta plants). */
    override def finalState(): Unit = {
      save(store.assignment, "last")
      save(Dedup.semanticKeepersBest(embeddings("full"), tau, k), "full")
    }
  }

  private def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  final case class Sample(pass: Int, op: String, traced: Boolean,
                          tracedOnly: Boolean, t0: Long, t1: Long, w0: Long,
                          w1: Long, error: Option[String])

  /** The registry rows each workload checks against DuckDB. */
  val OracleRows: Map[String, Seq[String]] = Map("wc_bulk" -> Nil,
    "dedup_churn" -> Seq("knn_ivf_served"))

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, data, out, work) =
      (opt("workload"), opt("data"), opt("out"), opt("work"))
    val seconds = opt("seconds").toDouble
    val tr = new Tracer(opt("trace") == "1")

    tr.active = tr.enabled
    val spark = tr.span("GraftSession.build")(GraftSession.local("perfbench"))
    if (tr.enabled) tr.install(spark)
    val wl: Workload = workload match {
      case "wc_bulk" => new WcBulk(spark, tr, data)
      case "dedup_churn" => new DedupChurn(spark, tr, data, work, out)
      case w => sys.error(s"unknown workload $w")
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val lookups = mutable.ArrayBuffer.empty[(Int, String, Seq[(Long, Long)])]

    def runPass(pass: Int, traced: Boolean, check: Boolean): Unit =
      for (op <- wl.ops if (traced || !op.tracedOnly) && !(check && op.storeCycle)) {
        tr.beginOp(pass, op.name, traced)
        val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
        val error = try {
          tr.span("op") {
            op.body() match {
              case Frame(df) => tr.span(op.action) {
                if (check) df.write.mode("overwrite").parquet(s"$out/check/${op.name}")
                else df.write.format("noop").mode("overwrite").save()
              }
              case Lookup(rows) => lookups += ((pass, op.name, rows))
              case Done =>
            }
          }
          None
        } catch { case NonFatal(e) => Some(e.toString.take(2000)) }
        val (t1, w1) = (System.nanoTime(), System.currentTimeMillis())
        tr.drain()
        error.foreach(e => System.err.println(s"[perfbench] $workload ${op.name} pass $pass failed: $e"))
        samples += Sample(pass, op.name, traced, op.tracedOnly, t0, t1, w0, w1, error)
      }

    tr.beginOp(WarmUp, "setup", traced = true)
    wl.setup()
    for (_ <- 1 to wl.warmUps) runPass(WarmUp, traced = false, check = false)
    val setupS = (System.nanoTime() - start) / 1e9

    val timed = System.nanoTime()
    var pass = 0
    // traced runs put each traced pass between two untraced ones, so JIT
    // warm-up favours neither side of the overhead comparison
    val minPasses = if (tr.enabled) wl.minPasses max 3 else wl.minPasses
    while (pass < minPasses || System.nanoTime() - timed < seconds * 1e9 ||
           (tr.enabled && pass % 2 == 0)) {
      runPass(pass, traced = tr.enabled && pass % 2 == 1, check = false)
      pass += 1
    }
    tr.beginOp(pass, "teardown", traced = false)

    // retained driver heap: after a forced full GC, outside the timed window
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    runPass(Checked, traced = false, check = true)
    wl.finalState()

    val oracle = SparkEntry.oracleSql
    val result = Map(
      "workload" -> workload,
      "cpus" -> GraftSession.cpus.toInt,
      "setup_s" -> setupS,
      "heap_retained_mb" -> heapMb,
      "samples" -> samples.map(s => Map("pass" -> s.pass, "op" -> s.op,
        "traced" -> s.traced, "traced_only" -> s.tracedOnly, "t0" -> s.t0,
        "t1" -> s.t1, "w0" -> s.w0, "w1" -> s.w1, "error" -> s.error)),
      "lookups" -> lookups.map { case (p, o, rows) =>
        Map("pass" -> p, "op" -> o, "rows" -> rows) },
      "probes" -> wl.probes,
      "oracle_sql" -> OracleRows(workload).map(n => n -> oracle(n)).toMap,
      "trace" -> (if (!tr.enabled) null else Map(
        "spans" -> tr.spanRecords.map(s =>
          Seq(s.id, s.name, s.parent, s.op, s.pass, s.start, s.end)),
        "jobs" -> tr.jobs.map(j =>
          Seq(j.id, j.pass, j.op, j.span, j.attributed, j.site, j.start, j.end)),
        "buckets" -> tr.buckets.map { case ((p, o), b) =>
          (Seq("pass" -> p, "op" -> o) ++ b.fields).toMap },
        "store_writes" -> wl.storeWrites.map { case (p, o, b) =>
          Map("pass" -> p, "op" -> o, "bytes" -> b) })))
    val file = new java.io.File(out, "result.json")
    java.nio.file.Files.writeString(file.toPath, Json.writeValueAsString(result))
    spark.stop()
  }
}
