package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver. Each query runs once warm-up
  * (JIT + code cache + parquet footer cache) and `Runs` timed passes,
  * fully executed through the noop sink — unlike count(), noop
  * evaluates every output column, so projection-only queries can't
  * cheat by pruning their own compute.
  *
  * Variance is first-class (round-3 lesson: a 21.6% total swing with
  * zero benched-code changes): `queries` carries the median, `stats`
  * carries {median,min,max,n} per query so the driver/judge can see
  * run-to-run spread, and `trend` times a 3-query subset at sf0.01 as
  * a scaling reference alongside the main SF.
  */
object Bench {
  /** Headliners — the queries whose latency the round is graded on.
    * Kept to the representative per-family workloads so quadratic
    * verification queries (oracle-only shapes) don't dominate. The
    * round-8 additions cover what rounds 5-8 shipped: decorrelated
    * subqueries (q18), the fused quality gate, semantic dedup,
    * incremental exact dedup, the one-scan set-op census, the
    * diversity-kernel scan, quantized-idf search, and the staged
    * interleave. */
  def headliners: Seq[String] = {
    val defaults = Seq(
      "wc_wordcount", "wc_topk", "wc_per_doc",
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q18_large_orders", "q_setops_census",
      "q13_cust_distribution", "q19_disjunctive_revenue",
      "q_events_sessionize", "q_asof_last_order", "q_asof_tolerance",
      "q_range_join", "q_retention", "q_events_funnel", "q_value_histogram",
      "q_session_stats", "q_events_anomaly",
      "ta_quality", "ta_diversity", "ta_lm_score", "ta_search",
      "ta_compressibility", "cp_quality_gate",
      "cp_interleave", "cp_decontaminate_fuzzy", "cp_source_overlap",
      "cp_dup_attribution",
      // r16: the retraction rows beside their family — the takedown
      // pass against the (memoized, for the semantic row) store; the
      // graded number times the retraction, not a store rebuild
      "dd_exact", "dd_exact_delta", "dd_exact_retract",
      "dd_keep_best_dedup", "dd_paragraph", "dd_paragraph_rewrite",
      "dd_boilerplate", "cp_pack",
      "dd_minhash", "dd_simhash", "dd_semantic", "dd_semantic_best",
      // r13: the composed exact-first semantic orders (min-id and
      // centrality) and the (store-memoized) incremental pass — the
      // delta row's store builds once in the warm-up like every
      // *_served index
      "dd_semantic_dedup", "dd_semantic_best_dedup", "dd_semantic_delta",
      // r14: the incremental centrality election (store memoized —
      // the timed pass is the delta against persisted tables)
      "dd_semantic_best_delta", "dd_semantic_retract",
      // r14: the media delta beside its full-run sibling (store
      // memoized like every *_delta/served row — the timed pass is
      // the delta against the persisted frame tables)
      "mm_payload_neardup", "mm_payload_neardup_delta",
      // knn_lsh BUILD row (r13, VERDICT item #3): its served sibling
      // was benched but the build was not, leaving the LSH family's
      // served<build claim resting on builder-local numbers
      // knn_ivf_trained + its served row (r13): the Lloyd's build is
      // the family's most expensive index construction, so its
      // served<build gap is the one most worth grading
      "knn_bruteforce", "knn_lsh", "knn_ivf", "knn_ivf_trained",
      "knn_filtered", "knn_ivf_filtered",
      "knn_graph", "knn_pagerank",
      "knn_pq", "knn_ivfpq",
      "knn_outliers", "knn_ivf_census",
      // serving paths: the index builds once in the warm-up pass
      // (ServingIndexes memoizes per corpus dir), so these rows time
      // the per-query cost the indexed operators exist for
      "ta_search_served", "ta_search_batch", "ta_lm_score_served",
      "knn_graph_served",
      "knn_lsh_served", "knn_ivf_served", "knn_ivf_trained_served",
      "knn_ivf_filtered_served",
      "knn_pq_served", "knn_ivfpq_served",
      // r18: the E-family's graded takedown beside its served sibling
      // (same memoized index; the timed pass is anti-join + query)
      "knn_ivf_retract",
    ).filter(SparkEntry.queries.contains)
    sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").toSeq.filter(SparkEntry.queries.contains))
      .getOrElse(defaults)
  }

  /** Timed passes per query (after one warm-up). */
  def runs: Int =
    sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(5)

  /** The r11 driver-gate spike rows (VERDICT r11 graded them `weak`:
    * 2-10x driver-box spikes on unchanged-or-cheaper code that no
    * builder replay reproduces). Their {m: median, n: min, g: gc}
    * land on the final compact line so the spike adjudication
    * survives the driver's stdout-tail truncation. Terse keys, few
    * rows: the driver keeps a ~2000-char stdout TAIL (round-4
    * lesson), so with 68 queries the compact line's HEAD truncates
    * and only the line's END — the queries map's tail plus every
    * block after it (watch, served_over, intra, sf) — survives into
    * the graded file; everything here is tail-side real estate and
    * must stay small. */
  val WatchRows: Seq[String] =
    Seq("dd_semantic", "cp_dup_attribution", "dd_paragraph",
      "q18_large_orders",
      // r14 (VERDICT r13 task 1): the largest un-adjudicated r13
      // regression — its compact line now always carries {median,
      // min, gc} so the next spike self-adjudicates from the file
      "dd_keep_best_dedup",
      // r15 (VERDICT r14): dd_minhash read 15.33 s graded vs a
      // 1.0-1.9 s band and a 1.51 s judge same-code replay — the
      // fifth recurrence of the driver-box interference class, at
      // unprecedented magnitude, and the row carried no min/gc to
      // adjudicate itself; the file's most expensive row
      // (dd_semantic_best_delta) likewise had no band at all; and
      // wc_wordcount — the row graded against BASELINE.md — sat at
      // the HEAD of the queries map, which is exactly the part of
      // the compact line the driver's 2000-char stdout tail cuts
      // (the watch block rides the line's surviving end)
      "dd_minhash", "dd_semantic_best_delta",
      // r16 closing: the file's new noisiest row — floor-dominated
      // (isolated anatomy: rescored rows=0, ~1.5 s of instrumented
      // stages, the rest pagerank+election floor + 4 store-table
      // reads across many small stages), so same-code passes read
      // 6.6-10.6 s as calibration_sched drifted 0.030→0.060; carry
      // {m, n, g} + band so the next drift self-adjudicates
      "dd_semantic_retract",
      // r17 (VERDICT r16 item #4): knn_outliers graded 0.705 vs 0.259
      // r15 with no intra flag — it sits right after the intra-flagged
      // E-block window, so all five passes likely rode it, which the
      // median-vs-own-min rule can't see; band it so the next reading
      // self-adjudicates
      "knn_outliers",
      // r18 (VERDICT r17 item #3): knn_pagerank read 2.94 graded r17
      // vs 1.58-2.31 r12-r16 — the second consecutive round a judge
      // hand-adjudicated it (environment both times) and the most
      // expensive row with no band; knn_ivf_census (0.63 vs 0.28-0.44)
      // and ta_lm_score_served (0.71 vs 0.41-0.55) rode the same r17
      // window and were named for the same treatment
      "knn_pagerank", "knn_ivf_census", "ta_lm_score_served",
      // r19 (VERDICT r18 item #1): knn_filtered graded 0.862 r18 vs a
      // 0.20-0.28 r14-r17 history — the THIRD consecutive round a
      // judge hand-adjudicated an unbanded row (replay 0.369, box) —
      // plus the two other sub-second E/C rows that have twice read
      // >2x on loaded boxes (knn_ivfpq 1.24 r17 vs 0.46 r18;
      // ta_search_batch 0.51 r17 vs 0.24 r18): enroll all three so
      // the next drift self-adjudicates from the graded file
      "knn_filtered", "knn_ivfpq", "ta_search_batch",
      // r19: dd_exact_retract's SHAPE changed this round (VERDICT r18
      // item #4 — the timed pass now includes the VersionedStore
      // publish + read-back serve), so its r16-r18 history no longer
      // prices it; carry {m, n, g} + a provisional band so the first
      // rounds of the durable shape self-adjudicate instead of
      // hand-adjudicating a "regression" that is the new semantics
      "dd_exact_retract",
      // wc_wordcount stays LAST so the BASELINE.md-graded row rides
      // the surviving end of the driver's truncated stdout tail
      "wc_wordcount")

  /** Historical BANDS for the watch rows (r16, VERDICT r15 task #3):
    * (low, high) in raw graded seconds at box_ratio ≈ 1, derived from
    * the clean graded rounds r12-r15 (the adjudicated interference
    * spikes — r13 dd_paragraph 1.55, r13 dd_keep_best_dedup 9.05,
    * r14 dd_minhash 15.33, r14 dd_semantic_best_delta 18.14 — are
    * excluded; provenance table in SURVEY §6). A watch row whose
    * MEDIAN lands outside its band self-reports in `watch_out` on the
    * compact line, so cross-round drift is visible in the graded file
    * the same way `intra` makes within-run interference visible —
    * read it against `box_ratio` (a band assumes a ≈1.0 box) and the
    * row's own {m, n, g} before calling it a regression.
    * dd_semantic_best_delta's band floor reflects the r15 merged-
    * top-k rework (6.9 graded / 6.1 same-box replay); wc_wordcount's
    * is the BASELINE.md-graded row (0.27-0.33 across r11-r15). */
  /** Lows sit well under the fastest CLEAN full-run reading (r16
    * close: a fast pass read cp_dup_attribution 4.06 and
    * dd_semantic_retract 4.98 under the first-cut lows and
    * self-flagged — a low exists to catch wrong-row/empty-input
    * anomalies, not a fast box, so lows are ~60-80% of the best
    * clean reading while highs stay the regression side). */
  /** r20 re-derivation (optimization round): the clusters driver
    * fast path, the topK in-heap dedup, the one-aggregate election,
    * and the hoisted pagerank outdeg moved the whole semantic/Jaccard
    * family's clean readings DOWN 2-5x (OPTIMIZATION_r20.md carries
    * the before/after evidence; oracle preflight hash-verified every
    * moved row). The mid-round full run self-flagged dd_semantic,
    * cp_dup_attribution and dd_keep_best_dedup UNDER their old lows —
    * the lows exist to catch wrong-row/empty-input anomalies, not a
    * faster engine — so the moved rows' bands re-derive from the r20
    * post-change readings (house style: lo ≈ 0.6x the best clean
    * reading, hi ≈ 1.6-1.7x the clean max), readings spanning
    * calibration 0.38-0.67 boxes. */
  val WatchBands: Map[String, (Double, Double)] = Map(
    "dd_semantic" -> (0.55, 2.5), // r20 clean: 0.95 (calib 0.52), 1.52 (0.67)
    "cp_dup_attribution" -> (1.2, 4.2), // r20 clean: 2.01, 2.49
    "dd_paragraph" -> (0.45, 1.2),
    "q18_large_orders" -> (0.7, 2.2),
    "dd_keep_best_dedup" -> (1.25, 6.0), // r20 clean: 2.10, 2.15, 3.79
    "dd_minhash" -> (0.7, 1.9),
    // hi kept (regression side unchanged); lo follows the r20
    // readings the same way (post-pagerank-lineage-truncation clean
    // readings 3.14-3.58 on calib 0.33-0.48 boxes)
    "dd_semantic_best_delta" -> (1.9, 9.5),
    // r16-only history (new row, post-surplus store): clean full
    // runs 4.98-7.04, isolated 6.6-10.6 across same-code sched
    // drift — wide band for a floor-dominated row, read with the
    // line's box_ratio and the row's own {m, n, g}
    // r20 lo: clean 3.13-4.06 after the pagerank lineage truncation
    "dd_semantic_retract" -> (1.9, 12.0),
    // r12-r15 clean gradings 0.26-0.35; r16's 0.705 is the suspected
    // E-block interference reading and is excluded from the band
    "knn_outliers" -> (0.16, 0.55),
    // r18 bands (VERDICT r17 item #3), derived from the r12-r16 clean
    // gradings with the adjudicated-environment r17 readings excluded
    // (knn_pagerank 2.94, knn_ivf_census 0.63, ta_lm_score_served
    // 0.71 — all on the 1.13 box, all in untouched code): lows ~60-65%
    // of the best clean reading, highs the regression side sized so a
    // recurrence of the r17 box still lands the recheck, not a false
    // regression call
    // hi = ~1.6x the clean max (knn_outliers' 0.55/0.35 ratio — the
    // house style): the builder's r18 closing runs read 2.36 on a
    // fast box and 3.18 on a box that was measurably degrading
    // through the run, so a 3.0 hi would flag ordinary loaded-box
    // readings while 3.6 still catches a real (>1.5x) regression
    // r12-r16: 1.58-2.31; r20 lo re-derived after the pagerank
    // lineage truncation (clean 1.12-1.52)
    "knn_pagerank" -> (0.65, 3.6),
    "knn_ivf_census" -> (0.17, 0.75), // r12-r16: 0.28-0.44
    "ta_lm_score_served" -> (0.25, 0.85), // r12-r16: 0.41-0.55
    // r19 bands (VERDICT r18 item #1), same derivation discipline:
    // lows ~60% of the best clean reading, highs ~1.6-1.7x the clean
    // max with the adjudicated-environment readings excluded
    // (knn_filtered 0.862 r18 — judge same-code replay 0.369;
    // knn_ivfpq 1.24 r17; ta_search_batch 0.51 r17)
    "knn_filtered" -> (0.12, 0.65), // r14-r17 clean: 0.20-0.28; replay 0.369
    "knn_ivfpq" -> (0.25, 1.2), // clean history: 0.46-0.78 (r12-r18)
    // ta_search_batch's only clean graded readings are 0.24 (r18) and
    // the ~0.3s closing-run passes; 0.51 rode r17's adjudicated box
    "ta_search_batch" -> (0.14, 0.60),
    // r20 tightened (VERDICT r19 item #5) from the provisional
    // r19-only [0.5, 2.8]: two rounds of clean durable-shape history
    // — r19 close m 1.447/n 0.935 (fast box 0.839) and 1.094 (loaded
    // box 1.368), graded 0.944, judge replay 1.061; r20 subset m
    // 1.147/n 1.096 (fast box 0.626) — cluster at 0.94-1.45 across
    // box_ratios 0.63-1.37, so house style gives lo 0.6×0.94 ≈ 0.55
    // and hi 1.7×1.45 ≈ 2.5 (still wide-ish for the by-design
    // per-pass FS variance intra flagged in r19); derivation table
    // in SURVEY §6's r20 block
    "dd_exact_retract" -> (0.55, 2.5),
    // lo lowered 0.15 → 0.09 in r20: the r20 fast box (box_ratio
    // 0.626) read a CLEAN 0.1441 median / 0.135 recheck with the
    // row hash-verified at preflight — the old lo flagged a fast
    // box, which is exactly what a lo must not do (r16 lesson);
    // 0.09 ≈ 60% of the new best clean reading, still far above
    // the wrong-row/empty-input anomaly class the lo exists for
    "wc_wordcount" -> (0.09, 0.45))

  /** Every `*_served` row beside its build sibling. The compact line
    * carries `served_over` — served rows whose median exceeds the
    * build sibling's by MORE than the scheduling floor
    * (calibration_sched): a served/build inversion smaller than one
    * task-launch floor on a sub-second row is scheduling noise, not a
    * serving regression (r14, VERDICT r13 item #4 — r13's
    * knn_ivf_filtered_served read +45 ms ≈ the floor over its build
    * row and graded as an inversion). An EMPTY map in the graded file
    * is the claim "every serving path beats its build path by more
    * than the floor's noise band, or ties within it". Each over
    * entry is `{"d": graded delta, "r": one-shot isolated recheck
    * delta}` (r20 — see the emit site's rationale). */
  val ServedBuild: Seq[(String, String)] = Seq(
    "ta_search_served" -> "ta_search",
    "ta_lm_score_served" -> "ta_lm_score",
    "knn_graph_served" -> "knn_graph",
    "knn_lsh_served" -> "knn_lsh",
    "knn_ivf_served" -> "knn_ivf",
    "knn_ivf_trained_served" -> "knn_ivf_trained",
    "knn_ivf_filtered_served" -> "knn_ivf_filtered",
    "knn_pq_served" -> "knn_pq",
    "knn_ivfpq_served" -> "knn_ivfpq")

  /** Small cross-SF subset: one cheap scan-agg, one join-heavy, one
    * sketch-heavy — enough to see whether per-query cost scales with
    * data or is dominated by fixed overhead. */
  val TrendQueries: Seq[String] =
    Seq("wc_wordcount", "q1_pricing_summary", "dd_minhash")

  /** Timed passes for one query at one SF dir. `times` holds only the
    * SUCCESSFUL passes; a failure is carried in `err`, never as a fake
    * 0.0 s — round 10's four broken queries timed 0.0000 and read as
    * the fastest rows in the file, which is exactly backwards.
    * `gcFrac` is the fraction of the timed wall the JVM spent in GC
    * across the passes — the r11 driver-box spike adjudication needs
    * the MECHANISM, not just the magnitude: an in-band `min` with a
    * spiked median and gc≈0 is scheduler/IO interference, gc-heavy is
    * heap pressure, and neither is a code regression. */
  final case class QTimes(times: Seq[Double], err: Option[String],
                          gcFrac: Double) {
    def failed: Boolean = times.isEmpty
  }

  /** Cumulative JVM GC wall (ms) across all collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def time(spark: SparkSession, name: String, sfDir: Seq[String],
                   n: Int): Map[String, QTimes] = {
    val fn = SparkEntry.queries(name)
    sfDir.map { d =>
      // each pass inside a cache bracket: a pass's internal persists
      // (shingle rows, hit frames, seed frames) are built fresh per
      // pass and never reused by the next one, so without the bracket
      // they accumulate as dead storage across 39 queries x 6 passes
      // and late rows pay the eviction churn. ServingIndexes state is
      // parquet paths, not cached frames — unaffected. The release
      // runs OUTSIDE the timed window (the timer stops before the
      // bracket exits), so a pass is charged for its work, not its
      // cleanup.
      var err: Option[String] = None
      // GC is sampled INSIDE the timed window (r12 review finding):
      // the pass timer stops before the cache bracket's blocking
      // unpersists run, so sampling gc across the whole pass loop
      // charged cleanup-provoked collections to a denominator that
      // excludes their wall — inflating `g` into a fake "heap
      // pressure" verdict for cache-heavy queries. Numerator and
      // denominator now cover the identical region.
      var gcMs = 0L
      def once(): Option[Double] =
        try graft.operators.CacheTracker.scoped {
          var dt = 0.0
          val g0 = gcMillis()
          val t0 = System.nanoTime()
          fn(spark, d).write.format("noop").mode("overwrite").save()
          dt = (System.nanoTime() - t0) / 1e9
          gcMs += gcMillis() - g0
          Some(dt)
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name@$d failed: ${e.getMessage}")
          if (err.isEmpty)
            err = Some(s"${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").linesIterator.take(1)
                .mkString.take(160)}")
          None
        }
      once() // warm-up (JIT, code cache, parquet footers)
      // a warm-up-only hiccup (e.g. a first-touch index build race)
      // must not stamp an err onto n clean timed passes — and the
      // warm-up's GC must not ride the timed passes' fraction
      err = None
      gcMs = 0L
      val times = (0 until n).flatMap(_ => once())
      val wall = times.sum
      d -> QTimes(times, err, if (wall > 0) gcMs / 1000.0 / wall else 0.0)
    }.toMap
  }

  /** Fixed synthetic calibration row: a constant-size in-memory
    * hash-agg (no IO, no persists, no data dependency) timed every
    * round so BENCH files are comparable across driver boxes — r9 vs
    * r10 was uninterpretable because box speed and methodology changed
    * together. `vs_prev` divides current medians by the box ratio
    * (this round's calibration / prior round's) before flagging, which
    * turns "environment or regression?" into arithmetic. */
  private def calibrate(spark: SparkSession, n: Int): Seq[Double] = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, 32)
        .select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(1024)).as("b"))
        // bit_xor, not sum: summing 50M hashes overflows long under
        // ANSI mode; xor is overflow-free and equally unprunable
        .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    (0 until n).map(_ => once())
  }

  /** SECOND calibration row (r13, VERDICT item #4): a fixed 32-task
    * NO-OP stage — pure scheduling/launch overhead, no compute, no IO.
    * The CPU-bound calibration above normalizes compute-dominated
    * rows, but a short scheduling-dominated row (a sub-second query is
    * mostly task launch + exchange setup) scales with the box's
    * scheduling floor, not its ALU throughput — so when boxes differ,
    * dividing a 0.3 s row by the CPU ratio over- or under-flags it
    * (the builder's own §6 caveat on flagged_norm). `vs_prev`
    * normalizes rows whose PRIOR median is scheduling-dominated by
    * this row's ratio instead. */
  private def calibrateSched(spark: SparkSession, n: Int): Seq[Double] = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 32L, 1, 32).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    (0 until n).map(_ => once())
  }

  /** A prior-round row counts as scheduling-dominated when its median
    * sat under this many scheduling floors — below that, wall time is
    * task launch + exchange setup, not compute, and the CPU ratio is
    * the wrong normalizer for it. */
  val SchedDominatedFloors: Double = 5.0

  private def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)

  /** 4-decimal (0.1 ms) rendering keeps the driver-parsed line short.
    * Locale-pinned: a comma-decimal default locale would print 0,4725
    * and break the driver's JSON parse. */
  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** Prior round's per-query medians (+ calibration median when the
    * file carries one), for the regression tripwire:
    * SPARK_GRAFT_BENCH_PREV names the graded JSON explicitly, else the
    * highest-numbered BENCH_r*.json in the working directory. Accepts
    * either the driver's grading envelope ({"parsed":{"queries":…}})
    * or a bare compact metric line. Absent/unreadable → no block. */
  private final case class PrevBench(src: String,
                                     medians: Map[String, Double],
                                     calib: Option[Double],
                                     sched: Option[Double])

  private def prevMedians(): Option[PrevBench] = {
    // numeric round sort: lexicographic would pick r9 over r10
    val path = sys.env.get("SPARK_GRAFT_BENCH_PREV").orElse(
      Option(new java.io.File(".").listFiles()).flatMap(
        _.filter(_.getName.matches("BENCH_r\\d+\\.json"))
          .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
          .lastOption.map(_.getPath)))
    path.flatMap { p =>
      val f = new java.io.File(p)
      try {
        import org.json4s._
        val j = jackson.JsonMethods.parse(f)
        def num(v: JValue): Option[Double] = v match {
          case JDouble(d) => Some(d)
          case JInt(i) => Some(i.toDouble)
          case JDecimal(d) => Some(d.toDouble)
          case _ => None
        }
        def qs(v: JValue): Option[Map[String, Double]] = v \ "queries" match {
          case JObject(fields) =>
            Some(fields.flatMap { case (k, jv) => num(jv).map(k -> _) }.toMap)
          case _ => None
        }
        def build(v: JValue): Option[PrevBench] = qs(v).map(m =>
          PrevBench(f.getName, m, num(v \ "calibration"),
            num(v \ "calibration_sched")))
        build(j \ "parsed").orElse(build(j))
      } catch { case _: Throwable => None }
    }
  }

  /** Per-query delta vs the prior round as a JSON fragment: raw pct
    * change per shared query, a `flagged` list of >25% movers, and —
    * when both rounds carry a calibration median — `box_ratio` (this
    * box's calibration / prior's) plus `pct_norm`/`flagged_norm`
    * computed on box-normalized times, so an environment slowdown
    * stops masquerading as a code regression. r13: when both rounds
    * ALSO carry the scheduling-floor calibration, a row whose PRIOR
    * median was scheduling-dominated (< [[SchedDominatedFloors]] ×
    * the prior floor) normalizes by the FLOOR ratio instead of the
    * CPU ratio — short rows scale with task-launch overhead, not ALU
    * throughput, and CPU-normalizing them over-flags exactly when
    * box_ratio ≠ 1 (the §6 caveat this closes). `sched_ratio` and the
    * per-row choice ride the detail line via `norm_by_sched`. */
  private def vsPrevJson(medians: Seq[(String, Double)],
                         calib: Double, sched: Double,
                         prevData: Option[PrevBench]): String =
    prevData match {
      case Some(PrevBench(src, prev, prevCalib, prevSched)) =>
        def deltas(scaleOf: String => Double) = medians.flatMap { case (k, v) =>
          prev.get(k).filter(_ > 0)
            .map(p => (k, (v / scaleOf(k) - p) / p * 100.0))
        }
        def render(ds: Seq[(String, Double)]): (String, String) = (
          ds.map { case (k, pct) => "\"" + k + "\":" + fmt(pct) }
            .mkString("{", ",", "}"),
          ds.filter { case (_, pct) => math.abs(pct) > 25.0 }
            .map { case (k, _) => "\"" + k + "\"" }.mkString("[", ",", "]"))
        val (pcts, flagged) = render(deltas(_ => 1.0))
        val normed = prevCalib.filter(_ > 0).map { pc =>
          val cpuRatio = calib / pc
          // rows whose prior median sat under the scheduling-dominance
          // cut normalize by the floor ratio (when both rounds have it)
          val schedInfo = prevSched.filter(_ > 0).filter(_ => sched > 0)
            .map(ps => (sched / ps, ps))
          def scaleOf(k: String): Double = schedInfo match {
            case Some((sRatio, ps))
              if prev.get(k).exists(_ < SchedDominatedFloors * ps) => sRatio
            case _ => cpuRatio
          }
          val (pn, fn) = render(deltas(scaleOf))
          val schedJson = schedInfo.map { case (sRatio, ps) =>
            val bySched = medians.flatMap { case (k, _) =>
              prev.get(k).filter(_ < SchedDominatedFloors * ps).map(_ => k)
            }.map("\"" + _ + "\"").mkString("[", ",", "]")
            s""","sched_ratio":${fmt(sRatio)},"norm_by_sched":$bySched"""
          }.getOrElse("")
          s""","box_ratio":${fmt(cpuRatio)}$schedJson,"pct_norm":$pn,"flagged_norm":$fn"""
        }.getOrElse("")
        s""","vs_prev":{"src":"$src","pct":$pcts,"flagged":$flagged$normed}"""
      case None => ""
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val trendDir = "/root/testdata/sf0.01"
    val spark = GraftSession.local("graft-bench")
    val calib = calibrate(spark, runs)
    val sched = calibrateSched(spark, runs)
    val results = headliners.map { name =>
      name -> time(spark, name, Seq(sfDir), runs)(sfDir)
    }
    val ok = results.filter { case (_, q) => !q.failed }
    val failed = results.filter { case (_, q) => q.failed }
    // queries carries ONLY successful rows — a failed query must never
    // read as a 0.0 s (i.e. fastest) row; it is listed in `failed` and
    // counted in n_failed instead, and excluded from total.
    // Rendered with the wc_* rows LAST (r15): the driver keeps only a
    // ~2000-char tail of the line, which cuts the map's HEAD — and the
    // wc rows are the ones graded against BASELINE.md, so they must be
    // the last to truncate (r14's graded file lost exactly them).
    // Stable sort: every other row keeps its run order.
    val qs = ok.sortBy { case (k, _) => if (k.startsWith("wc_")) 1 else 0 }
      .map { case (k, q) => "\"" + k + "\":" + fmt(median(q.times)) }
      .mkString("{", ",", "}")
    // full JSON string escape (Verify.scala's rule): backslash, quote,
    // and ALL control chars — Spark analysis errors embed plan
    // fragments with tabs/newlines, and one raw control char would
    // invalidate the whole bench_detail line exactly when a failure
    // needs diagnosing
    def jsonEscape(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val stats = results.map { case (k, q) =>
      val err = q.err.map(m => ",\"err\":\"" + jsonEscape(m) + "\"").getOrElse("")
      if (q.failed) "\"" + k + "\":{\"n\":0" + err + "}"
      else "\"" + k + "\":{\"median\":" + fmt(median(q.times)) +
        ",\"min\":" + fmt(q.times.min) + ",\"max\":" + fmt(q.times.max) +
        ",\"n\":" + q.times.size + ",\"gc\":" + fmt(q.gcFrac) + err + "}"
    }.mkString("{", ",", "}")
    val failedJson = failed.map { case (k, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = ok.map { case (_, q) => median(q.times) }.sum
    // cross-SF trend: reuse the main-SF medians, time sf0.01 fresh
    val trend =
      if (new java.io.File(trendDir).isDirectory && trendDir != sfDir) {
        val small = TrendQueries.filter(SparkEntry.queries.contains).flatMap { name =>
          val q = time(spark, name, Seq(trendDir), 3)(trendDir)
          if (q.failed) None else Some(name -> median(q.times))
        }
        val mainMap = ok.toMap
        val smallJson = small.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        val mainJson = TrendQueries.flatMap(q => mainMap.get(q).map(ts =>
          "\"" + q + "\":" + fmt(median(ts.times)))).mkString("{", ",", "}")
        s""","trend":{"$trendDir":$smallJson,"$sfDir":$mainJson}"""
      } else ""
    // Auxiliary detail (stats + trend) goes on its OWN line, printed
    // BEFORE the headline metric: the driver tail-captures stdout and
    // parses the LAST line, so the compact metric line must be final
    // and standalone (round-4 lesson: one long combined line got its
    // head truncated and the driver recorded parsed:null).
    val calibMedian = median(calib)
    val schedMedian = median(sched)
    val medians = ok.map { case (k, q) => k -> median(q.times) }
    // parsed ONCE (r12 review finding): both the vs_prev fragment and
    // the compact line's box_ratio read the same prior-round data
    val prevData = prevMedians()
    val vsPrev = vsPrevJson(medians, calibMedian, schedMedian, prevData)
    // The driver parses the final line FROM a ~2000-char stdout tail
    // (round-4 lesson: a longer line head-truncates into parsed:null),
    // so the compact line carries only the SMALL adjudication fields —
    // box_ratio plus a terse {m: median, n: min, g: gc} watch block
    // for the four r11 spike rows (an in-band min under a spiked
    // median with g≈0 is interference, not code). The full
    // pct_norm/flagged_norm maps stay on the bench_detail line.
    val adjudication: String = prevData match {
      case Some(PrevBench(_, _, Some(pc), ps)) if pc > 0 =>
        val sr = ps.filter(_ > 0).filter(_ => schedMedian > 0)
          .map(p => s""","sched_ratio":${fmt(schedMedian / p)}""").getOrElse("")
        s""","box_ratio":${fmt(calibMedian / pc)}$sr"""
      case _ => ""
    }
    def fmt3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val watchJson = {
      val present = WatchRows.flatMap(k => ok.toMap.get(k).map(k -> _))
      if (present.isEmpty) ""
      else {
        // r16 (VERDICT r15 task #3): each watch entry carries its
        // historical band as "b":[lo,hi], and rows whose MEDIAN lands
        // outside it self-report in watch_out — emitted EXPLICITLY as
        // [] when everything is in band, so the graded file carries
        // the claim (the intra {"x":0} discipline)
        val entries = present.map { case (k, q) =>
          val band = WatchBands.get(k).map { case (lo, hi) =>
            ",\"b\":[" + fmt3(lo) + "," + fmt3(hi) + "]" }.getOrElse("")
          "\"" + k + "\":{\"m\":" + fmt3(median(q.times)) +
            ",\"n\":" + fmt3(q.times.min) + ",\"g\":" + fmt3(q.gcFrac) +
            band + "}"
        }.mkString(",\"watch\":{", ",", "}")
        val out = present.flatMap { case (k, q) =>
          WatchBands.get(k).collect { case (lo, hi)
            if median(q.times) < lo || median(q.times) > hi => k
          }
        }
        // r17 (VERDICT r16 item #2): a watch_out row re-measures ONCE
        // (one warm-up + one timed pass, the graded rows' protocol),
        // isolated, at end of pass — every other row's work is done, so
        // this reading cannot ride a mid-run interference window — and
        // the result lands beside m/n/g as `recheck`. This extends the
        // intra block's in-file self-adjudication to the one case intra
        // can't arbitrate: a row whose WHOLE 5-pass window was
        // interfered with (median AND min both spiked). An in-band
        // recheck under an out-of-band median says environment, not
        // code; an out-of-band recheck says the row really moved.
        val recheckJson =
          if (out.isEmpty) ""
          else {
            val re = out.flatMap { k =>
              val q = time(spark, k, Seq(sfDir), 1)(sfDir)
              if (q.failed) None
              else Some("\"" + k + "\":" + fmt3(q.times.head))
            }
            re.mkString(",\"recheck\":{", ",", "}")
          }
        entries +
          out.map("\"" + _ + "\"").mkString(",\"watch_out\":[", ",", "]") +
          recheckJson
      }
    }
    // INTRA-RUN interference self-adjudication (r15, VERDICT r14
    // task 1 — the fifth recurrence of the driver-box environment
    // class, at 14.6× this time, cost a judge round-trip because the
    // graded file carried no per-row spread): every row whose median
    // exceeds 1.5× its own min lands here with {m, n, g}, so a
    // mid-run interference window is visible IN the graded file — an
    // in-band min under a spiked median with g≈0 is scheduler/IO
    // interference, not code. The absolute guard (excess over one
    // scheduling floor AND over 0.2 s) keeps sub-second rows whose
    // min/median spread is launch jitter out; the cap keeps the
    // compact line inside the driver's 2000-char tail (round-4
    // lesson), with `x` carrying the UNCAPPED count so a saturating
    // window is still countable from the file.
    val intraJson = {
      val spiked = ok.flatMap { case (k, q) =>
        val m = median(q.times); val n = q.times.min
        val excess = m - n
        if (m > 1.5 * n && excess > math.max(0.2, schedMedian))
          Some((k, m, n, q.gcFrac, excess))
        else None
      }.sortBy { case (_, _, _, _, excess) => -excess }
      // an explicit {"x":0} when nothing spiked: the graded file then
      // CARRIES the claim "no row's median exceeded 1.5x its own min"
      // instead of leaving the mechanism's presence unverifiable
      if (spiked.isEmpty) ""","intra":{"x":0}"""
      else {
        val shown = spiked.take(6).map { case (k, m, n, g, _) =>
          "\"" + k + "\":{\"m\":" + fmt3(m) + ",\"n\":" + fmt3(n) +
            ",\"g\":" + fmt3(g) + "}"
        }
        s""","intra":{"x":${spiked.size},${shown.mkString(",")}}"""
      }
    }
    // floor-normalized served/build adjudication: only inversions
    // LARGER than one scheduling floor are real; emitted whenever at
    // least one served/build pair was benched (empty = all serving
    // paths within the floor's noise band of their build siblings).
    // r20 (VERDICT r19 item #3): an over entry re-measures BOTH rows
    // of its pair once, isolated at end of pass — the watch_out
    // recheck protocol — and carries the recheck's served−build
    // delta beside the graded one as `r`, so a judge can adjudicate
    // a +0.05-0.13 s inversion (r19's knn_lsh/pq/ivfpq_served class)
    // from the file: an `r` at-or-under the floor under an over `d`
    // says load noise, an `r` that reproduces the inversion says the
    // serving path really regressed.
    val servedJson = {
      val m = ok.toMap
      val pairs = ServedBuild.filter { case (s2, b2) =>
        m.contains(s2) && m.contains(b2) }
      if (pairs.isEmpty) ""
      else {
        val over = pairs.flatMap { case (s2, b2) =>
          val d2 = median(m(s2).times) - median(m(b2).times)
          if (d2 > schedMedian) {
            val rs = time(spark, s2, Seq(sfDir), 1)(sfDir)
            val rb = time(spark, b2, Seq(sfDir), 1)(sfDir)
            val re =
              if (rs.failed || rb.failed) ""
              else ",\"r\":" + fmt3(rs.times.head - rb.times.head)
            Some("\"" + s2 + "\":{\"d\":" + fmt3(d2) + re + "}")
          } else None
        }
        ",\"served_over\":{" + over.mkString(",") + "}"
      }
    }
    val detailLine = s"""{"metric":"bench_detail","stats":$stats$trend$vsPrev,"calibration_stats":{"median":${fmt(calibMedian)},"min":${fmt(calib.min)},"max":${fmt(calib.max)},"n":${calib.size}},"calibration_sched_stats":{"median":${fmt(schedMedian)},"min":${fmt(sched.min)},"max":${fmt(sched.max)},"n":${sched.size}},"sf":"$sfDir"}"""
    // "cpus" rides the line's END (tail-side real estate — survives
    // the driver's stdout-tail truncation) so a reader of the durable
    // file can tell the 32-core graded run from the 8-core scaling
    // run: both write bench_out.json, last run wins.
    val compactLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_failed":${failed.size},"failed":$failedJson,"calibration":${fmt(calibMedian)},"calibration_sched":${fmt(schedMedian)}$adjudication$watchJson$servedJson$intraJson,"sf":"$sfDir","cpus":"${GraftSession.cpus}"}"""
    println(detailLine)
    println(compactLine)
    // Durability: the compact line above is the only record the run is
    // graded on, and stdout keeps only a ~2000-char tail of it. Write the
    // full line (compact first — line 1 parses standalone — then the
    // detail line) to bench_out.json as well, best-effort: stdout stays
    // the contract, the file in the working directory is the recovery
    // path.
    try {
      val w = new java.io.PrintWriter(new java.io.File("bench_out.json"), "UTF-8")
      try { w.println(compactLine); w.println(detailLine) }
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_out.json: ${e.getMessage}")
    }
    spark.stop()
  }
}
