package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.Vec
import graft.plans.Exprs
import graft.sources.Stored

/** E-family: nearest-neighbor search over an embedding column.
  *
  * Brute force is the correctness baseline: broadcast the (small)
  * probe set, one distributed pass over the vectors computing cosine,
  * bounded per-partition top-k before the only exchange — at 1000
  * executors that is a full scan per batch of probes, which is exactly
  * what exact k-NN costs, with k x partitions (not |corpus|) rows
  * shuffled per probe. The LSH variant is the scale path: random-
  * hyperplane buckets shrink each probe's comparison set to its
  * bucket, making the per-probe cost sub-linear at the price of
  * recall. IVF assigns each vector to its nearest codebook cell with a
  * per-row argmax expression (no row blowup, no shuffle), so the index
  * build is a projection and probes search nProbe cells only.
  */
object Similarity {

  /** Bounded top-k ranking: (probe_id, neighbor_id, cos_sim) scored
    * rows → at most k rows per probe with a dense 1-based `rnk`
    * (cos desc, neighbor asc). The graft_topk aggregate keeps ≤ k rows
    * per probe per partition map-side, so the exchange moves
    * k x partitions rows per probe instead of the full scored set —
    * the scale fix over a `row_number` window, which must shuffle and
    * sort everything. */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("probe_id"))
      .agg(Exprs.topK(col("cos_sim"), col("neighbor_id"), k).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cos_sim"), (col("pos") + 1).cast("int").as("rnk"))

  /** Every `mod`-th corpus vector as a probe frame — the benchmark's
    * deterministic probe derivation. Any frame with (vec_id, embedding)
    * columns works as a probe set for the unfiltered paths; the
    * FILTERED paths ([[knnFiltered]], [[knnIvfFiltered]]) additionally
    * require a `label` column on both sides (the predicate is a join
    * key — validated up front there). This derivation keeps every
    * source column, so it satisfies both. */
  def probeEvery(embeddings: DataFrame, mod: Int): DataFrame =
    embeddings.filter(col("vec_id") % mod === 0)

  /** Up-front schema check for the filtered paths (r12 advice): the
    * predicate column is a JOIN KEY, and its absence otherwise
    * surfaces as a late AnalysisException from deep inside the
    * scoring join instead of a readable contract error. */
  private def requireLabel(df: DataFrame, side: String, op: String): Unit =
    require(df.columns.contains("label"),
      s"$op: the filtered kNN paths treat the predicate as an equi-join " +
        s"key, so the $side frame must carry a 'label' column beside " +
        s"(vec_id, embedding); got [${df.columns.mkString(", ")}]")

  /** Over-cap probe shards past which brute force stops sharding: each
    * shard costs one full corpus pass, so sharding only beats the single
    * shuffled pass while the count stays small. Past it the probe set is
    * corpus-scaled and the honest shape is the un-hinted join. */
  private val MaxProbeShards = 32

  /** The [[DriverGate]] that decides whether a probe frame is broadcast. */
  private val BroadcastProbes = "knn.broadcast.probes"

  /** The cosine of two vectors whose norms `na` and `nb` are HOISTED:
    * each side carries a per-row norm computed once at projection
    * time, so a pair loop — |probes| × |corpus| evaluations in exact
    * kNN, bucket occupancy² in LSH — pays one dot product instead of
    * three. Bit-identical to [[Vec.cosine]]: the same expressions,
    * evaluated once per row instead of once per pair (oracle parity
    * untouched). Every pair score of the family is this column. */
  private[operators] def cosine(va: Column, na: Column, vb: Column,
                                nb: Column): Column =
    Vec.dot(va, vb) / (na * nb)

  /** `cos_sim` of a bucket join's "a" and "b" sides ([[lshBucketed]]
    * rows). */
  private[operators] def pairCosine: Column =
    cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cos_sim")

  /** The bucket columns of [[lshBucketed]] rows. */
  private[operators] val Buckets = Seq("table", "bucket")

  /** Directed (probe_id, neighbor_id, cos_sim) bucket mates: every
    * `probes` row × every `rows` row sharing a (table, bucket), both
    * [[lshBucketed]] frames. A pair sharing several tables repeats
    * with an identical cosine and is not deduplicated here: the
    * [[rankTopK]] heap every caller feeds dedupes by id map-side,
    * which is cheaper than a full-width distinct exchange. Self rows
    * are dropped unless `selfFree` is false, which callers whose two
    * sides are disjoint by construction pass. */
  private[operators] def bucketMates(probes: DataFrame, rows: DataFrame,
                                     selfFree: Boolean = true): DataFrame = {
    val same = Dedup.sameBucket(Buckets)
    probes.as("a").join(rows.as("b"),
        if (selfFree) same && col("a.vec_id") =!= col("b.vec_id") else same)
      .select(col("a.vec_id").as("probe_id"),
        col("b.vec_id").as("neighbor_id"), pairCosine)
  }

  /** Score every (probe, vector) pair with [[cosine]] over the probe's
    * `pv`/`pnrm` and the corpus' `v`/`vnrm`. Filtered search adds
    * `joinKeys` equalities (corpus `k` = probe `p_k`) to the join
    * condition rather than re-spelling the projection, so the hot
    * loop can never diverge between the filtered and unfiltered
    * paths. */
  private def scoreAgainst(p: DataFrame, e: DataFrame,
                           joinKeys: Seq[String] = Nil): DataFrame = {
    val cond = joinKeys.map(kk => col(kk) === col(s"p_$kk"))
      .foldLeft(col("vec_id") =!= col("probe_id"))(_ && _)
    p.join(e, cond)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pv"), col("pnrm"), col("v"), col("vnrm")).as("cos_sim"))
  }

  /** Exact top-k cosine neighbors for every probe vector. `probes` is
    * any (vec_id, embedding) frame (see [[probeEvery]]); self-matches
    * are excluded by vec_id. Deterministic rank: cosine desc, then
    * neighbor id.
    *
    * Probe-size ladder: within the [[DriverGate]] `knn.broadcast.probes`
    * cap the probe frame is broadcast (one shuffle-free corpus pass,
    * k x partitions rows per probe to the exchange). Over the cap it is SPLIT into
    * deterministic hash shards of ≤ ~cap rows (pmod(xxhash64(id)) —
    * reproducible across runs and partitionings, total over any id
    * range), each broadcast and scored in its own corpus pass: every probe is
    * in exactly one shard and rankTopK is per-probe, so the unioned
    * result is IDENTICAL to the single-pass answer (spec-proven) while
    * no broadcast ever exceeds the executor-memory cap. Only past
    * [[MaxProbeShards]] shards (a probe set ~32x the broadcast cap —
    * corpus-scaled) does it fall back to the one shuffled/cartesian
    * pass, which trades per-pass scan cost for shuffling the full
    * score set. */
  def knnBruteForce(embeddings: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"),
      Vec.norm(col("embedding")).as("vnrm"))
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
      Vec.norm(col("embedding")).as("pnrm"))
    if (DriverGate.fits(p, BroadcastProbes))
      rankTopK(scoreAgainst(broadcast(p), e), k)
    else {
      // over the cap: persist the probe frame once — the exact count
      // below and every shard's broadcast build re-read it (without
      // this, an N-shard fan-out recomputes the probe lineage N+1
      // times). CacheManager dedupes by plan, so repeat queries over
      // the same probe frame share the one entry; a caller's
      // CacheTracker bracket releases it with every other operator
      // persist.
      val pc = CacheTracker.persistTracked(p)
      val total = pc.count()
      // shards target ~90% of the cap so hash variance stays under it
      val target = math.max(1L, DriverGate.cap(BroadcastProbes) * 9L / 10L)
      val shards = math.max(1L, (total + target - 1L) / target).toInt
      if (shards <= MaxProbeShards) {
        // pmod(xxhash64): total over [0, shards) for ANY id value —
        // a plain `id % p * a % m % shards` is negative for negative
        // ids (those probes would match no shard and vanish from the
        // output) and collapses ids sharing a residue mod p into one
        // over-sized shard.
        val shardOf = pmod(xxhash64(col("probe_id")), lit(shards.toLong))
        (0 until shards)
          .map(s => rankTopK(scoreAgainst(broadcast(pc.filter(shardOf === s)), e), k))
          .reduce(_ union _)
      } else rankTopK(scoreAgainst(pc, e), k)
    }
  }

  /** FILTERED exact kNN — the filtered-search shape every production
    * vector store needs ("nearest neighbors WHERE <attribute
    * predicate>"), in its per-probe form: top-k cosine among corpus
    * vectors sharing the probe's `label` (same-class search; self
    * excluded). The predicate is an EQUI-JOIN KEY, not a post-filter:
    * both sides hash-partition on label and only same-class pairs are
    * ever scored, so selectivity cuts scoring work proportionally —
    * a filter applied AFTER brute-force scoring would pay the full
    * |probes|×|corpus| pair loop and then discard (1 − 1/|classes|)
    * of it — and on a label-partitioned corpus layout the scan prunes
    * to the classes present in the probe frame (Sinks' partitioned
    * write). Per-class skew is AQE-split like any hash join; ranking
    * is the same bounded [[Exprs.topK]] aggregate as every kNN path
    * (no window — a hot class cannot single-task). Deterministic
    * rank: cosine desc, neighbor id asc. */
  def knnFiltered(embeddings: DataFrame, probes: DataFrame,
                  k: Int): DataFrame = {
    requireLabel(embeddings, "corpus", "knnFiltered")
    requireLabel(probes, "probe", "knnFiltered")
    val e = embeddings.select(col("label"), col("vec_id"),
      col("embedding").as("v"), Vec.norm(col("embedding")).as("vnrm"))
    val p = probes.select(col("label").as("p_label"),
      col("vec_id").as("probe_id"),
      col("embedding").as("pv"), Vec.norm(col("embedding")).as("pnrm"))
    rankTopK(scoreAgainst(p, e, joinKeys = Seq("label")), k)
  }

  /** recall@k of an approximate ANN result against the exact
    * brute-force answer over the same probes: |approx ∩ exact| /
    * |exact|, computed distributed (a semi join on (probe_id,
    * neighbor_id) + two counts — never a collect, so the report runs
    * at any probe-set size). Both inputs are rankTopK-shaped frames
    * (knnBruteForce / knnLsh / knnIvf / knnIvfTrained output). Ties at
    * the k-th exact score can make an approximate result return a
    * different-but-equally-close neighbor; recall floors should leave
    * slack for that. */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val ex = exact.select(col("probe_id"), col("neighbor_id"))
    val hits = ex.join(approx.select(col("probe_id"), col("neighbor_id")),
      Seq("probe_id", "neighbor_id"), "left_semi").count()
    val total = ex.count()
    if (total == 0L) 1.0 else hits.toDouble / total
  }

  /** One (algo, recall) row — the LAZY DataFrame form of [[recallAtK]]
    * (a semi join and two count aggregates; no driver action). */
  private def recallRow(algo: String, exact: DataFrame,
                        approx: DataFrame): DataFrame = {
    val ex = exact.select(col("probe_id"), col("neighbor_id"))
    val hits = ex.join(approx.select(col("probe_id"), col("neighbor_id")),
        Seq("probe_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val total = ex.agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(total) // two 1-row frames
      .select(lit(algo).as("algo"),
        (col("n_hits").cast("double") / col("n_exact")).as("recall"))
  }

  /** The ANN quality report as a first-class query: recall@k of
    * EVERY approximate path — LSH, IVF, PQ, IVF+PQ (the last two
    * r13, completing the report over all four index families: the
    * quantized scorers lose recall through CODE distortion, not
    * candidate pruning, which is a different failure mode the report
    * must price) — against the exact brute-force answer on the same
    * probes, one labeled row per algorithm. Everything inside is
    * deterministic (planes, seed codebook), so an oracle replays the
    * identical report; counts divide exactly, so the recall doubles
    * are bit-stable. The operational use at corpus scale: run the
    * report on a sampled probe set after (re)building an index, and
    * alert when recall drifts below the floor your workload needs
    * (AnnRecallSpec pins the CI floors). The exact side is persisted:
    * every recall row's hit join and count re-read it. */
  def recallReport(embeddings: DataFrame, probes: DataFrame, k: Int,
                   nTables: Int = 4, planesPerTable: Int = 6, dim: Int = 64,
                   centroidMod: Int = 37, nProbe: Int = 2): DataFrame = {
    val exact = graft.operators.CacheTracker.persistTracked(
      knnBruteForce(embeddings, probes, k))
    recallRow("lsh", exact,
        knnLsh(embeddings, probes, k, nTables, planesPerTable, dim))
      .union(recallRow("ivf", exact,
        knnIvf(embeddings, probes, k, centroidMod, nProbe)))
      .union(recallRow("pq", exact, knnPq(embeddings, probes, k)))
      .union(recallRow("ivfpq", exact, knnIvfPq(embeddings, probes, k)))
  }

  /** Deterministic pseudo-random hyperplanes: a tiny splitmix-style
    * integer mix over (plane, dim) — no RNG state, same planes on
    * every executor, run, and engine. Components in [-1, 1). */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, j) =>
      var z = p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      z.toDouble / 9.223372036854776e18
    }

  /** Deterministic seed centroids: every `centroidMod`-th vector. */
  private def seedCentroids(e: DataFrame, centroidMod: Int): DataFrame =
    e.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** One-row broadcast codebook for IVF from a (cid, cv) centroid
    * frame: aligned arrays of centroid ids and L2-normalized centroid
    * vectors (sorted by id so array order is deterministic). The
    * normalization makes per-row cell ranking a plain dot product. */
  private def codebook(cents: DataFrame): DataFrame =
    cents
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cb"))
      .select(
        transform(col("cb"), x => x.getField("cid")).as("cids"),
        transform(col("cb"), { x =>
          val cv = x.getField("cv")
          val nrm = sqrt(Exprs.dot(cv, cv))
          transform(cv, v => v.cast("double") / nrm)
        }).as("units"))

  /** Cell assignment as a projection: scan → broadcast 1-row codebook
    * → per-row argmax expression. No Exchange between the scan and the
    * assignment (asserted by ScaleShapeSpec) and no n x n_centroids
    * row materialization — the shape that survives 100x scale. */
  private def assignCells(e: DataFrame, cents: DataFrame,
                          carry: Seq[String] = Nil): DataFrame =
    e.crossJoin(broadcast(codebook(cents)))
      .select(col("vec_id") +: carry.map(col) :+ col("v") :+
        get(Exprs.nearestCells(col("v"), col("cids"), col("units"), 1), lit(0))
          .as("cell"): _*)

  private[graft] def ivfAssigned(embeddings: DataFrame,
                                 centroidMod: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    assignCells(e, seedCentroids(e, centroidMod))
  }

  /** Embedding-space OUTLIER report: the `topK` vectors farthest (by
    * cosine) from their own nearest seed centroid — the quality filter
    * that surfaces mojibake, empty-ish, and off-distribution
    * embeddings before they pollute a training mix. Reuses the IVF
    * cell assignment (zero-shuffle broadcast-codebook argmax), adds
    * one broadcast join to the centroid-unit frame for the own-cell
    * cosine, and closes with a global sort-limit — Spark plans that as
    * TakeOrderedAndProject (per-partition bounded heap, driver merge
    * of k×partitions rows), never a full global sort. Deterministic:
    * ties break on vec_id. */
  def outliers(embeddings: DataFrame, centroidMod: Int = 37,
               topK: Int = 25): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val cents = seedCentroids(e, centroidMod)
    val cu = cents.select(col("cid"), unitOf(col("cv")).as("cu"))
    assignCells(e, cents)
      .join(broadcast(cu), col("cell") === col("cid"))
      .select(col("vec_id"), col("cell"),
        (Exprs.dot(col("v"), col("cu"))
          / sqrt(Exprs.dot(col("v"), col("v")))).as("cos_sim"))
      .orderBy(col("cos_sim").asc, col("vec_id").asc)
      .limit(topK)
  }

  /** IVF index HEALTH census (r12) — the report an index-maintenance
    * pipeline reads between rebuilds: per cell, how many vectors the
    * zero-shuffle argmax assignment landed there and that cell's share
    * of the corpus. Skewed cells are the probe-latency tail (an
    * nProbe=K query pays the K chosen cells' occupancy) and the
    * rebuild trigger (delta appends concentrate where the data
    * drifts, [[ivfDelta]] never rebalances). Cost: the same
    * scan-side assignment every IVF row uses + ONE map-side-combined
    * aggregate on the S-bounded cell key; the share divides by the
    * assigned total (one IEEE division per cell row — engine-exact).
    * Output: (cell, n_vectors, share). */
  def ivfCensus(embeddings: DataFrame, centroidMod: Int = 37): DataFrame = {
    // persist the S-bounded counts: the share's total is derived FROM
    // them, so without the persist both sides of the cross join
    // re-run the whole assignment scan (plan-verified — the corpus
    // was scanned twice for one tiny aggregate)
    val counts = CacheTracker.persistTracked(
      ivfAssigned(embeddings, centroidMod)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors")))
    val total = counts.agg(sum(col("n_vectors")).as("tot"))
    counts.crossJoin(broadcast(total))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("tot")).as("share"))
  }

  /** Mean-update quantizer for Lloyd's: per-element contributions are
    * floored at 1e-6 into longs, so the per-cell sums are EXACT
    * integer arithmetic — order- and partitioning-independent — and
    * the whole training loop replays as unrolled SQL on any engine
    * (the knn_pagerank trick applied to k-means; r13, promoting
    * knn_ivf_trained from spec-only to an oracle row). Headroom: each
    * |element| ≤ ~1 → |quantum| ≤ 1e6, so the long sum holds ~9e12
    * members per cell before overflow — beyond any real cell. The
    * 1e-6 centroid resolution is far below the cosine gaps the
    * assignment argmax discriminates. */
  private val LloydQ = 1000000.0

  /** Lloyd's k-means refinement of the deterministic seed codebook.
    * Each iteration is (a) the zero-shuffle argmax assignment above and
    * (b) ONE agg shuffle on the cell id computing per-cell element
    * means — unrolled into `dim` scalar sum aggregates (map-side
    * combinable; no row explosion), each sum floor-quantized at
    * [[LloydQ]] into exact longs and divided back out as ONE double
    * multiply + divide per element. Seeds and tie-breaks were always
    * deterministic; the quantized sums make the ARITHMETIC exact too
    * (a parallel double mean depends on partial-sum order), so the
    * trained codebook is bit-reproducible across runs, partitionings
    * and engines — DuckDB replays the identical 3 iterations. Empty
    * cells keep their previous centroid (standard Lloyd's degeneracy
    * handling, id-stable). */
  private[graft] def trainCentroids(e: DataFrame, centroidMod: Int,
                                    iters: Int, dim: Int): DataFrame = {
    var cents = seedCentroids(e, centroidMod)
      .select(col("cid"), transform(col("cv"), x => x.cast("double")).as("cv"))
    (0 until iters).foreach { _ =>
      val means = assignCells(e, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i =>
            sum(floor(col("v")(i).cast("double") * lit(LloydQ))).as(s"s$i")): _*)
        .select(col("cell").as("cid"),
          array((0 until dim).map(i =>
            col(s"s$i").cast("double")
              / (col("n").cast("double") * lit(LloydQ))): _*).as("cv"))
      cents = cents.as("old")
        .join(means.as("new"), col("old.cid") === col("new.cid"), "left")
        .select(col("old.cid").as("cid"),
          coalesce(col("new.cv"), col("old.cv")).as("cv"))
        .localCheckpoint(true) // flat plan per round, like Dedup.clusters
    }
    cents
  }

  /** ANN via IVF (inverted-file) coarse quantization: a deterministic
    * codebook (every `centroidMod`-th vector), each vector assigned to
    * its nearest centroid cell by a per-row argmax over the broadcast
    * codebook, probes search their `nProbe` nearest cells only. The
    * index is one small broadcast table + a cell id per vector;
    * per-probe work is bounded by cell occupancy. Recall trades
    * against nProbe; scores of returned pairs are exact. */
  def knnIvf(embeddings: DataFrame, probes: DataFrame, k: Int,
             centroidMod: Int = 37, nProbe: Int = 2): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    knnIvfWith(e, seedCentroids(e, centroidMod), probes, k, nProbe)
  }

  /** IVF over a Lloyd's-trained codebook: same index/search shapes as
    * [[knnIvf]], but the cells partition the space around actual
    * density centers, so occupancy evens out (fewer over-full cells →
    * bounded per-probe work) and recall per nProbe improves. Training
    * cost: `iters` passes, each one argmax projection + one agg
    * shuffle. */
  def knnIvfTrained(embeddings: DataFrame, probes: DataFrame, k: Int,
                    centroidMod: Int = 37, nProbe: Int = 2,
                    iters: Int = 3, dim: Int = 64): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    knnIvfWith(e, trainCentroids(e, centroidMod, iters, dim), probes, k, nProbe)
  }

  /** FILTERED IVF — [[knnFiltered]]'s scale path: the attribute
    * predicate rides the INDEX search. Cells come from the full-corpus
    * codebook (the index is shared across predicates — a per-predicate
    * index would be a new build per filter value); the filter joins as
    * an extra equality on the cell-candidate join, so only same-label
    * vectors inside the probed cells are ever scored. Per-probe work
    * is bounded by (cell occupancy ∩ class) — strictly below the
    * unfiltered IVF's — and on a (label)-bucketed or
    * (label, cell)-partitioned layout the scan prunes before the
    * join. Same recall/nProbe trade as [[knnIvf]]; returned scores
    * exact; rank deterministic (cos desc, id asc). */
  def knnIvfFiltered(embeddings: DataFrame, probes: DataFrame, k: Int,
                     centroidMod: Int = 37, nProbe: Int = 2): DataFrame = {
    requireLabel(embeddings, "corpus", "knnIvfFiltered")
    requireLabel(probes, "probe", "knnIvfFiltered")
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val cents = seedCentroids(e, centroidMod)
    // the shared argmax assignment with the attribute CARRIED beside
    // the cell (one scan), then the shared candidate/scoring core
    // with the label equality joined in
    val assigned = assignCells(
      embeddings.select(col("vec_id"), col("label"),
        col("embedding").as("v")),
      cents, carry = Seq("label"))
      .withColumn("vnrm", Vec.norm(col("v")))
    knnIvfAssigned(assigned, cents, probes, k, nProbe, joinKeys = Seq("label"))
  }

  /** PQ geometry: [[PqM]] = 8 subspaces over the 64-dim embeddings
    * (a constant, so an index and its queries cannot disagree) × 16
    * centroids each → 8 4-bit codes (4 BYTES per vector, vs 256 bytes
    * of floats) — the memory-compact code representation that keeps a
    * 100 TB embedding corpus' index RAM-resident. Seeds are the
    * [[PqKSub]] smallest ids among every [[PqSeedMod]]-th vector —
    * deterministic, so the oracle replays the identical quantizer. */
  val PqM = 8
  val PqKSub = 16
  val PqSeedMod = 7

  /** L2-normalized double copy of a vector column: unit vectors make
    * the PQ inner-product score a cosine approximation (cos = a·b on
    * units), and (double)(float) promotion matches the oracle's
    * `CAST(embedding AS DOUBLE[])`. */
  private def unitOf(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nrm = sqrt(Exprs.dot(v, v))
    transform(v, x => x.cast("double") / nrm)
  }

  /** Release-on-exit bracket for the operators' internal persists
    * (the PQ seed frame) — the similarity-family analog of
    * [[Dedup.cached]]; it releases [[knnBruteForce]]'s over-cap probe
    * cache too. */
  def cached[T](body: => T): T = CacheTracker.scoped(body)

  /** One-row (seeds: array<array<double>>) sub-quantizer frame: the
    * kSub smallest mod-selected ids' unit vectors, id-sorted. Seed
    * selection runs through the bounded graft_topk heap (score = −id)
    * — no global window, no driver collect. PERSISTED
    * ([[CacheTracker]]-tracked — one row): the frame broadcasts into
    * both the corpus encode and the probe LUT, and without the
    * persist each broadcast rebuilds the seed selection — two extra
    * corpus scans per query (AQE's exchange reuse does not dedupe the
    * two builds). Session-lifetime by contract (repeated queries
    * share one quantizer — exactly what an index wants); wrap
    * one-shot calls in [[cached]]. */
  private def pqSeeds(e: DataFrame, kSub: Int, seedMod: Int): DataFrame = {
    val ids = e.filter(col("vec_id") % seedMod === 0)
      .agg(Exprs.topK((-col("vec_id")).cast("double"), col("vec_id"), kSub)
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as("vec_id"))
    CacheTracker.persistTracked(e.join(broadcast(ids), "vec_id")
      .select(col("vec_id"), unitOf(col("v")).as("u"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("u")))).as("s"))
      .select(transform(col("s"), x => x.getField("u")).as("seeds")))
  }

  /** PQ-encode the corpus: scan → broadcast 1-row seeds → per-row
    * first-argmin codes projection. No Exchange between the scan and
    * the encode (same shape as IVF cell assignment, ScaleShapeSpec). */
  private[graft] def pqCodes(e: DataFrame, seeds: DataFrame): DataFrame =
    e.crossJoin(broadcast(seeds))
      .select(col("vec_id"),
        Exprs.pqEncode(unitOf(col("v")), col("seeds"), PqM).as("codes"))

  /** ANN via product quantization with asymmetric distance
    * computation: the corpus is stored as M centroid codes per vector
    * (the compact index — [[pqCodes]]), each probe precomputes its
    * (subspace × centroid) dot-product LUT once, and every (probe,
    * vector) pair scores with M table ADDS instead of a dim-wide
    * float loop. Scores are cosine APPROXIMATIONS (quantized
    * neighbor side, exact probe side on unit vectors) — ranks trade
    * accuracy for a ~dim/M per-pair cost cut and a 64× smaller
    * neighbor representation; AnnRecallSpec pins the recall floor.
    * Deterministic quantizer → the oracle replays the whole pipeline. */
  def knnPq(embeddings: DataFrame, probes: DataFrame, k: Int,
            kSub: Int = PqKSub, seedMod: Int = PqSeedMod): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val seeds = pqSeeds(e, kSub, seedMod)
    knnPqWith(pqCodes(e, seeds), seeds, probes, k)
  }

  /** The persisted PQ index: the 4-byte/vector code table plus the
    * 1-row sub-quantizer seed frame — everything a serving query
    * needs. At corpus scale both are maintained tables; the code table
    * is the RAM-resident representation PQ exists for. */
  final case class PqIndex(codes: DataFrame, seeds: DataFrame)
      extends Stored[PqIndex] {
    def tables = Seq("codes" -> codes, "seeds" -> seeds)
    def withTables(fs: Seq[DataFrame]) = PqIndex(fs(0), fs(1))
  }

  /** Build [[PqIndex]] state for a corpus: ONE scan (the encode is a
    * projection under the broadcast seed frame). */
  def pqIndex(embeddings: DataFrame, kSub: Int = PqKSub,
              seedMod: Int = PqSeedMod): PqIndex = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val seeds = pqSeeds(e, kSub, seedMod)
    PqIndex(pqCodes(e, seeds), seeds)
  }

  /** Incremental (delta) PQ index maintenance — [[ivfDelta]]'s
    * contract for the code table: delta vectors PQ-encode under the
    * STORE's seed frame (one scan, per-row projection — no rescan, no
    * re-seeding) and append; re-ingested ids replace their rows. The
    * quantizer stays fixed between rebuilds, so the grown code table
    * equals a fresh encode of the union under the same seeds
    * (ApproxAndIvfSpec) and the full replay with the old-side seed
    * predicate is the oracle. */
  def pqDelta(index: PqIndex, delta: DataFrame): PqIndex =
    PqIndex(Dedup.evictAppend(index.codes, delta.select(col("vec_id")),
      pqCodes(delta.select(col("vec_id"), col("embedding").as("v")),
        index.seeds), "vec_id"), index.seeds)

  /** RETRACTION for the PQ index (r17 — the serving-store takedown
    * family, closing VERDICT r16's "a retracted doc's vectors still
    * answer kNN probes" hole): the code table is a pure per-vector
    * projection under the frozen sub-quantizer — election-free — so
    * erasure is one anti-join and the seeds stay. Equals a fresh
    * same-seed encode of the survivors ([[pqDelta]]'s fixed-quantizer
    * contract, which is also the served-index contract between
    * rebuilds; a from-scratch rebuild may pick different mod-selected
    * seeds, exactly as after any delta). Takedown batch is
    * driver-small ([[graft.operators.Dedup.exactRetract]]'s contract)
    * and rides a broadcast hint. */
  def pqRetract(index: PqIndex, retractIds: DataFrame): PqIndex =
    PqIndex(Dedup.dropRetracted(index.codes, retractIds, "vec_id"),
      index.seeds)

  /** [[knnPq]] over a PREBUILT [[PqIndex]] — the serving shape (mirror
    * of [[knnLshIndexed]] / [[knnIvfIndexed]]): per query batch only
    * the probe LUTs are computed; the corpus-side encode is the
    * persisted code table. */
  def knnPqIndexed(index: PqIndex, probes: DataFrame, k: Int): DataFrame =
    knnPqWith(index.codes, index.seeds, probes, k)

  /** Shared probe-side tail of both PQ paths: LUT projection under the
    * broadcast seeds, ADC scoring against the code table, bounded
    * top-k. */
  private def knnPqWith(codes: DataFrame, seeds: DataFrame, probes: DataFrame,
                        k: Int): DataFrame = {
    val p0 = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val pl = p0.crossJoin(broadcast(seeds))
      .select(col("probe_id"),
        Exprs.pqLut(unitOf(col("pv")), col("seeds"), PqM).as("lut"))
    val pj = if (DriverGate.fits(p0, BroadcastProbes)) broadcast(pl) else pl
    val scored = pj.join(codes, col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Exprs.pqAdc(col("lut"), col("codes")).as("cos_sim"))
    rankTopK(scored, k).withColumnRenamed("cos_sim", "approx_sim")
  }

  /** IVF + PQ — the canonical billion-scale index composition: the
    * IVF cells SHORTLIST candidates (each probe touches nProbe cells,
    * sub-linear), the PQ codes SCORE them (M table adds per pair, 4
    * bytes per neighbor). Index build is ONE corpus scan: both 1-row
    * index frames (IVF codebook, PQ seeds) broadcast onto it and the
    * cell argmax + code argmin are per-row projections in the same
    * stage. Scores are the same cosine approximation [[knnPq]] emits;
    * recall compounds both dials (nProbe × codebook size). The
    * deterministic quantizers let the oracle replay the full composed
    * pipeline. */
  def knnIvfPq(embeddings: DataFrame, probes: DataFrame, k: Int,
               centroidMod: Int = 37, nProbe: Int = 2,
               kSub: Int = PqKSub, seedMod: Int = PqSeedMod): DataFrame =
    // the one-shot path IS build + serve composed: the same indexed
    // projection ([[ivfPqIndexWith]]) and the same probe LUT/cell +
    // ADC tail ([[knnIvfPqIndexed]]) — one definition each, so the
    // build, served, and delta paths cannot de-synchronize
    knnIvfPqIndexed(ivfPqIndex(embeddings, centroidMod, kSub, seedMod),
      probes, k, nProbe)

  /** The persisted composed IVF+PQ index: `indexed` = (vec_id, cell,
    * codes) rows — 4 bytes of PQ codes plus a cell id per vector, the
    * RAM-resident billion-scale layout (bucketed on `cell` in a
    * deployment so probe shortlists read pre-partitioned) — plus the
    * two 1-row quantizer frames. Build once ([[ivfPqIndex]]: ONE
    * corpus scan, both quantizers broadcast onto it), serve every
    * query batch from it — [[knnIvfPq]] re-assigns and re-encodes the
    * whole corpus per call. */
  final case class IvfPqIndex(indexed: DataFrame, centroids: DataFrame,
                              seeds: DataFrame) extends Stored[IvfPqIndex] {
    def tables = Seq("indexed" -> indexed, "centroids" -> centroids, "seeds" -> seeds)
    def withTables(fs: Seq[DataFrame]) = IvfPqIndex(fs(0), fs(1), fs(2))
  }

  /** Build [[IvfPqIndex]] state: cell argmax + code argmin as sibling
    * per-row projections of the same scan (the [[knnIvfPq]] build
    * stage, persisted). */
  def ivfPqIndex(embeddings: DataFrame, centroidMod: Int = 37,
                 kSub: Int = PqKSub, seedMod: Int = PqSeedMod): IvfPqIndex = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    ivfPqIndexWith(embeddings, seedCentroids(e, centroidMod),
      pqSeeds(e, kSub, seedMod))
  }

  /** Incremental (delta) maintenance for the COMPOSED index —
    * [[ivfDelta]] and [[pqDelta]] in one per-row projection: delta
    * vectors take their cell argmax AND their PQ codes under the
    * STORE's two frozen quantizers (no rescan, no retrain, zero
    * shuffles on the delta side) and append; re-ingested ids replace
    * their rows. Both quantizers stay fixed between rebuilds — the
    * served-index contract — so the grown table equals a fresh
    * [[ivfPqIndex]] build over the union with the same quantizers
    * (Round11OpsSpec), and the full knn_ivfpq replay with old-side
    * predicates on BOTH quantizers is the oracle. */
  def ivfPqDelta(index: IvfPqIndex, delta: DataFrame): IvfPqIndex =
    index.copy(indexed = Dedup.evictAppend(index.indexed,
      delta.select(col("vec_id")),
      ivfPqIndexWith(delta, index.centroids, index.seeds).indexed,
      "vec_id"))

  /** RETRACTION for the composed IVF+PQ index — [[pqRetract]] and
    * [[ivfRetract]] in one anti-join on the (vec_id, cell, codes)
    * table; both frozen quantizers stay. Equals a fresh same-quantizer
    * build over the survivors ([[ivfPqDelta]]'s contract). */
  def ivfPqRetract(index: IvfPqIndex, retractIds: DataFrame): IvfPqIndex =
    IvfPqIndex(Dedup.dropRetracted(index.indexed, retractIds, "vec_id"),
      index.centroids, index.seeds)

  /** [[ivfPqIndex]] with CALLER-SUPPLIED quantizers — the fresh-build
    * form a grown index must equal (assignment and encoding under
    * fixed quantizers are pure per-row functions). */
  def ivfPqIndexWith(embeddings: DataFrame, centroids: DataFrame,
                     seeds: DataFrame): IvfPqIndex = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    val indexed = e
      .crossJoin(broadcast(codebook(centroids)))
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"),
        get(Exprs.nearestCells(col("v"), col("cids"), col("units"), 1), lit(0))
          .as("cell"),
        Exprs.pqEncode(unitOf(col("v")), col("seeds"), PqM).as("codes"))
    IvfPqIndex(indexed, centroids, seeds)
  }

  /** [[knnIvfPq]] over a PREBUILT [[IvfPqIndex]] — the serving shape
    * (mirror of [[knnIvfIndexed]]/[[knnPqIndexed]]): per query batch
    * only the probe LUTs + probe cells are computed against the two
    * broadcast quantizer frames; the corpus-side (cell, codes) table
    * is the persisted index. */
  def knnIvfPqIndexed(index: IvfPqIndex, probes: DataFrame, k: Int,
                      nProbe: Int = 2): DataFrame = {
    val p0 = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val probeCells = p0
      .crossJoin(broadcast(codebook(index.centroids)))
      .crossJoin(broadcast(index.seeds))
      .select(col("probe_id"),
        Exprs.pqLut(unitOf(col("pv")), col("seeds"), PqM).as("lut"),
        explode(Exprs.nearestCells(col("pv"), col("cids"), col("units"), nProbe))
          .as("pcell"))
    val pj = if (DriverGate.fits(p0, BroadcastProbes)) broadcast(probeCells)
             else probeCells
    val scored = pj
      .join(index.indexed,
        col("cell") === col("pcell") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Exprs.pqAdc(col("lut"), col("codes")).as("cos_sim"))
    rankTopK(scored, k).withColumnRenamed("cos_sim", "approx_sim")
  }

  /** The persisted IVF index: `assigned` = (vec_id, v, vnrm, cell)
    * rows (write bucketed on `cell` via Sinks.writeBucketed so probe
    * searches read cells pre-partitioned), `centroids` = the (cid, cv)
    * codebook frame. Build once, serve every query batch from it —
    * [[knnIvf]] re-assigns the whole corpus per call. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)
      extends Stored[IvfIndex] {
    def tables = Seq("assigned" -> assigned, "centroids" -> centroids)
    def withTables(fs: Seq[DataFrame]) = IvfIndex(fs(0), fs(1))
  }

  /** Build [[IvfIndex]] state (seed or Lloyd's-trained codebook).
    * `carry` columns ride the assigned table beside (vec_id, v, cell)
    * — the attribute-filtered-ANN posture: a served index that will
    * answer FILTERED queries stores the filter attributes inline, so
    * query time pays no corpus-sized attribute join and the one index
    * still serves every predicate value (the codebook and assignment
    * are attribute-blind — [[knnIvfFilteredIndexed]]). */
  def ivfIndex(embeddings: DataFrame, centroidMod: Int = 37,
               trained: Boolean = false, iters: Int = 3,
               dim: Int = 64, carry: Seq[String] = Nil): IvfIndex = {
    val e = embeddings.select(col("vec_id") +: carry.map(col) :+
      col("embedding").as("v"): _*)
    val cents = if (trained) trainCentroids(e, centroidMod, iters, dim)
                else seedCentroids(e, centroidMod)
    IvfIndex(assignCells(e, cents, carry).withColumn("vnrm", Vec.norm(col("v"))),
      cents)
  }

  /** [[ivfIndex]] with a CALLER-SUPPLIED codebook — the form a
    * maintained index must match: assignment under a FIXED codebook is
    * a pure per-row function, so an index grown by [[ivfDelta]] equals
    * this built fresh over the union (ApproxAndIvfSpec). */
  def ivfIndexWith(embeddings: DataFrame, centroids: DataFrame): IvfIndex = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"))
    IvfIndex(assignCells(e, centroids).withColumn("vnrm", Vec.norm(col("v"))),
      centroids)
  }

  /** Incremental (delta) IVF index maintenance — the E-family's
    * analog of the dedup delta forms: new vectors are assigned to
    * cells under the STORE's codebook (the zero-shuffle per-row
    * argmax — no old-vector rescan, no re-training) and appended;
    * re-ingesting ids REPLACES their stored rows (idempotent, the
    * containmentDelta rule). The codebook stays fixed — the contract
    * of a served ANN index between rebuilds; queries over the grown
    * index equal a fresh build over the union with the same codebook
    * ([[ivfIndexWith]], spec-proven), so the full run's oracle (with
    * the store-side centroid predicate) replays the delta path
    * exactly. At scale `assigned` is the maintained bucketed-on-cell
    * table; the delta write is an append of delta-sized rows. */
  def ivfDelta(index: IvfIndex, delta: DataFrame): IvfIndex =
    // no distinct on the ids: its hash exchange would be the only
    // shuffle in an otherwise projection-shaped delta (ScaleShapeSpec)
    index.copy(assigned = Dedup.evictAppend(index.assigned,
      delta.select(col("vec_id")),
      ivfIndexWith(delta, index.centroids).assigned, "vec_id"))

  /** RETRACTION for an IVF index (seed-coded, Lloyd's-trained, and
    * label-carrying alike — the assigned table's extra columns ride
    * the anti-join untouched): cell assignment is a pure per-vector
    * argmax under the frozen codebook, so erasure is one anti-join
    * and the codebook stays. Equals [[ivfIndexWith]] over the
    * survivors with the same codebook ([[ivfDelta]]'s fixed-codebook
    * contract). A retracted vector leaves every cell's candidate
    * list, so subsequent [[knnIvfIndexed]] / [[knnIvfFilteredIndexed]]
    * answers equal a rebuild's. */
  def ivfRetract(index: IvfIndex, retractIds: DataFrame): IvfIndex =
    IvfIndex(Dedup.dropRetracted(index.assigned, retractIds, "vec_id"),
      index.centroids)

  /** [[knnIvf]] over a PREBUILT [[IvfIndex]] — the serving shape
    * (mirror of [[knnLshIndexed]]): per query batch only the probes
    * are ranked against the broadcast codebook; the corpus-side
    * assignment is the persisted index table. */
  def knnIvfIndexed(index: IvfIndex, probes: DataFrame, k: Int,
                    nProbe: Int = 2): DataFrame =
    knnIvfAssigned(index.assigned, index.centroids, probes, k, nProbe)

  /** [[knnIvfFiltered]] over a PREBUILT label-carrying [[IvfIndex]]
    * ([[ivfIndex]] with `carry = Seq("label")`) — the serving shape
    * for attribute-filtered ANN: the ONE persisted index answers
    * every predicate value (assignment and codebook are
    * attribute-blind; the label is just a stored column that joins as
    * an extra equality in the shared candidate/scoring core), so a
    * new filter value never triggers a rebuild and query-time work is
    * bounded by (cell occupancy ∩ class) exactly like the build path.
    * On a (label)-bucketed index layout the scan prunes to the
    * classes present in the probe batch before the join. */
  def knnIvfFilteredIndexed(index: IvfIndex, probes: DataFrame, k: Int,
                            nProbe: Int = 2): DataFrame = {
    requireLabel(index.assigned, "index", "knnIvfFilteredIndexed")
    requireLabel(probes, "probe", "knnIvfFilteredIndexed")
    knnIvfAssigned(index.assigned, index.centroids, probes, k, nProbe,
      joinKeys = Seq("label"))
  }

  private def knnIvfWith(e: DataFrame, cents: DataFrame, probes: DataFrame,
                         k: Int, nProbe: Int): DataFrame =
    knnIvfAssigned(
      assignCells(e, cents).withColumn("vnrm", Vec.norm(col("v"))),
      cents, probes, k, nProbe)

  /** Shared IVF candidate/scoring core. `joinKeys` are optional
    * attribute equalities (assigned `k` = probe `p_k`) for FILTERED
    * search — one core, so the cell explode, broadcast-guard policy
    * and scoring projection cannot diverge between the filtered and
    * unfiltered paths. The codebook frame is built ONCE and shared by
    * both crossJoins (its broadcast exchange is also plan-deduped at
    * execution). */
  private def knnIvfAssigned(assigned: DataFrame, cents: DataFrame,
                             probes: DataFrame, k: Int, nProbe: Int,
                             joinKeys: Seq[String] = Nil): DataFrame = {
    val cb = broadcast(codebook(cents))
    val p = probes.select(
      Seq(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        Vec.norm(col("embedding")).as("pnrm")) ++
        joinKeys.map(kk => col(kk).as(s"p_$kk")): _*)
    val probeCells = p
      .crossJoin(cb)
      .select(Seq(col("probe_id"), col("pv"), col("pnrm")) ++
        joinKeys.map(kk => col(s"p_$kk")) :+
        explode(Exprs.nearestCells(col("pv"), col("cids"), col("units"), nProbe))
          .as("pcell"): _*)
    // gate the probe frame, not its nProbe-expanded cell frame, which
    // is broadcast only if the probes fit. Over the cap the cell key
    // carries an ordinary shuffle equi-join instead.
    val pj = if (DriverGate.fits(p, BroadcastProbes)) broadcast(probeCells)
             else probeCells
    val cond = joinKeys.map(kk => col(kk) === col(s"p_$kk"))
      .foldLeft(col("cell") === col("pcell") &&
        col("vec_id") =!= col("probe_id"))(_ && _)
    val scored = pj
      .join(assigned, cond)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pv"), col("pnrm"), col("v"), col("vnrm")).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** (vec_id, v, nrm, table, bucket) rows: `nTables` deterministic
    * hyperplane sign-buckets per vector — the shared LSH blocking
    * primitive used by ANN search ([[knnLsh]]) and embedding near-dup
    * blocking ([[Dedup.embeddingNearDupLsh]]). The bucket of a vector
    * is `planesPerTable` sign bits of dot(v, plane); planes come from
    * [[hyperplanes]], so any engine can recompute them. The row also
    * carries the hoisted per-vector norm so intra-bucket scoring pays
    * one dot per pair (see [[scoreAgainst]]). */
  private[operators] def lshBucketed(e: DataFrame, nTables: Int,
                                     planesPerTable: Int, dim: Int): DataFrame =
    bucketedFromBits(lshBits(e, nTables * planesPerTable, dim),
      nTables, planesPerTable)

  /** The per-vector plane-dot SIGN WORD: bit g of `bits` is the sign
    * of dot(v, plane_g) over the first `nPlanes` [[hyperplanes]] —
    * plus the hoisted norm. This is the ONE corpus-scaled projection
    * every hyperplane-LSH consumer needs; each (nTables ×
    * planesPerTable) table family with nTables·planesPerTable ≤
    * nPlanes is a pure bit-slice of it ([[bucketedFromBits]]), so two
    * different bucketings over the same plane set — e.g.
    * [[Dedup.semanticKeepersBest]]'s 6×4 cluster family and 4×6
    * centrality-graph family (r14, VERDICT r13 item #2) — CAN share
    * one corpus scan and one set of plane dots instead of paying the
    * projection once per family. That sharing is load-bearing for
    * the PERSISTED store (one bits row per vector serves both
    * families by shift/mask). The batch path recomputes each family
    * inline instead: an A/B measured inline recompute ≤ the
    * materialized frame at every probed size (the codegen'd dots are
    * cheaper than the cache round trip; see
    * Dedup.semanticBestFrames). Output: (vec_id, v, nrm, bits). */
  private[graft] def lshBits(e: DataFrame, nPlanes: Int,
                                 dim: Int): DataFrame = {
    // the sign word is ONE long: `1L << g` wraps mod 64, so a family
    // totaling more than 64 planes (e.g. 16×6) would silently fold
    // plane 64 onto plane 0 and corrupt every bucket slice rather
    // than fail (r16, ADVICE r15 — the max(cluster, graph) width rule
    // blesses arbitrary geometries, so the word limit must be loud)
    require(nPlanes >= 1 && nPlanes <= 64,
      s"lshBits: nPlanes=$nPlanes exceeds the 64-bit sign word " +
        "(one bit per hyperplane in a single long) — use at most 64 " +
        "planes across all table families")
    val planes = hyperplanes(nPlanes, dim)
    val bits = (0 until nPlanes).map { g =>
      val plane = array(planes(g).toIndexedSeq.map(lit): _*)
      when(Vec.dot(col("v"), plane) >= 0, lit(1L << g)).otherwise(0L)
    }.reduce(_ + _)
    e.select(col("vec_id"), col("v"), Vec.norm(col("v")).as("nrm"),
      bits.as("bits"))
  }

  /** Slice a [[lshBits]] frame into (table, bucket) rows for one
    * table family: table t's bucket is bits[t·P, (t+1)·P) — exactly
    * the word [[lshBucketed]] historically built per table (in-table
    * bit p = plane t·P + p), so
    * `bucketedFromBits(lshBits(e, T·P, dim), T, P)` ≡ the direct
    * per-table construction row-for-row (SimilaritySpec pins it for both
    * the 4×6 and 6×4 families). A pure per-row shift/mask + explode —
    * no plane dots, no corpus scan beyond reading `bitsFrame`. */
  private[graft] def bucketedFromBits(bitsFrame: DataFrame, nTables: Int,
                                          planesPerTable: Int): DataFrame = {
    val mask = (1L << planesPerTable) - 1L
    val buckets = (0 until nTables).map { t =>
      struct(lit(t).as("table"),
        (shiftright(col("bits"), t * planesPerTable)
          .bitwiseAND(lit(mask))).as("bucket"))
    }
    bitsFrame.select(col("vec_id"), col("v"), col("nrm"),
        explode(array(buckets: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** The kNN GRAPH over the whole embedding table: for EVERY vector,
    * its top-k cosine neighbors among its LSH bucket mates — the
    * graph-construction pass behind SemDeDup-style semantic pruning,
    * diversity sampling and graph clustering. Semantically identical
    * to [[knnLsh]] with the full corpus as the probe frame
    * (spec-proven), but built as a SELF-join of one bucketed
    * projection, so the corpus pays the nTables x planesPerTable plane
    * dots ONCE instead of once per side. Work is bounded by bucket
    * occupancy (the LSH invariant), the candidate union is deduped
    * before scoring-rank, and the top-k aggregate keeps k rows per
    * vector per partition map-side — never an all-pairs
    * materialization. Output: (vec_id, neighbor_id, cos_sim, rnk). */
  def knnGraph(embeddings: DataFrame, k: Int, nTables: Int = 4,
               planesPerTable: Int = 6, dim: Int = 64): DataFrame =
    knnGraphStore(embeddings, k, nTables, planesPerTable, dim).edges

  /** A persisted kNN graph as a maintained store: [[knnGraph]]'s
    * `edges`, the LSH bucket store they were ranked over, and `k`. */
  final case class KnnGraphStore(edges: DataFrame,
                                 lsh: Dedup.EmbeddingLshStore, k: Int)
      extends Stored[KnnGraphStore] {
    def tables = Seq("edges" -> edges, "lsh" -> lsh.bucketed)
    def withTables(fs: Seq[DataFrame]) =
      copy(edges = fs(0), lsh = lsh.withTables(fs.drop(1)))
  }

  def knnGraphStore(embeddings: DataFrame, k: Int, nTables: Int = 4,
                    planesPerTable: Int = 6, dim: Int = 64): KnnGraphStore = {
    val lsh = Dedup.embeddingLshStore(embeddings, nTables, planesPerTable, dim)
    KnnGraphStore(rankTopK(bucketMates(lsh.bucketed, lsh.bucketed), k)
      .withColumnRenamed("probe_id", "vec_id"), lsh, k)
  }

  /** RETRACTION for a PERSISTED kNN graph (the table
    * `knn_graph_served` serves from) — the one vector-index takedown
    * with ELECTION consequences: dropping a vector's own rows is an
    * anti-join, but every survivor that held the retracted vector in
    * its top-k must REFILL from its remaining candidates. The refill
    * is bounded and store-local:
    *  - untouched survivors (no retracted neighbor in their top-k)
    *    keep their rows VERBATIM — their candidate set only shrank by
    *    vectors that were not in their top-k, and removing a
    *    non-member of the top-k cannot change the top-k;
    *  - affected probes (bounded by the takedown's graph in-degree,
    *    ≤ |batch|·max-indegree rows) re-rank against the surviving
    *    LSH bucket store, with BOTH join sides taken from stored
    *    bucket rows — zero re-bucketing, zero corpus scans.
    * The bucket store shrinks alongside ([[knnGraph]]'s blocking is a
    * per-row deterministic projection, so stored rows ≡ a fresh
    * [[lshBucketed]] over the survivors after the anti-join). Result ≡
    * [[knnGraphStore]] over corpus-minus-retracted (spec-pinned),
    * because the recomputed probes see exactly the rebuild's candidate
    * sets and the untouched rows are unchanged by the argument above. */
  def knnGraphRetract(store: KnnGraphStore,
                      retractIds: DataFrame): KnnGraphStore = {
    val r = retractIds.select(col("vec_id")).distinct().localCheckpoint(true)
    val survBucketed = Dedup.dropRetracted(store.lsh.bucketed, r, "vec_id")
    val affected = store.edges
      .join(broadcast(r.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"))
      .select(col("vec_id")).distinct()
      .join(broadcast(r), Seq("vec_id"), "left_anti")
    val untouched = store.edges
      .join(broadcast(r), Seq("vec_id"), "left_anti")
      .join(affected, Seq("vec_id"), "left_anti")
    val scored = bucketMates(
      survBucketed.join(affected, Seq("vec_id"), "left_semi"), survBucketed)
    store.copy(edges = untouched.union(rankTopK(scored, store.k)
        .withColumnRenamed("probe_id", "vec_id")),
      lsh = store.lsh.copy(bucketed = survBucketed))
  }

  /** PageRank over the kNN GRAPH — graph centrality as a data-curation
    * signal: a document whose neighbors' neighbors keep pointing back
    * at it is a hub of its semantic region (the representative to keep
    * or upsample), while rank sinks are isolates. Runs a FIXED number
    * of power iterations (deterministic, oracle-replayable — unlike
    * run-to-convergence) of the standard damped update
    * p' = (1−d)/N + d·Σ_in p/outdeg over [[knnGraph]]'s edges.
    *
    * Scale shape: the edge list is k·N rows (bounded by construction)
    * and the iteration count is a constant, not data-dependent. Within
    * [[DriverGate]]'s `clusters.local.relation` cap the edges are
    * collected once and the rounds run on the driver; over it each
    * round is one edge-keyed join + one map-side-combinable sum per
    * node. Both paths give the same doubles. The iteration runs in
    * N-SCALED rank space (r = N·p, r₀ = 1, update
    * r' = (1−d) + d·Σ r/outdeg): values stay O(1) regardless of
    * corpus size, so the 1e-6 contribution quantization keeps ~1e-6
    * RELATIVE precision at any N — iterating raw p = 1/N would
    * quantize every per-edge contribution (~1/(N·outdeg)) to zero by
    * N ≈ 10⁶, exactly the corpus sizes this exists for. Contributions
    * quantize by FLOOR(c·10⁶) into exact long sums — floor of a
    * double is pure IEEE, identical bits on every engine, where a
    * double→decimal cast's midpoint rounding is implementation-
    * sensitive — making the result partition-order independent and
    * bit-equal to the oracle's unrolled replay; the final p = r/N is
    * one per-row division. Dangling nodes (no out-edges) keep the
    * standard no-redistribution treatment: their mass exits the
    * system and the teleport term keeps every rank positive. */
  def knnPagerank(embeddings: DataFrame, k: Int, iters: Int = 3,
                  damping: Double = 0.85): DataFrame = {
    requireIters(iters)
    // a lazy checkpoint: the gate's probe materializes the graph once
    // for the collect or the outdeg join that follows, and no session
    // cache entry outlives the call
    pagerankFromEdges(
      knnGraph(embeddings, k).select(col("vec_id").as("src"),
        col("neighbor_id").as("dst")).localCheckpoint(false),
      embeddings.select(col("vec_id")), iters, damping)
  }

  private def requireIters(iters: Int): Unit =
    require(iters >= 1, s"pagerank needs at least one iteration, got $iters")

  /** The damped power iteration alone, over a CALLER-SUPPLIED edge
    * frame (src, dst) — factored out (r14) so
    * [[graft.operators.Dedup.semanticKeepersBest]] can run the
    * identical arithmetic over a graph built from its own shared
    * bucketed projection instead of paying [[knnGraph]]'s second
    * corpus plane-hash. `edges` is probed with [[DriverGate.fits]]:
    * within the `clusters.local.relation` cap it is
    * collected once and iterated on the driver ([[driverInflow]]),
    * over the cap it is read by one checkpoint job (the rows and their
    * outdeg aggregate) and iterated as joins. Same quantized, N-scaled,
    * bit-replayable update as [[knnPagerank]] — see that scaladoc.
    *
    * Malformed edges, alike on both paths: a null-src row contributes
    * nothing, a null-dst row counts toward its source's outdeg and
    * lands nowhere, and a duplicate row counts twice.
    *
    * Precondition: `edges.src ⊆ ids`. It is not checked. A source
    * outside `ids` still sends rank along its out-edges (1 in the first
    * round, then (1−d) + d·inflow), but it gets no output row and is
    * not counted in N. */
  private[graft] def pagerankFromEdges(edges: DataFrame, ids: DataFrame,
                                           iters: Int,
                                           damping: Double): DataFrame = {
    requireIters(iters)
    // N is counted once on the driver; `nodes` is read twice (the count
    // and the final join), both cheap column reads at every caller
    val nodes = ids.select(col("vec_id"))
    val n = nodes.count()
    def rankOf(inflow: Column) =
      lit(1.0 - damping) + lit(damping) * coalesce(inflow, lit(0.0))
    val e = edges.select(col("src"), col("dst"))
    val inflow =
      if (DriverGate.fits(e, "clusters.local.relation"))
        broadcast(driverInflow(e, iters, damping))
      else distributedInflow(edges, iters, rankOf)
    nodes.join(inflow, Seq("vec_id"), "left")
      .select(col("vec_id"), (rankOf(col("inflow")) / lit(n)).as("pagerank"))
  }

  /** [[pagerankFromEdges]]' rounds on the driver: the edges are collected
    * once into primitive arrays (null-src rows skipped, a null-dst row
    * kept only as its source's outdeg), node ids are indexed by binary
    * search over their sorted distinct array, and each round applies
    * the distributed loop's arithmetic to every edge: round 1 has
    * r = 1.0, an edge sends c = floor(r / outdeg · 1e6) as a long, a
    * node's inflow is Σc as a double / 1e6, and the next round's
    * r = (1−d) + d·inflow. Returns (vec_id, inflow) for every node
    * some edge lands on — at most one row per edge. */
  private def driverInflow(e: DataFrame, iters: Int,
                           damping: Double): DataFrame = {
    val parts = e.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val src = Array.newBuilder[Long]
        val dst = Array.newBuilder[Long]
        val dangling = Array.newBuilder[Long]
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            if (r.isNullAt(1)) dangling += r.getLong(0)
            else { src += r.getLong(0); dst += r.getLong(1) }
          }
        }
        Iterator((src.result(), dst.result(), dangling.result()))
      }.collect()
    val src = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    val dst = Array.concat(parts.map(_._2).toIndexedSeq: _*)
    val dangling = Array.concat(parts.map(_._3).toIndexedSeq: _*)
    val keys = Array.concat(src, dst, dangling)
    java.util.Arrays.sort(keys)
    var m = 0
    for (i <- keys.indices) if (i == 0 || keys(i) != keys(i - 1)) {
      keys(m) = keys(i); m += 1
    }
    def index(v: Long) = java.util.Arrays.binarySearch(keys, 0, m, v)
    val s = src.map(index)
    val d = dst.map(index)
    val outdeg = new Array[Long](m)
    s.foreach(i => outdeg(i) += 1)
    dangling.foreach(v => outdeg(index(v)) += 1)
    var inflow: Array[Double] = null
    for (_ <- 1 to iters) {
      val sums = new Array[Long](m)
      for (j <- s.indices) {
        val r = if (inflow == null) 1.0
          else (1.0 - damping) + damping * inflow(s(j))
        sums(d(j)) += math.floor(r / outdeg(s(j)) * 1000000.0).toLong
      }
      inflow = sums.map(_.toDouble / 1000000.0)
    }
    val landed = new Array[Boolean](m)
    d.foreach(landed(_) = true)
    DriverGate.frame(e.sparkSession, Inflow, (0 until m).filter(landed(_))
      .map(i => Row(keys(i), inflow(i))))
  }

  /** The schema of [[driverInflow]]'s result. */
  private val Inflow = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("inflow", DoubleType, nullable = false)))

  /** [[pagerankFromEdges]]' rounds as Spark joins, for an edge list past
    * the driver cap. */
  private def distributedInflow(edges: DataFrame, iters: Int,
                                rankOf: Column => Column): DataFrame = {
    // outdeg is attached to the edge list once, and the eager checkpoint
    // truncates ew to a LogicalRDD: the 3 unrolled iterations re-embed
    // ew's tree, and Catalyst re-optimizing the duplicated edge subtree
    // measured ~2.5 s of driver gaps in a dd_semantic_retract pass
    val ew = edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg")),
          "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .localCheckpoint(true)
    // The loop iterates the INFLOW frame, not the rank frame: the damped
    // rank r = (1−d) + d·inflow is a per-row expression of inflow, so it
    // is attached only where it is read — the next round's edge sources
    // (a LEFT join of ew; a source with no inflow row coalesces to 1−d)
    // and the caller's one final nodes join. Round 1's rank is the
    // constant 1.0, so it needs no join at all.
    var inflow: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val contrib = (inflow match {
          case None => ew.select(col("dst"), lit(1.0).as("r"), col("outdeg"))
          case Some(f) => ew
            .join(f.select(col("vec_id").as("src"), col("inflow")),
              Seq("src"), "left")
            .select(col("dst"), rankOf(col("inflow")).as("r"), col("outdeg"))
        })
        .select(col("dst").as("vec_id"),
          floor(col("r") / col("outdeg") * lit(1000000.0)).cast("long").as("c"))
      inflow = Some(contrib.groupBy(col("vec_id"))
        .agg((sum(col("c")).cast("double") / lit(1000000.0)).as("inflow")))
    }
    inflow.get
  }

  /** ANN via multi-table random-hyperplane LSH: `nTables` independent
    * hash tables of `planesPerTable` sign bits each; a probe's
    * candidate set is the union of its buckets across tables
    * (amplification: recall 1-(1-p^r)^T), then exact cosine + top-k on
    * candidates only. The shuffle key is (table, bucket), so work per
    * probe is bounded by bucket occupancy, not corpus size. */
  def knnLsh(embeddings: DataFrame, probes: DataFrame, k: Int,
             nTables: Int = 4, planesPerTable: Int = 6,
             dim: Int = 64): DataFrame =
    knnLshIndexed(
      Dedup.embeddingLshStore(embeddings, nTables, planesPerTable, dim),
      probes, k)

  /** [[knnLsh]] over a PREBUILT index — the serving shape. [[knnLsh]]
    * re-buckets the whole corpus on every call (nTables×planesPerTable
    * plane dots per corpus row), which at low probe counts costs as
    * much as the brute-force scan it is meant to avoid; a deployment
    * builds the store once ([[Dedup.embeddingLshStore]], persisted
    * bucketed on `bucket` via Sinks.writeBucketed) and serves every
    * query batch from it — per-batch work is then probe bucketing under
    * the store's geometry + the bucket-key join only. */
  def knnLshIndexed(store: Dedup.EmbeddingLshStore, probes: DataFrame,
                    k: Int): DataFrame = {
    // bucketing is per-row deterministic, so bucketing the probe frame
    // directly equals filtering the bucketed corpus
    val p = probes.select(col("vec_id"), col("embedding").as("v"))
    val pBucketed = lshBucketed(p, store.nTables, store.planesPerTable,
      store.dim)
    // gate the probe frame, not the bucketed one (nTables rows per
    // probe). Over the cap the (table, bucket) key carries a shuffle
    // equi-join.
    val pj = if (DriverGate.fits(p, BroadcastProbes)) broadcast(pBucketed)
             else pBucketed
    rankTopK(bucketMates(pj, store.bucketed), k)
  }
}
