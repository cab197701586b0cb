package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Corpus, TextAnalysis}
import graft.sources.Tables

/** H-family bindings: corpus construction (sampling, decontamination,
  * PII scrub). All three are oracle-checked — the sampling hash is
  * plain BIGINT arithmetic, decontamination replays the 4-gram
  * blocking, and the PII regexes mean the same thing in Java regex
  * and RE2.
  */
object CorpusRegistry {

  val KeepPct = 30
  /** Mix-bucket threshold for KeepPct (integer math, same on both
    * engines because it's precomputed here). */
  val Threshold: Long = Corpus.MixBuckets * KeepPct / 100L

  /** Weighted-mix binding: damp src0, upsample src1, default KeepPct. */
  val WeightedRates: Seq[(String, Int)] = Seq("src0" -> 5, "src1" -> 80)

  val DecontamN = 4
  /** The benchmark's synthetic "eval set": every 97th doc. A real
    * pipeline passes its own eval frame to [[Corpus.decontaminate]]. */
  val EvalMod = 97

  // tokenization / vote / argmax spellings shared with the C-family
  // oracles (TextSql) — the gate must replay the identical vote.
  import TextSql.{ToksExpr, hits, predLangCase}

  /** DuckDB spelling of Text.shingles(Text.tokens(text), n) over a
    * `toks` alias. */
  private def shN(n: Int): String = {
    val parts = (1 to n).map(j => s"toks[i + $j]").mkString(", ")
    s"""list_distinct(list_transform(range(greatest(len(toks) - ${n - 1}, 0)),
       |    i -> concat_ws(' ', $parts)))""".stripMargin
  }
  private val Sh4 = shN(4)

  /** Fuzzy-decontamination binding: trigram shingles at the dd-family
    * Jaccard threshold; eval = every 7th doc (a mod that actually
    * crosses the synthetic corpus's near-dup pairs, so the pass
    * genuinely fires — the exact pass keeps its own disjoint
    * every-97th split). */
  val FuzzyEvalMod = 7
  val FuzzyN = 3
  val FuzzyTau = 0.8

  /** Source-overlap census shingle width (the decontamination width:
    * long enough that sharing is copying, not phrase coincidence). */
  val OverlapN = 4

  /** DuckDB replay of the full-corpus source-overlap census — the
    * oracle for both the one-shot and the delta-maintained form. */
  private lazy val SourceOverlapSql: String =
    s"""WITH ss AS (
       |  SELECT DISTINCT source, s FROM (
       |    SELECT source, unnest(sh) AS s FROM (
       |      SELECT source, $Sh4 AS sh
       |      FROM (SELECT source, $ToksExpr AS toks FROM documents)))
       |), sizes AS (
       |  SELECT source, count(*) AS n FROM ss GROUP BY source
       |), pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.source = src_a
       |JOIN sizes sb ON sb.source = src_b""".stripMargin

  private val MixExpr =
    s"(doc_id % ${Corpus.MixP}) * ${Corpus.MixA} % ${Corpus.MixBuckets}"

  /** Quality-gate thresholds (chosen to actually gate on the synthetic
    * corpus: token floor, stopword floor, repetition caps). */
  val MinTokens = 20
  val MinStopRatio = 0.01
  val MaxDupGram = 0.05
  val MaxTopWord = 0.15

  /** Per-source token budget (~half of each synthetic source's ~1.4k
    * tokens at sf0.01, so the cutoff actually cuts). */
  val TokenBudget = 800L
  val NShards = 16

  /** Packing binding: 512-token training sequences (~9 synthetic docs
    * per sequence — real split/fill structure at sf0.01). */
  val PackSeqLen = 512L

  /** Interleave binding: upsample src1, damp src0, default in between —
    * exercises all three stride branches. */
  val InterleaveWeights: Seq[(String, Int)] = Seq("src0" -> 1, "src1" -> 3)
  val InterleaveDefault = 2

  /** Epoch binding (×100): src0 at 2.5 epochs (whole + fractional),
    * src1 at 0.5 (fractional only), everything else exactly 1. */
  val EpochRates: Seq[(String, Int)] = Seq("src0" -> 250, "src1" -> 50)
  val EpochDefault = 100

  /** Stratified binding: exactly 7 docs per source (sources hold 25 at
    * sf0.01 — the cap genuinely selects). */
  val StratifiedN = 7


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cp_sample" -> ((s, d) =>
      Corpus.sampleStats(Tables.documents(s, d), KeepPct)),
    "cp_sample_weighted" -> ((s, d) =>
      Corpus.sampleWeightedStats(Tables.documents(s, d), WeightedRates, KeepPct)),
    "cp_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.decontaminate(
        docs.filter(col("doc_id") % EvalMod =!= 0),
        docs.filter(col("doc_id") % EvalMod === 0), DecontamN)
    }),
    "cp_decontaminate_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.decontaminateFuzzy(
        docs.filter(col("doc_id") % FuzzyEvalMod =!= 0),
        docs.filter(col("doc_id") % FuzzyEvalMod === 0), FuzzyN, FuzzyTau)
    }),
    // the composed contamination dashboard over the fuzzy split (one
    // split for both passes so the report is coherent per doc)
    "cp_contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.contaminationReport(
        docs.filter(col("doc_id") % FuzzyEvalMod =!= 0),
        docs.filter(col("doc_id") % FuzzyEvalMod === 0),
        DecontamN, FuzzyN, FuzzyTau)
    }),
    "cp_source_overlap" -> ((s, d) =>
      Corpus.sourceOverlap(Tables.documents(s, d), OverlapN)),
    // duplicate ledger between sources: which source re-serves whose
    // pages. Bound at NEAR-dup granularity (Jaccard clusters' min-id
    // keeper) because the graded corpus has zero exact byte-copies —
    // the exact form (dupAttribution) would grade on an empty result.
    // COMPOSED exact-first (the dd_keep_best_dedup survival order):
    // byte copies collapse before any pair forms — near-dup pair
    // output is quadratic in copy multiplicity — and composed ≡ raw
    // because byte copies share text, hence shingle sets, hence
    // J=1 pairs: the cluster min-label over keepers equals the raw
    // min-label over all copies (10× all-dup probe: 117 s raw vs the
    // keeper-sized run; same oracle either way).
    "cp_dup_attribution" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.dupAttributionOf(docs,
        Corpus.nearDupAssignment(docs, 3, DedupRegistry.JaccardTau))
    }),
    // incremental maintenance ≡ the full census over the grown corpus
    // (spec-proven), so the oracle replays the full-corpus SQL; the
    // store is built from the mod-3 "old" split, the delta ingests
    // the rest (the dd/knn delta families' convention)
    "cp_source_overlap_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = Corpus.sourceOverlapStore(
        docs.filter(col("doc_id") % 3 =!= 0), OverlapN)
      Corpus.sourceOverlapDelta(store,
        docs.filter(col("doc_id") % 3 === 0)).census
    }),
    "cp_pii_scrub" -> ((s, d) =>
      Corpus.piiScrub(Tables.documents(s, d))),
    "cp_quality_gate" -> ((s, d) =>
      Corpus.qualityGate(Tables.documents(s, d), MinTokens, MinStopRatio,
        MaxDupGram, MaxTopWord)),
    // The STAGED form is registered (bounded window partitions); the
    // oracle replays the one-window reference semantics — CorpusSpec
    // proves the two forms identical.
    "cp_token_budget" -> ((s, d) =>
      Corpus.tokenBudgetStaged(Tables.documents(s, d), TokenBudget)),
    "cp_shards" -> ((s, d) =>
      Corpus.shardReport(Tables.documents(s, d), NShards)),
    // the STAGED two-phase prefix sum is registered (bounded window
    // partitions); the oracle replays the one-window-per-shard
    // reference semantics — CorpusSpec proves the forms identical
    "cp_pack" -> ((s, d) =>
      Corpus.packReport(Tables.documents(s, d), PackSeqLen, NShards)),
    // The STAGED form is registered (bounded window partitions); the
    // oracle replays the one-window reference semantics — CorpusSpec
    // proves the two forms identical.
    "cp_interleave" -> ((s, d) =>
      Corpus.interleaveStaged(Tables.documents(s, d), InterleaveWeights,
        InterleaveDefault)),
    // the composed manifest: sample → budget → interleave; every stage
    // the staged scale shape, the oracle replays the reference windows
    "cp_training_mix" -> ((s, d) =>
      Corpus.trainingMix(Tables.documents(s, d), WeightedRates, KeepPct,
        TokenBudget, InterleaveWeights, InterleaveDefault)),
    "cp_epochs" -> ((s, d) =>
      Corpus.epochs(Tables.documents(s, d), EpochRates, EpochDefault)),
    // exact per-source counts via the bounded top-k heap; the oracle
    // spells the same selection as a per-source window
    "cp_stratified" -> ((s, d) =>
      Corpus.stratifiedSample(Tables.documents(s, d), StratifiedN)),
    // Full docs go in as the train side: eval docs self-match and are
    // flagged contaminated — a training mix must not contain its eval
    // set, so the funnel drops them by construction.
    "cp_pipeline_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Corpus.pipelineReport(docs,
        docs.filter(col("doc_id") % EvalMod === 0), DecontamN, KeepPct)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "cp_sample" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN $MixExpr < $Threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY source""".stripMargin,
    "cp_sample_weighted" -> {
      val th = WeightedRates
        .map { case (src, pct) =>
          s"WHEN source = '$src' THEN ${Corpus.bucketThreshold(pct)}" }
        .mkString("CASE ", " ", s" ELSE $Threshold END")
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN $MixExpr < $th THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents GROUP BY source""".stripMargin
    },
    "cp_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(sh) AS s FROM (
         |    SELECT doc_id, $Sh4 AS sh
         |    FROM (SELECT doc_id, $ToksExpr AS toks FROM documents))
         |), tr AS (SELECT doc_id, s FROM sh WHERE doc_id % $EvalMod <> 0),
         |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % $EvalMod = 0)
         |SELECT tr.doc_id, count(*) AS n_witnesses,
         |  min(ev.eval_id) AS first_eval_id
         |FROM tr JOIN ev ON tr.s = ev.s
         |GROUP BY tr.doc_id""".stripMargin,
    // replays the UNFILTERED two-table blocking — prefix filtering is
    // lossless for J >= tau, so the full join is the same set
    "cp_decontaminate_fuzzy" ->
      s"""WITH sh AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, ${shN(FuzzyN)} AS sh
         |    FROM (SELECT doc_id, $ToksExpr AS toks FROM documents))
         |  WHERE len(sh) > 0
         |), tr AS (
         |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh
         |  WHERE doc_id % $FuzzyEvalMod <> 0
         |), ev AS (
         |  SELECT doc_id AS eval_id, len(sh) AS sz_b, unnest(sh) AS s FROM sh
         |  WHERE doc_id % $FuzzyEvalMod = 0
         |), p AS (
         |  SELECT tr.doc_id, eval_id, sz, sz_b, count(*) AS inter
         |  FROM tr JOIN ev USING (s) GROUP BY 1, 2, 3, 4
         |), j AS (
         |  SELECT doc_id, eval_id,
         |    CAST(inter AS DOUBLE) / (sz + sz_b - inter) AS jac
         |  FROM p
         |  WHERE CAST(inter AS DOUBLE) / (sz + sz_b - inter) >= $FuzzyTau
         |)
         |SELECT doc_id, count(*) AS n_matches, max(jac) AS max_jaccard,
         |  min(eval_id) AS first_eval_id
         |FROM j GROUP BY doc_id""".stripMargin,
    // both passes' hit CTEs on the one fuzzy split, reduced to
    // DISTINCT flagged-doc sets, then two left joins + the source agg
    "cp_contamination_report" ->
      s"""WITH sh4 AS (
         |  SELECT doc_id, unnest(sh) AS s FROM (
         |    SELECT doc_id, $Sh4 AS sh
         |    FROM (SELECT doc_id, $ToksExpr AS toks FROM documents))
         |), exhits AS (
         |  SELECT DISTINCT tr.doc_id
         |  FROM (SELECT doc_id, s FROM sh4 WHERE doc_id % $FuzzyEvalMod <> 0) tr
         |  JOIN (SELECT doc_id, s FROM sh4 WHERE doc_id % $FuzzyEvalMod = 0) ev
         |    USING (s)
         |), sh3 AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, ${shN(FuzzyN)} AS sh
         |    FROM (SELECT doc_id, $ToksExpr AS toks FROM documents))
         |  WHERE len(sh) > 0
         |), tr3 AS (
         |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh3
         |  WHERE doc_id % $FuzzyEvalMod <> 0
         |), ev3 AS (
         |  SELECT doc_id AS eval_id, len(sh) AS sz_b, unnest(sh) AS s FROM sh3
         |  WHERE doc_id % $FuzzyEvalMod = 0
         |), p AS (
         |  SELECT tr3.doc_id, eval_id, sz, sz_b, count(*) AS inter
         |  FROM tr3 JOIN ev3 USING (s) GROUP BY 1, 2, 3, 4
         |), fzhits AS (
         |  SELECT DISTINCT doc_id FROM p
         |  WHERE CAST(inter AS DOUBLE) / (sz + sz_b - inter) >= $FuzzyTau
         |)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_exact_hits,
         |  CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fuzzy_hits,
         |  CAST(sum(CASE WHEN e.doc_id IS NOT NULL OR f.doc_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM (SELECT doc_id, source FROM documents
         |      WHERE doc_id % $FuzzyEvalMod <> 0) d
         |LEFT JOIN exhits e ON e.doc_id = d.doc_id
         |LEFT JOIN fzhits f ON f.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin,
    "cp_source_overlap" -> SourceOverlapSql,
    // the dd_clusters closure (shared Jaccard CTEs + recursive
    // min-label reach) with the two source lookups + pair-key count
    "cp_dup_attribution" ->
      s"""WITH RECURSIVE ${DedupRegistry.JaccardCtes}, pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter)
         |    >= ${DedupRegistry.JaccardTau}
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
         |), comp AS (
         |  SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id
         |)
         |SELECT d.source AS dup_source, kk.source AS keeper_source,
         |  count(*) AS n_dups
         |FROM comp c
         |JOIN documents d ON d.doc_id = c.doc_id
         |JOIN documents kk ON kk.doc_id = c.keep_id
         |WHERE c.doc_id <> c.keep_id
         |GROUP BY 1, 2""".stripMargin,
    // the delta-maintained census over old+delta == the full census
    // over the whole table: the full SQL is the oracle verbatim
    "cp_source_overlap_delta" -> SourceOverlapSql,
    "cp_pipeline_report" -> {
      val mixD = s"(d.doc_id % ${Corpus.MixP}) * ${Corpus.MixA} % ${Corpus.MixBuckets}"
      s"""WITH m AS (SELECT doc_id, md5(text) AS fp FROM documents),
         |k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM m),
         |keepers AS (SELECT doc_id FROM k WHERE doc_id = keep_id),
         |sh AS (
         |  SELECT doc_id, unnest(sh) AS s FROM (
         |    SELECT doc_id, $Sh4 AS sh
         |    FROM (SELECT doc_id, $ToksExpr AS toks FROM documents))
         |), ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % $EvalMod = 0),
         |contam AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.s = ev.s)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN kp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
         |  CAST(sum(CASE WHEN kp.doc_id IS NOT NULL AND c.doc_id IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |  CAST(sum(CASE WHEN kp.doc_id IS NOT NULL AND c.doc_id IS NULL
         |    AND $mixD < $Threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents d
         |LEFT JOIN keepers kp ON d.doc_id = kp.doc_id
         |LEFT JOIN contam c ON d.doc_id = c.doc_id
         |GROUP BY d.source""".stripMargin
    },
    "cp_quality_gate" -> {
      val allStops = TextAnalysis.StopwordsByLang.flatMap(_._2).distinct.sorted
      val voteCols = TextAnalysis.StopwordsByLang
        .map { case (l, ws) => s"${hits(ws)} AS s_$l" }.mkString(",\n    ")
      val pred = predLangCase(TextAnalysis.StopwordsByLang.map(_._1), "s_")
      s"""WITH base AS (
         |  SELECT doc_id, source, lang, $ToksExpr AS toks FROM documents
         |), q AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    CAST(${hits(allStops)} AS DOUBLE)
         |      / greatest(len(toks), 1) AS stop_ratio
         |  FROM base
         |), g AS (
         |  SELECT doc_id,
         |    list_transform(range(greatest(len(toks) - 2, 0)),
         |      i -> concat_ws(' ', toks[i + 1], toks[i + 2], toks[i + 3])) AS g
         |  FROM base
         |), grams AS (
         |  SELECT doc_id,
         |    CASE WHEN len(g) > 0
         |         THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
         |         ELSE 0.0 END AS dup_gram_frac
         |  FROM g
         |), wc AS (
         |  SELECT doc_id, w, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS w FROM base)
         |  GROUP BY 1, 2
         |), topw AS (
         |  SELECT doc_id,
         |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_word_frac
         |  FROM wc GROUP BY doc_id
         |), voted AS (
         |  SELECT doc_id, lang, $voteCols
         |  FROM base
         |), flags AS (
         |  SELECT b.source,
         |    CAST(q.n_tokens >= $MinTokens AS BIGINT) AS len_ok,
         |    CAST(q.stop_ratio >= $MinStopRatio AS BIGINT) AS stop_ok,
         |    CAST(grams.dup_gram_frac <= $MaxDupGram
         |      AND coalesce(topw.top_word_frac, 0.0) <= $MaxTopWord AS BIGINT) AS rep_ok,
         |    CAST(($pred) = v.lang AS BIGINT) AS lang_ok
         |  FROM base b
         |  JOIN q USING (doc_id)
         |  JOIN grams USING (doc_id)
         |  LEFT JOIN topw USING (doc_id)
         |  JOIN voted v USING (doc_id)
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
         |  CAST(sum(stop_ok) AS BIGINT) AS n_stop_ok,
         |  CAST(sum(rep_ok) AS BIGINT) AS n_rep_ok,
         |  CAST(sum(lang_ok) AS BIGINT) AS n_lang_ok,
         |  CAST(sum(len_ok * stop_ok * rep_ok * lang_ok) AS BIGINT) AS n_kept
         |FROM flags GROUP BY source""".stripMargin
    },
    "cp_token_budget" ->
      s"""WITH sized AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len($ToksExpr), 0) AS BIGINT) AS n_tokens,
         |    $MixExpr AS mb
         |  FROM documents
         |), cum AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY mb, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM sized
         |)
         |SELECT doc_id, source, n_tokens, cum_tokens
         |FROM cum WHERE cum_tokens <= $TokenBudget""".stripMargin,
    "cp_shards" ->
      s"""WITH sized AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len($ToksExpr), 0) AS BIGINT) AS n_tokens,
         |    CAST((($MixExpr) * $NShards) // ${Corpus.MixBuckets} AS INTEGER) AS shard
         |  FROM documents
         |)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  count(DISTINCT source) AS n_sources
         |FROM sized GROUP BY shard""".stripMargin,
    // the one-window-per-shard reference replay of the staged packing
    "cp_pack" ->
      s"""WITH sized AS (
         |  SELECT doc_id,
         |    CAST(coalesce(len($ToksExpr), 0) AS BIGINT) AS n_tokens,
         |    $MixExpr AS mb,
         |    CAST((($MixExpr) * $NShards) // ${Corpus.MixBuckets} AS INTEGER) AS shard
         |  FROM documents
         |), off AS (
         |  SELECT doc_id, shard, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY mb ASC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_offset
         |  FROM sized
         |)
         |SELECT doc_id, shard, n_tokens, tok_offset,
         |  CAST(tok_offset // $PackSeqLen AS BIGINT) AS seq_first,
         |  CAST((tok_offset + greatest(n_tokens, 1) - 1) // $PackSeqLen
         |    AS BIGINT) AS seq_last,
         |  CAST(tok_offset // $PackSeqLen
         |    <> (tok_offset + greatest(n_tokens, 1) - 1) // $PackSeqLen
         |    AS INTEGER) AS is_split
         |FROM off""".stripMargin,
    "cp_interleave" -> {
      val strideCase = InterleaveWeights
        .map { case (src, w) =>
          s"WHEN source = '$src' THEN ${Corpus.InterleaveStride / w}" }
        .mkString("CASE ", " ",
          s" ELSE ${Corpus.InterleaveStride / InterleaveDefault} END")
      s"""WITH ranked AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY $MixExpr, doc_id) AS BIGINT) AS src_rank
         |  FROM documents
         |)
         |SELECT doc_id, source, src_rank,
         |  src_rank * ($strideCase) AS vt
         |FROM ranked""".stripMargin
    },
    "cp_training_mix" -> {
      val sampleTh = WeightedRates
        .map { case (src, pct) =>
          s"WHEN source = '$src' THEN ${Corpus.bucketThreshold(pct)}" }
        .mkString("CASE ", " ", s" ELSE $Threshold END")
      val strideCase = InterleaveWeights
        .map { case (src, w) =>
          s"WHEN source = '$src' THEN ${Corpus.InterleaveStride / w}" }
        .mkString("CASE ", " ",
          s" ELSE ${Corpus.InterleaveStride / InterleaveDefault} END")
      s"""WITH sampled AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len($ToksExpr), 0) AS BIGINT) AS n_tokens,
         |    $MixExpr AS mb
         |  FROM documents
         |  WHERE $MixExpr < ($sampleTh)
         |), cum AS (
         |  SELECT doc_id, source, n_tokens, mb,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY mb, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM sampled
         |), kept AS (
         |  SELECT * FROM cum WHERE cum_tokens <= $TokenBudget
         |), ranked AS (
         |  SELECT doc_id, source, n_tokens, cum_tokens,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY mb, doc_id) AS BIGINT) AS src_rank
         |  FROM kept
         |)
         |SELECT doc_id, source, n_tokens, cum_tokens, src_rank,
         |  src_rank * ($strideCase) AS vt
         |FROM ranked""".stripMargin
    },
    "cp_stratified" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY $MixExpr, doc_id) AS rn
         |  FROM documents
         |) WHERE rn <= $StratifiedN""".stripMargin,
    "cp_epochs" -> {
      val pctCase = EpochRates
        .map { case (src, pct) => s"WHEN source = '$src' THEN $pct" }
        .mkString("CASE ", " ", s" ELSE $EpochDefault END")
      s"""WITH base AS (
         |  SELECT doc_id, source, ($pctCase) AS pct, $MixExpr AS mb
         |  FROM documents
         |), rep AS (
         |  SELECT doc_id, source,
         |    CAST(pct // 100 AS BIGINT)
         |      + CASE WHEN mb * 100 < (pct % 100) * ${Corpus.MixBuckets}
         |             THEN 1 ELSE 0 END AS n_rep
         |  FROM base
         |)
         |SELECT doc_id, source,
         |  CAST(unnest(generate_series(0, n_rep - 1)) AS BIGINT) AS epoch
         |FROM rep WHERE n_rep > 0""".stripMargin
    },
    "cp_pii_scrub" ->
      s"""WITH s1 AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text, '${Corpus.UrlRe}', '<URL>', 'g') AS t1
         |  FROM documents
         |), s2 AS (
         |  SELECT *, regexp_replace(t1, '${Corpus.EmailRe}', '<EMAIL>', 'g') AS t2 FROM s1
         |), s3 AS (
         |  SELECT *, regexp_replace(t2, '${Corpus.Ipv4Re}', '<IP>', 'g') AS t3 FROM s2
         |)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${Corpus.UrlRe}')) AS n_urls,
         |  len(regexp_extract_all(t1, '${Corpus.EmailRe}')) AS n_emails,
         |  len(regexp_extract_all(t2, '${Corpus.Ipv4Re}')) AS n_ips,
         |  md5(t3) AS scrubbed_fp
         |FROM s3""".stripMargin,
  )
}
