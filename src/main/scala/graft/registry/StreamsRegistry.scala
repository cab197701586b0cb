package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Streams

/** G-family bindings. Both queries execute a real Structured Streaming
  * job (AvailableNow over the parquet source, memory sink) and return
  * the sink's contents; with the stream fully drained the results
  * equal the batch computation, so the batch SQL is a valid oracle.
  */
object StreamsRegistry {

  /** st_semantic_retract's deterministic interleaved timeline (r19):
    * ingest evens → retract `% 10 == 0` (even, so every wave-1 id
    * already exists) → ingest odds → retract `% 10 == 5`. Net corpus
    * = `vec_id % 10 NOT IN (0, 5)` — ~20% of the corpus erased across
    * two waves, one fired mid-ingest. */
  val RetractWaveMod = 10L
  val Wave1Rem = 0L
  val Wave2Rem = 5L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_wordcount" -> ((s, d) => Streams.wordCount(s, d)),
    "st_sessionize" -> ((s, d) => Streams.sessionize(s, d)),
    // append-mode closed sessions: no SQL oracle (emission depends on
    // watermark progress, not just the data); EventTimeSessionSpec
    // proves closed == batch sessions and timeout-based closure.
    "st_sessionize_closed" -> ((s, d) => Streams.sessionizeClosed(s, d)),
    "st_events_hourly" -> ((s, d) => Streams.eventsHourly(s, d)),
    // streaming value histogram: stateless bucket projection + one
    // complete-mode agg, state bounded by occupied buckets; drained ≡
    // the batch histogram (oracle verbatim).
    "st_histogram" -> ((s, d) =>
      Streams.valueHistogram(s, d, AnalyticsRegistry.HistWidth)),
    // streaming rate alarm: minute counts as complete-mode state, the
    // z-score report as the post-drain serving query; drained ≡ the
    // batch anomaly pass (oracle verbatim).
    "st_anomaly" -> ((s, d) =>
      Streams.eventAnomalies(s, d, AnalyticsRegistry.AnomalyZ)),
    // streaming media-kind census (r12, the F-family's live form):
    // complete-mode (kind, content-md5) ledger + the census as the
    // post-drain serving query; drained ≡ batch mm_kind_census
    "st_mm_census" -> ((s, d) => Streams.mmKindCensus(s, d)),
    "st_dedup" -> ((s, d) => Streams.dedupExact(s, d)),
    // stream-stream inner join (watermarked both sides, banded time
    // constraint = bounded buffered state); bounded run ≡ batch join
    "st_event_pairs" -> ((s, d) => Streams.eventPairs(s, d)),
    // incremental MinHash near-dup candidates (per-row signatures +
    // stateful capped buckets); oracle-checked since r12 (the XxSql
    // xxhash64 replay of the batch banding — a bounded drain emits
    // exactly its intra-bucket pairs) — StreamsSpec still proves
    // cross-batch pairing, unrelated isolation, and the cap
    "st_minhash_cand" -> ((s, d) => Streams.minhashCandidates(s, d)),
    // candidates → exact-Jaccard verify against the persisted shingle
    // store (per-micro-batch foreachBatch join): the complete streaming
    // near-dup pipeline. Oracle-checked since r12: drained ≡ batch
    // dd_minhash (spec-proven), so its replay holds verbatim.
    "st_minhash_verified" -> ((s, d) => Streams.minhashVerified(s, d)),
    // streaming quality gate: the H-family gate's projection+agg chain
    // unchanged over a document stream (complete mode); drained ≡ the
    // batch gate, so its SQL is the oracle verbatim.
    "st_quality_gate" -> ((s, d) =>
      Streams.qualityGate(s, d, CorpusRegistry.MinTokens,
        CorpusRegistry.MinStopRatio, CorpusRegistry.MaxDupGram,
        CorpusRegistry.MaxTopWord)),
    // streaming ANN serving: probe stream answered per micro-batch
    // against the static corpus; bounded drain ≡ batch knn_bruteforce,
    // so the batch kNN SQL is the oracle verbatim.
    "st_knn" -> ((s, d) => Streams.knnServe(s, d)),
    // streaming ANN serving AGAINST THE PERSISTED INDEX (r14): probe
    // micro-batches answered from the ServingIndexes-memoized IVF
    // store (the same persisted index the batch knn_ivf_served row
    // reads — one artifact, two consumers), probe-side work only per
    // batch; drained ≡ batch knn_ivf_served, its SQL verbatim.
    // mod passed EXPLICITLY (r15, ADVICE r14): the oracle is
    // knn_ivf_served's SQL, which slices probes by vec_id %
    // SimilarityRegistry.ProbeMod — relying on knnIndexedServe's
    // default silently coinciding would desync the streamed probe set
    // from the oracle if ProbeMod ever changed
    "st_knn_indexed" -> ((s, d) =>
      Streams.knnIndexedServe(s, d, SimilarityRegistry.ivfServed(s, d),
        SimilarityRegistry.K, SimilarityRegistry.NProbe,
        SimilarityRegistry.ProbeMod)),
    // streaming PII scrub: stateless append-mode projection — no state
    // store; drained ≡ the batch scrub, so its SQL is the oracle
    // verbatim.
    "st_pii_scrub" -> ((s, d) => Streams.piiScrub(s, d)),
    // streaming inverted-index maintenance + serving: per-batch
    // postings appends (no cross-batch state), then searchIndexed over
    // the accumulated index; drained ≡ batch ta_search (oracle
    // verbatim).
    "st_search" -> ((s, d) => Streams.searchServe(s, d,
      TextAnalysisRegistry.SearchTerms, TextAnalysisRegistry.SearchK)),
    // streaming LM maintenance: per-batch additive (bigram, c12)
    // counts, model built from the accumulated table after the drain;
    // drained ≡ batch ta_lm_score (oracle verbatim).
    "st_lm" -> ((s, d) => Streams.lmServe(s, d)),
    // streaming ordered funnel: per-user step times in the state store
    // (flatMapGroupsWithState), counts as the post-drain serving
    // query; drained ≡ batch q_events_funnel (oracle verbatim).
    "st_funnel" -> ((s, d) =>
      Streams.funnel(s, d, AnalyticsRegistry.FunnelSteps)),
    // ingest-time contamination screening: each micro-batch screened
    // against the static eval set (per-doc results are batch-local),
    // drained ≡ the batch fuzzy pass (oracle verbatim).
    "st_contamination" -> ((s, d) =>
      Streams.contaminationScreen(s, d, CorpusRegistry.FuzzyN,
        CorpusRegistry.FuzzyTau, CorpusRegistry.FuzzyEvalMod)),
    // streaming semantic-dedup maintenance (r12): one EXACT
    // incremental pass (semanticKeepersDelta) per embedding
    // micro-batch against the persisted LSH + assignment store;
    // drained ≡ batch dd_semantic (min-id labels compose under any
    // batching), so its SQL is the oracle verbatim.
    "st_semantic" -> ((s, d) =>
      Streams.semanticServe(s, d, DedupRegistry.CosineTau)),
    // INTERLEAVED ingest + takedown on one live store (r19, VERDICT
    // r18 item #5 — the r18 StreamsSpec case promoted to a graded
    // row): ingest b1 → retract wave1 → ingest b2 → retract wave2,
    // final store published via VersionedStore and served from the
    // read-back; drained ≡ batch dd_semantic over the NET corpus
    // (ingested minus retracted), so its SQL over the net modulo
    // slice is the oracle verbatim.
    "st_semantic_retract" -> ((s, d) =>
      Streams.semanticRetractServe(s, d, DedupRegistry.CosineTau,
        RetractWaveMod, Wave1Rem, Wave2Rem)),
  )

  def oracleSql: Map[String, String] = Map(
    "st_wordcount" ->
      """WITH toks AS (
        |  SELECT lower(w) AS word
        |  FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS w
        |        FROM documents)
        |  WHERE w <> ''
        |)
        |SELECT word, count(*) AS cnt FROM toks GROUP BY word""".stripMargin,
    "st_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST((value) AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "st_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "st_event_pairs" ->
      """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        |  epoch_us(a.ts) AS ts_a_us, epoch_us(b.ts) AS ts_b_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts
        |  AND b.ts <= a.ts + INTERVAL 5 MINUTE""".stripMargin,
    "st_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY ts ASC, event_id ASC) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM t
        |), numbered AS (
        |  SELECT user_id, ts_us,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id,
        |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |  count(*) AS n_events
        |FROM numbered
        |GROUP BY user_id, session_id""".stripMargin,
    // bounded drain ≡ the batch answer: reuse the batch kNN oracle
    "st_knn" -> SimilarityRegistry.oracleSql("knn_bruteforce"),
    // drained ≡ batch knn_ivf_served (the index is the same persisted
    // artifact, cell assignment is per-row deterministic) — its SQL
    // verbatim, the G-family's standard serving contract
    "st_knn_indexed" -> SimilarityRegistry.oracleSql("knn_ivf_served"),
    // drained complete-mode gate ≡ the batch gate: same oracle
    "st_quality_gate" -> CorpusRegistry.oracleSql("cp_quality_gate"),
    // drained stateless append scrub ≡ the batch scrub: same oracle
    "st_pii_scrub" -> CorpusRegistry.oracleSql("cp_pii_scrub"),
    // drained index maintenance + serve ≡ the batch search: same oracle
    "st_search" -> TextAnalysisRegistry.oracleSql("ta_search"),
    // drained model maintenance + scoring ≡ the batch LM score
    "st_lm" -> TextAnalysisRegistry.oracleSql("ta_lm_score"),
    // drained per-user step state + serving count ≡ the batch funnel
    "st_funnel" -> AnalyticsRegistry.oracleSql("q_events_funnel"),
    // drained complete-mode histogram ≡ the batch histogram
    "st_histogram" -> AnalyticsRegistry.oracleSql("q_value_histogram"),
    // drained per-batch screening ≡ the batch fuzzy decontamination
    "st_contamination" -> CorpusRegistry.oracleSql("cp_decontaminate_fuzzy"),
    // drained minute counts + the serving query ≡ the batch anomalies
    "st_anomaly" -> AnalyticsRegistry.oracleSql("q_events_anomaly"),
    // drained content ledger + the serving query ≡ the batch census
    "st_mm_census" -> MultimodalRegistry.oracleSql("mm_kind_census"),
    // r12 sketch-family oracle promotion (XxSql xxhash64 replay): a
    // bounded drain of the stateful bucket stream emits exactly the
    // batch banding's intra-bucket pairs (no cap/TTL eviction fires
    // on the graded corpus; cross-batch pairing is StreamsSpec-proven)
    "st_minhash_cand" -> XxSql.minhashCandidates("documents"),
    // the complete streaming pipeline drains to the batch dd_minhash
    // pair set (spec-proven), so its replay is the oracle verbatim
    "st_minhash_verified" -> DedupRegistry.oracleSql("dd_minhash"),
    // drained incremental semantic store ≡ the batch keeper map
    "st_semantic" -> DedupRegistry.oracleSql("dd_semantic"),
    // the interleaved ingest/retract drain ≡ dd_semantic over the NET
    // corpus: min-id labels compose under any batching AND retraction
    // ≡ full recompute over survivors (DeltaDedupSpec's composition
    // pins both ways), so the full replay over the net slice holds
    "st_semantic_retract" -> DedupRegistry.semanticSqlOver(
      s"(SELECT * FROM embeddings WHERE vec_id % $RetractWaveMod " +
        s"NOT IN ($Wave1Rem, $Wave2Rem))"),
  )
}
