package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables

/** F-family bindings. The oracle works on `text` directly: the payload
  * is its UTF-8 encoding and the corpus is pure ASCII (verified, and
  * GATED: MultimodalSpec's ASCII gate fails loudly on a driver data
  * regen introducing any multi-byte character), so byte offsets ==
  * char offsets and DuckDB's VARCHAR md5/substr see the identical
  * bytes Spark's BINARY ops see. The PNG/JPEG magic
  * branches of the sniffer cannot fire on ASCII input, so the oracle
  * CASE carries only the branches reachable in this corpus — same
  * output, every row. mm_features unrolls its feature vector into
  * scalar bins, which both keeps the driver harness sortable and lets
  * DuckDB recompute the byte histogram as an oracle.
  */
object MultimodalRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_metadata" -> ((s, d) => Multimodal.metadata(Tables.documents(s, d))),
    "mm_frames" -> ((s, d) => Multimodal.frames(Tables.documents(s, d))),
    // The library API returns `features array<float>`; the driver
    // harness needs scalar, sortable columns (pandas sort_values on an
    // ndarray column throws), so the binding unrolls the 16 bins into
    // f0..f15 FLOAT columns — which also makes the histogram stub
    // oracle-checkable in DuckDB.
    "mm_features" -> ((s, d) =>
      Multimodal.features(Tables.documents(s, d)).select(
        col("doc_id") +: col("n_bytes").cast("bigint").as("n_bytes") +:
          (0 until 16).map(i => col("features")(i).as(f"f$i%02d")): _*)),
    "mm_kind_census" -> ((s, d) =>
      Multimodal.kindCensus(Tables.documents(s, d))),
    // exact media dedup: the keeper map behind the census' n_unique —
    // keyed on the BINARY payload digest (≡ text md5 here: the payload
    // is the text's UTF-8 bytes), kind carried for per-modality reads
    "mm_dedup" -> ((s, d) =>
      Multimodal.payloadDedup(Tables.documents(s, d))),
    // INCREMENTAL exact media dedup (r13, completing the delta
    // symmetry for the multimodal family): the delta batch assigned
    // against the persisted payload-digest keeper store — sticky
    // keepers, the old corpus' bytes never rescanned (same DeltaMod
    // split as every dd_*_delta row)
    "mm_dedup_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = col("doc_id")
      Multimodal.payloadDedupDelta(
        Multimodal.payloadStore(
          docs.filter(c % DedupRegistry.DeltaMod =!= 0)),
        docs.filter(c % DedupRegistry.DeltaMod === 0)).assignment
    }),
    // frame-fingerprint near-dup: Jaccard >= tau over each payload's
    // byte-frame set via the shared lossless SSJoin pipeline; the
    // oracle replays frames + the unfiltered set join (prefix blocking
    // is lossless, so blocking-free SQL is the same answer)
    "mm_payload_neardup" -> ((s, d) =>
      Multimodal.payloadNearDup(Tables.documents(s, d), NearDupTau)),
    // INCREMENTAL media near-dup (r14, the F-family's last delta
    // asymmetry closed): delta payloads sliced + fingerprinted,
    // both-direction blocking against the persisted frame store —
    // pair set ≡ the full run restricted to delta-touching pairs
    // (the incremental family's standard oracle spelling). The store
    // is ServingIndexes-MEMOIZED per corpus dir (the dd_semantic_delta
    // lesson, r13: a delta pass presupposes a store that already
    // exists — a per-call rebuild would grade the wrong thing), so a
    // timed call pays the delta pass against the persisted tables.
    "mm_payload_neardup_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = col("doc_id")
      // the read-back store keeps its build's frame geometry, so the
      // delta slices the frames the stored rows/prefixes came from
      Multimodal.payloadNearDupDelta(
        ServingIndexes.once(s, "mmframes", d)(Multimodal.payloadNearDupStore(
          docs.filter(c % DedupRegistry.DeltaMod =!= 0), NearDupTau)),
        docs.filter(c % DedupRegistry.DeltaMod === 0), NearDupTau).pairs
    }),
  )

  /** mm_payload_neardup threshold. */
  val NearDupTau: Double = 0.5

  def oracleSql: Map[String, String] = Map(
    "mm_metadata" ->
      """SELECT doc_id,
        |  length(text) AS payload_len,
        |  md5(text) AS payload_md5,
        |  CASE WHEN substr(text, 1, 4) = 'RIFF' THEN 'audio/riff'
        |       WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
        |       WHEN regexp_matches(text, '^[\x09\x0a\x0d\x20-\x7e]*$')
        |         THEN 'text/plain'
        |       ELSE 'application/octet-stream' END AS kind
        |FROM documents""".stripMargin,
    "mm_frames" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) >= 64
        |         THEN (length(text) - 64) // 48 + 1 ELSE 0 END AS nf
        |  FROM documents
        |)
        |SELECT doc_id, unnest(range(nf)) AS frame_idx,
        |  length(substr(text, CAST(unnest(range(nf)) * 48 + 1 AS INTEGER), 64)) AS frame_len,
        |  md5(substr(text, CAST(unnest(range(nf)) * 48 + 1 AS INTEGER), 64)) AS frame_md5
        |FROM n WHERE nf > 0""".stripMargin,
    // Byte-histogram decode stub, unrolled to 16 FLOAT bins. ord() on
    // char-substr == payload byte because the corpus is pure ASCII
    // (verified at sf0.01 and sf0.1). FLOAT/FLOAT division is IEEE-754
    // single, correctly rounded in both engines, so bins match
    // bit-for-bit with the Scala Float math in decodeBatchStub.
    "mm_features" -> {
      val bins = (0 until 16).map { i =>
        val name = f"f$i%02d"
        s"  CAST(count(*) FILTER (WHERE ch.bin = $i) AS FLOAT)" +
          s" / CAST(greatest(length(d.text), 1) AS FLOAT) AS $name"
      }.mkString(",\n")
      s"""WITH ch AS (
         |  SELECT doc_id,
         |    ord(substr(text, CAST(unnest(range(length(text))) + 1 AS INTEGER), 1)) % 16 AS bin
         |  FROM documents
         |)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_bytes,
         |$bins
         |FROM documents d LEFT JOIN ch USING (doc_id)
         |GROUP BY d.doc_id, length(d.text)""".stripMargin
    },
    "mm_kind_census" ->
      """WITH k AS (
        |  SELECT
        |    CASE WHEN substr(text, 1, 4) = 'RIFF' THEN 'audio/riff'
        |         WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
        |         WHEN regexp_matches(text, '^[\x09\x0a\x0d\x20-\x7e]*$')
        |           THEN 'text/plain'
        |         ELSE 'application/octet-stream' END AS kind,
        |    md5(text) AS pm, CAST(length(text) AS BIGINT) AS len
        |  FROM documents
        |)
        |SELECT kind, count(*) AS n_payloads,
        |  count(DISTINCT pm) AS n_unique,
        |  CAST(sum(len) AS BIGINT) AS total_bytes
        |FROM k GROUP BY kind""".stripMargin,
    "mm_payload_neardup" ->
      s"""WITH n AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(text) >= 64
         |         THEN (length(text) - 64) // 48 + 1 ELSE 0 END AS nf
         |  FROM documents
         |), f0 AS (
         |  SELECT doc_id,
         |    md5(substr(text, CAST(unnest(range(nf)) * 48 + 1 AS INTEGER), 64)) AS s
         |  FROM n WHERE nf > 0
         |), f AS (
         |  SELECT DISTINCT doc_id, s FROM f0
         |), sz AS (
         |  SELECT doc_id, count(*) AS sz FROM f GROUP BY doc_id
         |), ins AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM ins
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $NearDupTau""".stripMargin,
    // the full frame-Jaccard replay RESTRICTED to pairs touching the
    // delta split — the incremental family's standard contract
    // (blocking is lossless and verification exact, so delta ≡ full
    // restricted; old-old pairs were emitted by the initial run)
    "mm_payload_neardup_delta" ->
      s"""WITH n AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(text) >= 64
         |         THEN (length(text) - 64) // 48 + 1 ELSE 0 END AS nf
         |  FROM documents
         |), f0 AS (
         |  SELECT doc_id,
         |    md5(substr(text, CAST(unnest(range(nf)) * 48 + 1 AS INTEGER), 64)) AS s
         |  FROM n WHERE nf > 0
         |), f AS (
         |  SELECT DISTINCT doc_id, s FROM f0
         |), sz AS (
         |  SELECT doc_id, count(*) AS sz FROM f GROUP BY doc_id
         |), ins AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM ins
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $NearDupTau
         |  AND (id_a % ${DedupRegistry.DeltaMod} = 0
         |       OR id_b % ${DedupRegistry.DeltaMod} = 0)""".stripMargin,
    "mm_dedup" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(text, 1, 4) = 'RIFF' THEN 'audio/riff'
        |         WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
        |         WHEN regexp_matches(text, '^[\x09\x0a\x0d\x20-\x7e]*$')
        |           THEN 'text/plain'
        |         ELSE 'application/octet-stream' END AS kind,
        |    md5(text) AS fp
        |  FROM documents
        |),
        |k AS (SELECT doc_id, kind,
        |  min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM m)
        |SELECT doc_id, kind, keep_id,
        |  CAST(doc_id <> keep_id AS INTEGER) AS is_dup FROM k""".stripMargin,
    // dd_exact_delta's sticky-keeper replay on the payload digest,
    // with the sniffed kind riding the delta side (null fps group via
    // IS NOT DISTINCT FROM ≡ the Spark side's total sentinel fp)
    "mm_dedup_delta" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE WHEN substr(text, 1, 4) = 'RIFF' THEN 'audio/riff'
         |         WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
         |         WHEN regexp_matches(text, '^[\\x09\\x0a\\x0d\\x20-\\x7e]*$$')
         |           THEN 'text/plain'
         |         ELSE 'application/octet-stream' END AS kind,
         |    md5(text) AS fp
         |  FROM documents
         |), store AS (
         |  SELECT fp, min(doc_id) AS keep_id FROM m
         |  WHERE doc_id % ${DedupRegistry.DeltaMod} <> 0 GROUP BY fp
         |), delta AS (
         |  SELECT doc_id, kind, fp FROM m
         |  WHERE doc_id % ${DedupRegistry.DeltaMod} = 0
         |), dmin AS (
         |  SELECT fp, min(doc_id) AS dmin_id FROM delta GROUP BY fp
         |)
         |SELECT d.doc_id, d.kind,
         |  coalesce(s.keep_id, n.dmin_id) AS keep_id,
         |  CAST(d.doc_id <> coalesce(s.keep_id, n.dmin_id) AS INTEGER) AS is_dup
         |FROM delta d
         |JOIN dmin n ON d.fp IS NOT DISTINCT FROM n.fp
         |LEFT JOIN store s ON d.fp IS NOT DISTINCT FROM s.fp""".stripMargin,
  )
}
