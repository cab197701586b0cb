package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** H-family: training-corpus construction — the operations that turn
  * a raw document pile into a training mix: reproducible sampling,
  * benchmark decontamination, and PII scrubbing. All per-row column
  * math or blocked joins; nothing materializes pairs or collects to
  * the driver.
  */
object Corpus {

  /** Release-on-exit bracket for the operators' internal persists
    * ([[trainingMix]]'s budget-survivor frame) — the corpus-family
    * analog of [[Dedup.cached]]. Results must be consumed inside the
    * bracket. */
  def cached[T](body: => T): T = CacheTracker.scoped(body)

  /** Deterministic pseudo-uniform bucket in [0, 2^20) from a doc id —
    * multiplicative hashing with arithmetic every engine evaluates
    * identically in BIGINT ((id % P) * A stays < 2^63, so no overflow
    * semantics are involved; DuckDB errors on BIGINT overflow, Spark
    * wraps — this expression never reaches either). Not cryptographic:
    * it exists so a sampling decision is reproducible across engines,
    * runs, and partitionings. */
  val MixP = 100003L      // prime modulus on the id
  val MixA = 2654435761L  // Knuth's multiplicative constant
  val MixBuckets = 1048576L // 2^20
  def mixBucket(id: Column): Column = id % MixP * MixA % MixBuckets

  /** Bucket threshold for keepPct, integer math (exactly replayable). */
  def bucketThreshold(keepPct: Int): Long = MixBuckets * keepPct / 100L

  /** Per-row keep threshold: per-source rates with a default — the
    * corpus-mixing primitive (upsample high-quality sources, damp
    * boilerplate-heavy ones). A when-chain, so still a pure
    * projection: no join, no shuffle, no rate table to distribute. */
  private def thresholdFor(ratesPct: Seq[(String, Int)], defaultPct: Int): Column =
    ratesPct.foldLeft(lit(bucketThreshold(defaultPct))) {
      case (acc, (src, pct)) =>
        when(col("source") === src, lit(bucketThreshold(pct))).otherwise(acc)
    }

  /** Deterministic corpus sample: keep a doc iff its mix bucket lands
    * under `keepPct`% of the bucket space. Sampling by hashed id (not
    * rand()) is what makes a 100 TB corpus mix REPRODUCIBLE: any
    * engine, any partitioning, any rerun selects the identical subset,
    * and the decision is a per-row projection — no shuffle, no state. */
  def sample(docs: DataFrame, keepPct: Int): DataFrame =
    sampleWeighted(docs, Nil, keepPct)

  /** [[sample]] with per-source rates (sources absent from `ratesPct`
    * fall back to `defaultPct`). */
  def sampleWeighted(docs: DataFrame, ratesPct: Seq[(String, Int)],
                     defaultPct: Int): DataFrame =
    docs.filter(mixBucket(col("doc_id")) < thresholdFor(ratesPct, defaultPct))

  /** Per-source sampling accounting: how many docs each source
    * contributes before and after sampling — the mix report a
    * corpus-construction run emits. One map-side-combined aggregation
    * on the source key. */
  def sampleStats(docs: DataFrame, keepPct: Int): DataFrame =
    sampleWeightedStats(docs, Nil, keepPct)

  /** [[sampleStats]] for a weighted mix. */
  def sampleWeightedStats(docs: DataFrame, ratesPct: Seq[(String, Int)],
                          defaultPct: Int): DataFrame =
    docs
      .select(col("source"),
        (mixBucket(col("doc_id")) < thresholdFor(ratesPct, defaultPct))
          .cast("long").as("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"))

  /** Benchmark decontamination: training docs sharing at least one
    * word `n`-gram with any eval-set doc. The classic pre-training
    * hygiene pass (eval answers leaking into training data). Shape:
    * the EVAL side first aggregates to an S-keyed digest — one row
    * per distinct shingle carrying its eval-occurrence count and min
    * eval id — so the train-side equi-join has a UNIQUE right key:
    * no per-key group buffering (the r12 50× probe OOM'd a sort-merge
    * join buffering a hot shingle's multiplied eval group) and the
    * join emits one row per TRAIN occurrence, never the
    * (train × eval) occurrence product. n_witnesses = Σ n_eval over
    * the doc's matched occurrences ≡ the product count, exactly. An
    * eval digest is orders of magnitude smaller than the corpus, so
    * Spark broadcasts it and the pass is one scan of the training
    * side with NO shuffle of the corpus (AQE decides; an oversized
    * eval side degrades to a shuffle equi-join, never a cross
    * product). Output per contaminated doc: how many (shingle, eval
    * doc) witnesses, and the smallest witnessing eval doc id. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, n: Int): DataFrame = {
    def sh(df: DataFrame, idAs: String) = df.select(
      col("doc_id").as(idAs),
      explode(Text.shingles(Text.tokens(col("text")), n)).as("s"))
    val evalDigest = sh(evalDocs, "eval_id").groupBy(col("s"))
      .agg(count(lit(1)).as("n_eval"), min(col("eval_id")).as("min_eval"))
    sh(train, "doc_id").join(evalDigest, "s")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_eval")).as("n_witnesses"),
        min(col("min_eval")).as("first_eval_id"))
  }

  /** FUZZY benchmark decontamination: training docs whose word
    * n-gram shingle-set Jaccard with ANY eval doc clears τ — the leak
    * the exact-shingle [[decontaminate]] pass structurally misses
    * (a lightly paraphrased eval answer shares MANY shingles but each
    * inexactly-quoted sentence breaks some, so "shares ≥ 1 shingle"
    * over-fires on boilerplate while "J ≥ τ" targets wholesale
    * near-copies). Blocking is the two-table lossless SSJoin prefix
    * ([[Dedup.ngramJaccardCross]]): candidates are A-prefix ×
    * B-prefix under one shared rarity order, so the corpus side never
    * self-joins and a ubiquitous shingle can't form a hot bucket.
    * Output per contaminated doc: how many eval docs it near-matches,
    * its best Jaccard, and the smallest matching eval id.
    *
    * Naturally INCREMENTAL with no store: the eval set is fixed and
    * the check is per-train-doc, so screening a new ingest is exactly
    * `decontaminateFuzzy(ingest, evalDocs, n, tau)` — delta cost is
    * ingest-sized, and no delta sibling is needed. */
  def decontaminateFuzzy(train: DataFrame, evalDocs: DataFrame, n: Int,
                         tau: Double): DataFrame =
    Dedup.ngramJaccardCross(train, evalDocs, n, tau)
      .select(col("id_a").as("doc_id"), col("id_b").as("eval_id"),
        col("jaccard"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("max_jaccard"),
        min(col("eval_id")).as("first_eval_id"))

  /** The PRE-TRAINING contamination dashboard: per training source,
    * total docs, docs flagged by the exact-shingle pass, docs flagged
    * by the fuzzy (Jaccard ≥ τ) pass, and docs flagged by either — the
    * one report an eval-hygiene review reads before a run, composing
    * [[decontaminate]] and [[decontaminateFuzzy]] over ONE train/eval
    * split. Screening runs over the train side's EXACT KEEPERS only
    * (r12 — the composed survival order the 50× all-duplicate probe
    * forced on cp_dup_attribution in r11 and on this row in r12,
    * where the raw fuzzy pair stage OOM'd): a doc's flags are a
    * function of its TEXT alone, so byte copies inherit their
    * keeper's flags through the exact assignment — composed ≡ raw,
    * bit-for-bit, while the fuzzy candidate stage sees each distinct
    * text once whatever the copy multiplicity. Both passes emit
    * per-doc hit frames (eval-sized blocking, corpus never
    * self-joins); the report maps flags back with id-keyed joins
    * (unique keys — skew-free; the keeper-side frames are
    * keeper-bounded) and one aggregate on the S-bounded source key.
    * Flag columns are 0/1 sums, so every count is integer-exact on
    * any engine. */
  def contaminationReport(train: DataFrame, evalDocs: DataFrame,
                          exactN: Int, fuzzyN: Int, tau: Double): DataFrame = {
    val asg = CacheTracker.persistTracked(Dedup.exact(train)
      .select(col("doc_id"), col("keep_id")))
    // persisted alongside asg (r12 advice): both screening passes
    // consume this train-side join, and without the persist each pass
    // re-scans the corpus and re-runs the keeper join — a 2x IO tax on
    // the one frame both passes share.
    val keepers = CacheTracker.persistTracked(train.join(
      asg.filter(col("doc_id") === col("keep_id")).select("doc_id"), "doc_id"))
    val ex = decontaminate(keepers, evalDocs, exactN)
      .select(col("doc_id").as("keep_id"), lit(1).as("ex"))
    val fz = decontaminateFuzzy(keepers, evalDocs, fuzzyN, tau)
      .select(col("doc_id").as("keep_id"), lit(1).as("fz"))
    train.select(col("doc_id"), col("source"))
      .join(asg, Seq("doc_id"))
      .join(ex, Seq("keep_id"), "left")
      .join(fz, Seq("keep_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("ex"), lit(0))).as("n_exact_hits"),
        sum(coalesce(col("fz"), lit(0))).as("n_fuzzy_hits"),
        sum(when(coalesce(col("ex"), lit(0)) === 1 ||
          coalesce(col("fz"), lit(0)) === 1, 1).otherwise(0)).as("n_flagged"))
  }

  /** Min-id near-dup keeper assignment in the COMPOSED exact-first
    * order (the [[Dedup.keepBestDedup]] survival shape with the id
    * election): exact dedup collapses byte copies BEFORE any near-dup
    * pair forms (pair output is quadratic in copy multiplicity — 100
    * byte-copies of one page are 4,950 forced J=1 pairs), the Jaccard
    * pipeline + min-label closure run over exact KEEPERS only, and the
    * final map composes doc → exact keeper → that keeper's cluster
    * label. Composed ≡ the raw clusters-over-all-docs assignment:
    * byte copies share text, hence shingle sets, hence J=1 edges to
    * everything their keeper matches, so the raw component's min id IS
    * the keeper component's min id (Round11OpsSpec proves it on a
    * mixed fixture). Output is [[Dedup.exact]]'s (doc_id, keep_id,
    * is_dup) contract; docs in no pair and no copy group keep
    * themselves. */
  def nearDupAssignment(docs: DataFrame, n: Int, tau: Double): DataFrame = {
    // carry a has-shingles flag THROUGH the election (keepByMinId's
    // carry parameter), so the flag and the fingerprint are sibling
    // projections of ONE corpus scan: a doc with < n tokens has NO
    // shingle set, so the raw pipeline (and the oracle replaying it)
    // can never pair it — not even with its byte copies. The
    // composition must leave such docs as self-keepers or it would
    // claim dups the Jaccard semantics never emit.
    val ex = CacheTracker.persistTracked(Dedup.keepByMinId(
      docs.select(col("doc_id"), md5(col("text")).as("fp"),
        (size(Text.shingles(Text.tokens(col("text")), n)) > 0).as("has_sh")),
      carry = Seq("has_sh"))
      .select(col("doc_id"), col("keep_id").as("ek"), col("has_sh")))
    val keeperDocs = docs.join(
      ex.filter(col("doc_id") === col("ek")).select(col("doc_id")), "doc_id")
    val comp = Dedup.clusters(Dedup.ngramJaccard(keeperDocs, n, tau))
      .select(col("doc_id").as("ek"), col("cluster_id"))
    ex.join(comp, Seq("ek"), "left")
      .select(col("doc_id"),
        when(col("has_sh"), coalesce(col("cluster_id"), col("ek")))
          .otherwise(col("doc_id")).as("keep_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int"))
  }

  /** Cross-source duplicate ATTRIBUTION: for every (duplicate source,
    * keeper source) pair, how many docs of the first are byte-copies
    * of a doc kept in the second — the census that turns "12% of the
    * corpus is duplicated" into "crawl B re-serves crawl A's pages",
    * i.e. which source to deprioritize at the crawler, not the
    * dedup stage. [[sourceOverlap]] answers the fuzzy version at
    * shingle granularity; this is the exact-copy ledger. Shape:
    * [[Dedup.exact]]'s election (map-side-combined min + join-back, no
    * windows), two slim source lookups keyed on doc ids (unique ⇒
    * skew-free), one aggregate on the S²-bounded source-pair key. A
    * source's self-duplication shows up as the diagonal pair. */
  def dupAttribution(docs: DataFrame): DataFrame =
    dupAttributionOf(docs, Dedup.exact(docs))

  /** [[dupAttribution]] under ANY keeper assignment — (doc_id,
    * keep_id, is_dup) from exact dedup, a near-dup cluster election
    * ([[Dedup.keepBest]]), or a composed order — so one report shape
    * covers every dedup granularity the engine runs. */
  def dupAttributionOf(docs: DataFrame, assignment: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    assignment
      .filter(col("is_dup") === 1)
      .join(src, "doc_id")
      .join(src.select(col("doc_id").as("keep_id"),
        col("source").as("keeper_source")), "keep_id")
      .groupBy(col("source").as("dup_source"), col("keeper_source"))
      .agg(count(lit(1)).as("n_dups"))
  }

  /** Cross-source shingle-overlap census: for every source pair, how
    * many distinct word n-gram shingles they share and the Jaccard of
    * their shingle sets — the corpus-curation signal for "these two
    * crawls/dumps substantially duplicate each other" BEFORE paying
    * for doc-level dedup between them. Shape: one (source, shingle)
    * distinct projection (shuffle on the pair key), then a shingle-key
    * self-join whose per-key occupancy is bounded by the number of
    * SOURCES (each shingle appears once per source after the
    * distinct), never by corpus size — so pair volume is
    * O(|shingles| × S²) with S the source count, not a doc-scaled
    * blowup. Per-source set sizes are an S-row aggregate, broadcast
    * back onto the pair rows. */
  def sourceOverlap(docs: DataFrame, n: Int): DataFrame =
    overlapCensus(sourceOverlapStore(docs, n))

  /** The persisted state for INCREMENTAL source overlap: the distinct
    * (source, shingle) rows, the per-source set sizes, and the pair
    * counts — everything [[sourceOverlapDelta]] needs to absorb an
    * ingest without re-pairing the old corpus. At scale `rows` is a
    * bucketed table on `s` (the pair-join key); `sizes` and `pairs`
    * are source-count-bounded (tiny). Invariant: `sizes`/`pairs` are
    * exactly the aggregate/pair-count of `rows` — [[overlapCensus]]
    * derives the report from the small tables alone. `n` is the build's
    * shingle width, which every ingest shingles with. */
  final case class SourceOverlapStore(rows: DataFrame, sizes: DataFrame,
                                      pairs: DataFrame, n: Int)
      extends graft.sources.Stored[SourceOverlapStore] {
    def tables = Seq("rows" -> rows, "sizes" -> sizes, "pairs" -> pairs)
    def withTables(fs: Seq[DataFrame]) = copy(rows = fs(0), sizes = fs(1), pairs = fs(2))
  }

  /** Build [[SourceOverlapStore]] state for an initial corpus. */
  def sourceOverlapStore(docs: DataFrame, n: Int): SourceOverlapStore = {
    val ss = CacheTracker.persistTracked(docs
      .select(col("source"),
        explode(Text.shingles(Text.tokens(col("text")), n)).as("s"))
      .distinct())
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = ss.as("a").join(ss.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    SourceOverlapStore(ss, sizes, pairs, n)
  }

  /** The overlap report from store state alone: pair counts joined to
    * both sides' set sizes (S-row broadcast joins), Jaccard derived. */
  private def overlapCensus(store: SourceOverlapStore): DataFrame =
    store.pairs
      .join(store.sizes.select(col("source").as("src_a"), col("n").as("n_a")),
        "src_a")
      .join(store.sizes.select(col("source").as("src_b"), col("n").as("n_b")),
        "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))

  /** Result of an overlap delta pass: the census over the GROWN
    * corpus and the state for the next ingest. */
  final case class SourceOverlapDelta(census: DataFrame,
                                      updatedStore: SourceOverlapStore)

  /** Incremental (delta) source-overlap maintenance: absorb a new-docs
    * ingest WITHOUT re-pairing the old corpus. The delta's genuinely
    * new (source, shingle) rows (composite anti-join against the
    * store — a delta-sized shuffle) pair once against the store rows
    * on the shingle key (per-key occupancy still ≤ source count; the
    * store side is the bucketed table, so no store shuffle) and once
    * among themselves; pair counts and sizes merge by full-outer sum,
    * so a source or source pair born in this ingest appears without
    * special-casing. The anti-join guarantees a new row never meets
    * its own source in the store, so the store join needs no
    * same-source filter. Re-ingest is idempotent: a replayed delta's
    * rows all anti-join away. Census ≡ [[sourceOverlap]] over the
    * grown corpus (spec-proven), which is why the oracle replays the
    * full-corpus SQL. */
  def sourceOverlapDelta(store: SourceOverlapStore,
                         delta: DataFrame): SourceOverlapDelta = {
    val dss = delta
      .select(col("source"),
        explode(Text.shingles(Text.tokens(col("text")), store.n)).as("s"))
      .distinct()
    val newRows = CacheTracker.persistTracked(
      dss.join(store.rows, Seq("source", "s"), "left_anti"))
    val vsStore = newRows.as("a").join(store.rows.as("b"),
        col("a.s") === col("b.s"))
      .select(least(col("a.source"), col("b.source")).as("src_a"),
        greatest(col("a.source"), col("b.source")).as("src_b"))
    val vsSelf = newRows.as("a").join(newRows.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
    val pairDelta = vsStore.union(vsSelf)
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("d"))
    val pairs2 = store.pairs
      .join(pairDelta, Seq("src_a", "src_b"), "full_outer")
      .select(col("src_a"), col("src_b"),
        (coalesce(col("n_shared"), lit(0L)) + coalesce(col("d"), lit(0L)))
          .as("n_shared"))
    val sizes2 = store.sizes
      .join(newRows.groupBy(col("source")).agg(count(lit(1)).as("dn")),
        Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
    val updated = store.copy(rows = store.rows.union(newRows), sizes = sizes2,
      pairs = pairs2)
    SourceOverlapDelta(overlapCensus(updated), updated)
  }

  /** PII patterns, spelled to mean the same thing in Java regex
    * (Spark) and RE2 (DuckDB): URLs first (so an address inside a URL
    * isn't double-counted), then emails, then IPv4s. */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII scrub: redact URLs/emails/IPv4s to typed placeholder tokens,
    * reporting per-doc counts and the fingerprint of the scrubbed
    * text. Pure per-row regex projection — whole-stage codegen, no
    * shuffle; the scrubbed corpus itself is `scrubbedText`. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val t1 = regexp_replace(col("text"), UrlRe, "<URL>")
    val t2 = regexp_replace(t1, EmailRe, "<EMAIL>")
    val t3 = regexp_replace(t2, Ipv4Re, "<IP>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(UrlRe)).as("n_urls"),
      regexp_count(t1, lit(EmailRe)).as("n_emails"),
      regexp_count(t2, lit(Ipv4Re)).as("n_ips"),
      md5(t3).as("scrubbed_fp"))
  }

  /** End-to-end corpus-construction funnel, per source: raw docs →
    * exact-dedup keepers → decontaminated (no word n-gram shared with
    * the eval frame) → deterministic sample. Composes [[Dedup.exact]],
    * [[decontaminate]] and [[sample]] as FLAGS on one row stream —
    * each stage's verdict is a column, the funnel is a single
    * map-side-combined aggregation, and no stage re-reads the corpus
    * from disk more times than its standalone form would. The report a
    * data-mix owner actually looks at. */
  def pipelineReport(docs: DataFrame, evalDocs: DataFrame, n: Int,
                     keepPct: Int): DataFrame = {
    val keeperIds = Dedup.exact(docs)
      .filter(col("is_dup") === 0).select(col("doc_id"))
    val contaminatedIds = decontaminate(docs, evalDocs, n)
      .select(col("doc_id"), lit(1L).as("contam"))
    docs.select(col("doc_id"), col("source"))
      .join(keeperIds.withColumn("keeper", lit(1L)), Seq("doc_id"), "left")
      .join(contaminatedIds, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("keeper"), lit(0L)).as("keeper"),
        (coalesce(col("keeper"), lit(0L)) === 1L &&
          coalesce(col("contam"), lit(0L)) === 0L).cast("long").as("clean"),
        (coalesce(col("keeper"), lit(0L)) === 1L &&
          coalesce(col("contam"), lit(0L)) === 0L &&
          mixBucket(col("doc_id")) < bucketThreshold(keepPct))
          .cast("long").as("sampled"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keeper")).as("n_keepers"),
        sum(col("clean")).as("n_clean"), sum(col("sampled")).as("n_sampled"))
  }

  /** Quality-gating stage of the corpus funnel — the Gopher-style
    * filter pass a training mix applies before sampling: per source,
    * how many docs clear each gate and all of them. Gates: a token-
    * count floor, a stopword-ratio floor (natural prose has function
    * words), repetition caps (duplicate 3-gram fraction + top-word
    * fraction — boilerplate/spam markers), and language-ID agreement
    * with the declared lang.
    *
    * Every gate statistic is a pure per-row function of `text`, so the
    * whole gate is ONE scan of the corpus: the token array is
    * materialized once per row and every gate column (including the
    * top-word fraction, via the codegen'd top-token-count kernel)
    * projects from it, followed by the single map-side-combined
    * aggregation on source. The per-row expressions are the SAME ones
    * the C-family wrappers emit ([[TextAnalysis.stopRatioCol]] /
    * [[TextAnalysis.dupGramFracCol]] / [[TextAnalysis.topWordFracCol]]
    * / [[TextAnalysis.argmaxLang]]), so the oracle is unchanged — but
    * the former compose-by-join shape (three doc_id equi-joins of
    * three stat frames) re-scanned and re-tokenized the text column
    * four times and shuffled the doc_id key three times; at corpus
    * scale that is ~4x the IO of this plan for the identical result.
    * All gate ratios are single IEEE divisions of integer counts, so
    * the boundaries replay exactly on any engine. */
  def qualityGate(docs: DataFrame, minTokens: Int, minStopRatio: Double,
                  maxDupGram: Double, maxTopWord: Double): DataFrame = {
    val langs = TextAnalysis.StopwordsByLang
    // stage the token array and the 3-gram array as attributes: every
    // downstream reference is then an O(1) column read (CollapseProject
    // keeps multiply-referenced non-cheap aliases staged).
    val base = docs.select(col("source"), col("lang"),
      Text.tokens(col("text")).as("toks"))
    // ONE kernel walk of the token array yields every vote count (per
    // language + the union) — staged as its own attribute so the five
    // s_<lang> columns and stop_ratio are O(1) array reads, not five
    // more token passes (this projection was the bench's hottest
    // per-row CPU before the multi-list kernel).
    val staged = base.select(col("source"), col("lang"), col("toks"),
      TextAnalysis.stopHitsAll(col("toks")).as("hits"))
    val derived = staged.select(
      col("source") +: col("lang") +:
        size(col("toks")).as("n_tokens") +:
        TextAnalysis.stopRatioFromHits(col("hits"), col("toks")).as("stop_ratio") +:
        Text.ngrams(col("toks"), 3).as("g") +:
        TextAnalysis.topWordFracCol(col("toks")).as("top_word_frac") +:
        langs.map(_._1).zipWithIndex.map { case (l, i) =>
          TextAnalysis.langHitCol(col("hits"), i).as(s"s_$l") }: _*)
    derived.select(col("source"),
        (col("n_tokens") >= minTokens).cast("long").as("len_ok"),
        (col("stop_ratio") >= minStopRatio).cast("long").as("stop_ok"),
        (TextAnalysis.dupGramFracCol(col("g")) <= maxDupGram &&
          col("top_word_frac") <= maxTopWord).cast("long").as("rep_ok"),
        (TextAnalysis.argmaxLang(langs.map(_._1), "s_") === col("lang"))
          .cast("long").as("lang_ok"))
      .withColumn("kept",
        (col("len_ok") === 1 && col("stop_ok") === 1 &&
          col("rep_ok") === 1 && col("lang_ok") === 1).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len_ok")).as("n_len_ok"),
        sum(col("stop_ok")).as("n_stop_ok"),
        sum(col("rep_ok")).as("n_rep_ok"),
        sum(col("lang_ok")).as("n_lang_ok"),
        sum(col("kept")).as("n_kept"))
  }

  /** (doc_id, source, n_tokens, mb) — the sized projection both
    * budget forms start from. Null text counts as ZERO tokens (not
    * null): a null n_tokens would vanish from the running sum and make
    * keep/drop order-dependent for the null doc itself. */
  private def sizedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      coalesce(size(Text.tokens(col("text"))).cast("long"), lit(0L))
        .as("n_tokens"),
      mixBucket(col("doc_id")).as("mb"))

  /** Token-budget selection, reference form: per source, keep docs in
    * deterministic pseudorandom priority order (mix bucket, id) while
    * the running token total stays within `budget` — how a training
    * mix caps each source's contribution in TOKENS, not documents,
    * reproducibly. This form is the oracle-matching SEMANTICS: one
    * window partitioned by source. A giant source makes that window a
    * single sequential task — [[tokenBudgetStaged]] is the identical-
    * output scale shape (spec-proven equal; the registered query). */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("mb").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sizedDocs(docs)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** [[tokenBudget]] in its scale shape: a per-source prefix sum is
    * inherently sequential, but the budget CUTOFF isn't — stage it.
    * Phase 1 aggregates token totals per (source, coarse bucket) — at
    * most `coarseBuckets` rows per source — and runs the tiny running
    * sum over THAT. Phase 2 re-joins the (broadcastable) bucket
    * offsets and finishes with a prefix window partitioned by
    * (source, coarse bucket): every partition is bounded by bucket
    * occupancy (~1/coarseBuckets of the source), so a 100 TB source
    * costs max-bucket-occupancy sequential work instead of one task
    * sorting the whole source. cum_tokens = the bucket's preceding
    * total + the in-bucket prefix — IDENTICAL to [[tokenBudget]]
    * (CorpusSpec proves equality, zero-token edge docs included). */
  def tokenBudgetStaged(docs: DataFrame, budget: Long,
                        coarseBuckets: Int = 1024): DataFrame = {
    require(coarseBuckets > 0, "tokenBudgetStaged needs coarseBuckets > 0")
    // coarse bucket by the mix bucket's HIGH bits (integer math, no
    // overflow: mb < 2^20, coarseBuckets fits in an int)
    val cbOf = (col("mb") * coarseBuckets / MixBuckets).cast("int")
    val sized = sizedDocs(docs).withColumn("cb", cbOf)
    val wCum = Window.partitionBy(col("source")).orderBy(col("cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sized.groupBy(col("source"), col("cb"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("bucket_tokens")).over(wCum), lit(0L)))
      // buckets whose preceding total already exceeds the budget can't
      // keep anything (prefix sums only grow) — prune them BEFORE the
      // join so phase 2 never windows dropped data
      .filter(col("cum_before") <= budget)
      .select(col("source"), col("cb"), col("cum_before"))
    val wIn = Window.partitionBy(col("source"), col("cb"))
      .orderBy(col("mb").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), Seq("source", "cb"))
      .withColumn("cum_tokens",
        col("cum_before") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Stride clock for [[interleave]] — one "virtual second" per unit
    * weight. 2^20 ticks keep every vt = src_rank · (Stride div w)
    * product exact in BIGINT to ~8.8e12 docs per source. */
  val InterleaveStride = 1048576L

  /** Per-source stride = Stride div weight, PRECOMPUTED in the plan
    * (weights are literals), so the runtime cost is one multiply per
    * row — no division, no join, no rate table to distribute. */
  private def strideFor(weights: Seq[(String, Int)], defaultWeight: Int): Column = {
    require(defaultWeight > 0, "interleave needs defaultWeight > 0")
    require(weights.forall(_._2 > 0), "interleave weights must be > 0")
    weights.foldLeft(lit(InterleaveStride / defaultWeight)) {
      case (acc, (src, w)) =>
        when(col("source") === src, lit(InterleaveStride / w)).otherwise(acc)
    }
  }

  /** (doc_id, source, mb) — the projection both interleave forms
    * rank. */
  private def mixedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      mixBucket(col("doc_id")).as("mb"))

  /** Deterministic source interleaving — classic stride scheduling,
    * the step that turns a weighted corpus mix into a TRAINING ORDER:
    * doc r of a weight-w source gets virtual time
    * vt = r · (Stride div w), so sorting the corpus by
    * (vt, source, doc_id) interleaves sources proportionally to their
    * weights (a weight-3 source appears 3× as often as a weight-1
    * source in every prefix) instead of concatenating them.
    * Proportionality is exact up to the stride TRUNCATION: `Stride div
    * w` floors, so a weight not dividing 2^20 (e.g. 3) runs a hair
    * fast — one extra slot ahead of the ideal rate per ~Stride/(w·frac)
    * ticks, visible only past ~350k docs per source at w=3. The ±1
    * prefix bound holds below that; the ORDER stays deterministic and
    * oracle-exact at any size (the oracle replays the same truncated
    * stride).
    * Within a source the order is the (mix bucket, id) pseudorandom
    * permutation — the same engine-replayable clock the sampler uses —
    * so the full order is reproducible on any engine, partitioning, or
    * rerun. Emits the SORT KEY, not a global position: the physical
    * write is `repartitionByRange(vt)` + sortWithinPartitions, and a
    * global row_number would serialize in one task what range
    * partitioning does in parallel. This form is the oracle-matching
    * reference semantics (one window per source);
    * [[interleaveStaged]] is the identical-output scale shape. */
  def interleave(docs: DataFrame, weights: Seq[(String, Int)],
                 defaultWeight: Int): DataFrame = {
    val stride = strideFor(weights, defaultWeight)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("mb").asc, col("doc_id").asc)
    mixedDocs(docs)
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("src_rank"),
        (col("src_rank") * stride).as("vt"))
  }

  /** [[interleave]] in its scale shape — same staging trick as
    * [[tokenBudgetStaged]]: per-source ranking is inherently
    * sequential, so stage it. Phase 1 counts docs per (source, coarse
    * bucket) and prefix-sums THOSE (≤ coarseBuckets rows per source);
    * phase 2 finishes with row_number windows partitioned by
    * (source, coarse bucket), each bounded by bucket occupancy
    * (~1/coarseBuckets of the source). src_rank = the bucket's
    * preceding count + the in-bucket row number — IDENTICAL to
    * [[interleave]] (CorpusSpec proves equality). */
  def interleaveStaged(docs: DataFrame, weights: Seq[(String, Int)],
                       defaultWeight: Int, coarseBuckets: Int = 1024): DataFrame = {
    require(coarseBuckets > 0, "interleaveStaged needs coarseBuckets > 0")
    val stride = strideFor(weights, defaultWeight)
    val cbOf = (col("mb") * coarseBuckets / MixBuckets).cast("int")
    val base = mixedDocs(docs).withColumn("cb", cbOf)
    val wCum = Window.partitionBy(col("source")).orderBy(col("cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("source"), col("cb"))
      .agg(count(lit(1)).as("bucket_n"))
      .withColumn("rank_before",
        coalesce(sum(col("bucket_n")).over(wCum), lit(0L)))
      .select(col("source"), col("cb"), col("rank_before"))
    val wIn = Window.partitionBy(col("source"), col("cb"))
      .orderBy(col("mb").asc, col("doc_id").asc)
    base.join(broadcast(offsets), Seq("source", "cb"))
      .withColumn("src_rank", col("rank_before") + row_number().over(wIn))
      .select(col("doc_id"), col("source"), col("src_rank"),
        (col("src_rank") * stride).as("vt"))
  }

  /** SEQUENCE-PACKING manifest — where the corpus meets the trainer:
    * docs concatenate in deterministic (mix bucket, id) order within
    * each shard and are cut into fixed `seqLen`-token training
    * sequences (GPT-style document packing; a doc whose span crosses a
    * cut is `is_split`). Output per doc: shard, exact token offset,
    * the [seq_first, seq_last] span, and the split flag — the manifest
    * a serialization job (or a split-avoiding repacker) consumes.
    *
    * Scale shape: the offset is an exact per-shard prefix sum, which
    * naively is ONE window per shard — a single task sorting a whole
    * shard. This runs the [[tokenBudgetStaged]] two-phase shape
    * instead: per-(shard, coarse-bucket) token totals, cumulative
    * bucket offsets over the tiny (shards × buckets) frame
    * (broadcast), then in-bucket windows bounded by bucket occupancy.
    * cb = mb's high bits, so (cb, mb, id) order ≡ (mb, id) order and
    * the staged prefix is IDENTICAL to the one-window reference the
    * oracle replays (CorpusSpec proves it against an in-memory
    * reference). Zero-token docs occupy a point span, never split. */
  def packReport(docs: DataFrame, seqLen: Long, nShards: Int,
                 coarseBuckets: Int = 1024): DataFrame = {
    require(seqLen > 0, "packReport needs seqLen > 0")
    require(nShards > 0, "packReport needs nShards > 0")
    require(coarseBuckets > 0, "packReport needs coarseBuckets > 0")
    val base = sizedDocs(docs)
      .withColumn("shard", (col("mb") * nShards / MixBuckets).cast("int"))
      .withColumn("cb", (col("mb") * coarseBuckets / MixBuckets).cast("int"))
    val wCum = Window.partitionBy(col("shard")).orderBy(col("cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("shard"), col("cb"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("bucket_tokens")).over(wCum), lit(0L)))
      .select(col("shard"), col("cb"), col("cum_before"))
    val wIn = Window.partitionBy(col("shard"), col("cb"))
      .orderBy(col("mb").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val spanEnd = col("tok_offset") + greatest(col("n_tokens"), lit(1L)) - 1L
    base.join(broadcast(offsets), Seq("shard", "cb"))
      .withColumn("tok_offset",
        col("cum_before") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("tok_offset"),
        (col("tok_offset") / seqLen).cast("long").as("seq_first"),
        (spanEnd / seqLen).cast("long").as("seq_last"),
        ((col("tok_offset") / seqLen).cast("long") =!=
          (spanEnd / seqLen).cast("long")).cast("int").as("is_split"))
  }

  /** Deterministic shard assignment — the global-shuffle-then-shard
    * step that precedes training-data serialization: shard = the mix
    * bucket's high bits (pseudorandom, reproducible on any engine /
    * partitioning / rerun), within-shard order = (mix bucket, id).
    * Pure projection: the physical write is
    * `repartition(shard).sortWithinPartitions(mb, doc_id)` over this
    * frame. */
  def shardAssignment(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, "shardAssignment needs nShards > 0")
    sizedDocs(docs)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("mb") * nShards / MixBuckets).cast("int").as("shard"))
  }

  /** Per-shard accounting for [[shardAssignment]]: docs, tokens and
    * distinct sources per shard — the balance report that catches a
    * skewed shard before a training run does. One map-side-combined
    * aggregation. */
  def shardReport(docs: DataFrame, nShards: Int): DataFrame =
    shardAssignment(docs, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"))

  /** Exact stratified sampling: EXACTLY `n` docs per source (fewer
    * only if the source is smaller), chosen deterministically as the
    * n smallest (mix bucket, id) — the balanced eval-set / probe-set
    * constructor, where rate-based [[sample]] can only hit a count in
    * expectation. Scale shape: the per-source selection runs through
    * the bounded graft_topk heap aggregate (score = −mb, ties on the
    * smaller id — identical order to the oracle's window), so ≤ n
    * rows per source per map task reach the one exchange and NO
    * source is ever sorted in a single task. */
  def stratifiedSample(docs: DataFrame, n: Int): DataFrame = {
    require(n > 0, "stratifiedSample needs n > 0")
    docs.select(col("source"), col("doc_id"),
        mixBucket(col("doc_id")).as("mb"))
      .groupBy(col("source"))
      .agg(graft.plans.Exprs.topK((-col("mb")).cast("double"), col("doc_id"), n)
        .as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("t.id").as("doc_id"), col("source"))
  }

  /** Multi-epoch upsampling — the complement of [[sampleWeighted]]'s
    * downsampling: a training mix REPEATS high-quality sources.
    * `epochsPct` gives each source its epoch count ×100 (250 = 2.5
    * epochs: every doc appears ⌊2.5⌋ = 2 times, and the deterministic
    * half of the source — mix bucket under the fractional part —
    * appears once more). One row per (doc, epoch): a pure projection
    * plus a bounded explode (≤ ⌈epochs⌉ rows per doc, no shuffle, no
    * state), reproducible on any engine/partitioning because the
    * fractional-epoch membership rides the same mix-bucket clock as
    * sampling. Epoch indices are 0-based so downstream interleaving
    * can offset repeats into later virtual time. */
  def epochs(docs: DataFrame, epochsPct: Seq[(String, Int)],
             defaultPct: Int): DataFrame = {
    require(defaultPct >= 0, "epochs needs defaultPct >= 0")
    require(epochsPct.forall(_._2 >= 0), "epochs percentages must be >= 0")
    val pctCol = epochsPct.foldLeft(lit(defaultPct)) {
      case (acc, (src, pct)) =>
        when(col("source") === src, lit(pct)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("source"),
        pctCol.as("pct"), mixBucket(col("doc_id")).as("mb"))
      // whole epochs + one more iff the doc's bucket lands under the
      // fractional share of the bucket space (exact integer threshold)
      .withColumn("n_rep",
        (col("pct") / 100).cast("long") +
          (col("mb") * lit(100L) < (col("pct") % 100) * lit(MixBuckets))
            .cast("long"))
      .filter(col("n_rep") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_rep") - 1L)).as("epoch"))
  }

  /** The end-to-end TRAINING-MIX MANIFEST — the composed pipeline a
    * data-mix owner actually ships: deterministic weighted sampling
    * ([[sampleWeighted]]) → per-source token budget
    * ([[tokenBudgetStaged]]) → stride-scheduled interleave
    * ([[interleaveStaged]]), emitting one row per surviving doc with
    * its token accounting and training-order sort key
    * (doc_id, source, n_tokens, cum_tokens, src_rank, vt). Sorting by
    * (vt, source, doc_id) IS the training order; the physical write is
    * repartitionByRange(vt) + local sort.
    *
    * Every stage is the registered scale shape (staged windows, no
    * whole-source partitions). The budget-survivor frame is persisted
    * ([[CacheTracker]]-tracked — wrap one-shot calls in [[cached]])
    * because both the interleave ranking and the manifest's token
    * columns consume it; without the persist the corpus would be
    * scanned and tokenized twice. CorpusSpec proves the composition ≡
    * the one-window reference chain. */
  def trainingMix(docs: DataFrame, ratesPct: Seq[(String, Int)],
                  defaultPct: Int, budget: Long,
                  weights: Seq[(String, Int)], defaultWeight: Int): DataFrame = {
    val sampled = sampleWeighted(docs, ratesPct, defaultPct)
    val kept = CacheTracker.persistTracked(tokenBudgetStaged(sampled, budget))
    interleaveStaged(kept, weights, defaultWeight)
      .join(kept.select(col("doc_id"), col("n_tokens"), col("cum_tokens")),
        "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("src_rank"), col("vt"))
  }

  /** The scrubbed corpus (same schema as the input). */
  def scrubbedText(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), UrlRe, "<URL>"),
          EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"))
}
