package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.sources.Stored

/** C-family: text analysis for a training-data pipeline — token
  * accounting, quality scoring, language ID, fingerprinting, corpus
  * statistics. All single-pass, shuffle-free per-document column math
  * (`functions._` only), so they pipeline inside whole-stage codegen
  * and scale linearly; only `wordStats` shuffles (one agg on lang).
  *
  * Every formula is restricted to IEEE ops in a fixed order so the
  * DuckDB oracle reproduces results bit-for-bit (SURVEY §5).
  */
object TextAnalysis {

  /** Release-on-exit bracket for the operators' internal persists
    * ([[search]]'s hit frame) — the text-analysis analog of
    * [[Dedup.cached]]. Results must be consumed inside the bracket. */
  def cached[T](body: => T): T = CacheTracker.scoped(body)

  /** Stopword vote lists for language ID. Tiny on purpose: the vote
    * count, not the list size, is the operator. */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "von", "mit"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "pour", "les"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni", "ta", "men", "zai"),
  )

  // argmaxLang's `filter(_ > l)` chain (and the registry SQL replaying
  // it) is a FIRST-LISTED tie-break only while the language keys are
  // listed in sorted order — assert the invariant where the lists
  // live, so an out-of-order addition fails at load instead of
  // silently skewing every language vote and its oracle.
  require(StopwordsByLang.map(_._1) == StopwordsByLang.map(_._1).sorted,
    "StopwordsByLang language keys must be sorted (argmax tie-break)")

  /** All languages' stopwords, deduped and sorted — the vote list the
    * composite quality score and the quality gate share. */
  private[operators] val AllStopwords: Seq[String] =
    StopwordsByLang.flatMap(_._2).distinct.sorted

  /** Hit count for ONE word list — routed through the single-pass
    * kernel so even standalone callers skip the interpreted
    * `filter(toks, isInCollection)` lambda (identical counts: see
    * [[graft.plans.StopHitsKernels]]). */
  private[operators] def stopHits(toks: Column, words: Seq[String]): Column =
    element_at(graft.plans.Exprs.multiStopHits(toks, Seq(words)), 1)

  /** Every vote list the gate families share, in a FIXED order: one
    * slot per language (StopwordsByLang order) plus the union list
    * ([[AllStopwords]]) last. */
  private[operators] lazy val HitLists: Seq[Seq[String]] =
    StopwordsByLang.map(_._2) :+ AllStopwords

  /** ONE token walk, every list's hit count — the staged column the
    * quality gate and language ID project their votes from. Slot i+1 =
    * language i, last slot = the union. */
  private[operators] def stopHitsAll(toks: Column): Column =
    graft.plans.Exprs.multiStopHits(toks, HitLists)

  /** Language i's vote from a staged [[stopHitsAll]] column. */
  private[operators] def langHitCol(hits: Column, i: Int): Column =
    element_at(hits, i + 1)

  /** The union (all-stopwords) hit count from a staged
    * [[stopHitsAll]] column. */
  private[operators] def unionHitCol(hits: Column): Column =
    element_at(hits, StopwordsByLang.size + 1)

  /** [[stopRatioCol]] over a staged [[stopHitsAll]] column — same
    * expression tail (one IEEE division of integer counts), no second
    * token walk. */
  private[operators] def stopRatioFromHits(hits: Column, toks: Column): Column =
    unionHitCol(hits).cast("double") / greatest(size(toks), lit(1))

  /** Per-row gate columns, exposed so composites (the H-family quality
    * gate) can compute every per-doc statistic in ONE projection of the
    * token array instead of equi-joining the DataFrame wrappers —
    * three corpus re-scans and three doc_id shuffles fewer at any
    * scale. Each is the identical expression its wrapper emits, so the
    * oracles don't change. */
  private[operators] def stopRatioCol(toks: Column): Column =
    stopHits(toks, AllStopwords).cast("double") / greatest(size(toks), lit(1))

  /** Duplicate-3-gram fraction over a materialized n-gram column
    * (callers select `Text.ngrams(toks, 3)` as its own column first —
    * the three references below must hit an attribute, not re-expand
    * the n-gram expression). */
  private[operators] def dupGramFracCol(grams: Column): Column =
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
      .otherwise(lit(0.0))

  /** Top-word fraction as a per-row projection: the codegen'd
    * top-token-count kernel over the token array, divided by the token
    * count — bit-identical to max(c)/sum(c) of the (doc, word)
    * count-aggregate it replaces (integer counts, one IEEE division);
    * 0.0 for token-less docs, matching the aggregate path's missing
    * row under coalesce. */
  private[operators] def topWordFracCol(toks: Column): Column =
    when(size(toks) > 0,
      graft.plans.Exprs.topTokenCount(toks).cast("double")
        / size(toks).cast("double"))
      .otherwise(lit(0.0))

  /** Token accounting: whitespace tokens, BPE-ish sub-tokens, and
    * letter-run words per document. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Text.wsTokens(col("text")).as("ws_tokens"),
      Text.bpeTokens(col("text")).as("bpe_tokens"),
      size(Text.tokens(col("text"))).as("word_tokens"))

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean
    * word length, and a composite in [0,1]. Pure fixed-order double
    * arithmetic — no transcendental functions, so every engine agrees
    * to the last bit. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = Text.tokens(col("text"))
    val nChars = length(col("text"))
    val nToks = size(toks)
    val punct = regexp_count(col("text"), lit("[^\\p{L}\\p{N}\\s]"))
    val letters = length(regexp_replace(col("text"), "[^\\p{L}]", ""))
    val stops = stopHits(toks, AllStopwords)
    docs.select(col("doc_id"), nChars.as("n_chars_c"), nToks.as("n_tokens"),
        punct.as("n_punct"), letters.as("n_letters"), stops.as("n_stop"))
      .select(col("doc_id"), col("n_chars_c"), col("n_tokens"),
        (col("n_punct").cast("double") / greatest(col("n_chars_c"), lit(1)))
          .as("punct_ratio"),
        (col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)))
          .as("stop_ratio"),
        (col("n_letters").cast("double") / greatest(col("n_tokens"), lit(1)))
          .as("mean_wlen"))
      .withColumn("quality",
        (lit(1.0) - col("punct_ratio")) * (lit(1.0) - col("stop_ratio"))
          * (least(col("n_tokens"), lit(100)).cast("double") / lit(100.0)))
  }

  /** Argmax over per-language vote columns named `$prefix$lang`,
    * first-listed tie-break — shared by both language-ID variants and
    * the quality gate. */
  private[operators] def argmaxLang(langs: Seq[String], prefix: String): Column = {
    val pred = langs.foldRight(lit(langs.last)) { case (l, rest) =>
      val beatsAll = langs.filter(_ > l)
        .map(o => col(s"$prefix$l") >= col(s"$prefix$o"))
        .foldLeft(lit(true))(_ && _)
      when(beatsAll, lit(l)).otherwise(rest)
    }
    pred
  }

  /** Stopword-vote language ID: count token hits per language list,
    * argmax with a lexicographic (first-listed) tie-break. Emits the
    * vote columns so the decision is auditable. */
  def langId(docs: DataFrame): DataFrame = {
    // stage the one-walk hit array as an attribute, then project each
    // language's vote from it — one kernel call per row instead of
    // |langs| interpreted filter passes
    val staged = docs.select(col("doc_id"), col("lang"),
      stopHitsAll(Text.tokens(col("text"))).as("_hits"))
    val voted = staged.select(
      col("doc_id") +: col("lang") +:
        StopwordsByLang.map(_._1).zipWithIndex.map { case (l, i) =>
          langHitCol(col("_hits"), i).as(s"s_$l") }: _*)
    voted.withColumn("pred_lang", argmaxLang(StopwordsByLang.map(_._1), "s_"))
      .withColumn("matched", (col("pred_lang") === col("lang")).cast("int"))
  }

  /** Declared-vs-detected LANGUAGE agreement census — the label-QA
    * dashboard over [[langId]]: one row per (declared, predicted)
    * language pair with its doc count — the confusion matrix that
    * tells a curation pipeline whether the corpus's `lang` labels can
    * be trusted before they route documents (off-diagonal mass =
    * mislabeled or misdetected docs to re-screen; a whole off-diagonal
    * CELL lighting up is a systematic labeler bug, not noise). One
    * map-side-combined exact-integer aggregate on the |langs|²-bounded
    * key on top of the one-walk stop-hits kernel — the census costs
    * the same scan ta_langid already pays. */
  def langCensus(docs: DataFrame): DataFrame =
    langId(docs).groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Characteristic character bigrams per language (all exactly two
    * letters, so the alternation count is engine-independent: every
    * match consumes two chars regardless of which branch won). Tiny on
    * purpose, like the stopword lists. */
  val BigramsByLang: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ch", "ei", "en", "ie", "un"),
    "en" -> Seq("th", "he", "in", "er", "an"),
    "es" -> Seq("de", "la", "os", "ue", "ar"),
    "fr" -> Seq("le", "es", "ou", "qu", "on"),
    "zh" -> Seq("zh", "ng", "sh", "ia", "ao"),
  )

  // same sorted invariant as StopwordsByLang: the bigram argmax (and
  // its oracle) replays the identical first-listed tie-break chain.
  require(BigramsByLang.map(_._1) == BigramsByLang.map(_._1).sorted,
    "BigramsByLang language keys must be sorted (argmax tie-break)")

  /** Character-n-gram language ID: votes are non-overlapping counts of
    * each language's characteristic bigrams over the normalized text
    * (one alternation scan per language), argmax with the same
    * first-listed tie-break as [[langId]]. The n-gram heuristic works
    * on languages where tokenization is unreliable — the classic
    * complement to stopword voting. */
  def langIdNgram(docs: DataFrame): DataFrame = {
    val norm = Text.normText(col("text"))
    val voted = docs.select(
      col("doc_id") +: col("lang") +:
        BigramsByLang.map { case (l, bs) =>
          regexp_count(norm, lit(bs.mkString("|"))).as(s"g_$l") }: _*)
    voted.withColumn("pred_lang", argmaxLang(BigramsByLang.map(_._1), "g_"))
      .withColumn("matched", (col("pred_lang") === col("lang")).cast("int"))
  }

  /** Content fingerprint: md5 over the case/punctuation-normalized
    * text — the join key for exact-normalized dedup. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))

  /** Word co-occurrence: top document-level word pairs with lift
    * (observed/expected ratio — rational arithmetic only, no log, so
    * every engine agrees bitwise). Pairs come from per-doc DISTINCT
    * tokens capped at the `maxVocab` MOST FREQUENT per doc (tf desc,
    * token asc tie-break — deterministic and engine-replayable), so
    * the per-doc self-join is bounded by maxVocab², not by whatever
    * vocabulary a pathological doc (a dictionary dump, a log file)
    * brings: one such doc would otherwise contribute O(V²) pair rows
    * on its own. Document frequencies are computed over the SAME
    * capped vocabulary so the lift margins stay consistent with the
    * pair counts. */
  def cooccurrence(docs: DataFrame, topN: Int, maxVocab: Int = 512): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("w").asc)
    val dw = tf.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= maxVocab)
      .select(col("doc_id"), col("w"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val df = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val pairs = dw.as("a").join(dw.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(df.select(col("w").as("w1"), col("df").as("df1")), "w1")
      .join(df.select(col("w").as("w2"), col("df").as("df2")), "w2")
      .crossJoin(broadcast(nDocs))
      .withColumn("lift", col("n_both").cast("double") * col("n_docs")
        / (col("df1") * col("df2")))
      .select(col("w1"), col("w2"), col("n_both"), col("lift"))
      .orderBy(col("n_both").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
  }

  /** TF-IDF-style term salience, log-free: score = tf · N/df (the
    * monotone core of tf-idf; the log is presentation). Top `perDoc`
    * terms per document, deterministic tie-break. */
  def tfidf(docs: DataFrame, perDoc: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w").asc)
    tf.join(df, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= perDoc)
      .select(col("doc_id"), col("w"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /** Gopher-style repetition filters: the fraction of duplicate word
    * 3-grams in a document (high → boilerplate/spam) and the fraction
    * of all tokens taken by the single most frequent word. ONE scan,
    * zero shuffles: both fractions are per-row projections of the
    * token array (the top-word part via the codegen'd top-token-count
    * kernel — the former (doc, word) count-aggregate pipeline
    * exchanged every token row twice for a per-doc scalar). */
  def repetition(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), Text.ngrams(col("toks"), 3).as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        dupGramFracCol(col("g")).as("dup_gram_frac"),
        topWordFracCol(col("toks")).as("top_word_frac"))

  /** Lexical diversity per document — log-free quality signals: the
    * type-token ratio and the Gini–Simpson index 1 − Σ c_w²/n² (the
    * probability that two tokens drawn at random are different words:
    * ~0 for a one-word spam doc, →1 for diverse prose — the
    * transcendental-free stand-in for token entropy, so every engine
    * agrees bitwise). ONE scan, zero shuffles: both statistics are
    * per-row projections of the token array — Σ c_w² via the
    * codegen'd sum-of-squared-counts kernel
    * ([[graft.plans.TokenStatsKernels.sumSqTokenCounts]]), which
    * replaces the (doc, word) count-aggregate spelling that exchanged
    * every token row twice for a per-doc scalar. Integer sums + one
    * IEEE division per output column keep the oracle bit-exact.
    * `tokenizer` is the §5 unsegmented-script opt-in (default:
    * reference-parity `Text.tokens`; a CJK-heavy corpus passes
    * `Text.cjkTokens` so TTR/Simpson read character bigrams instead
    * of one giant run token — CjkPipelineSpec pins both readings). */
  def diversity(docs: DataFrame,
      tokenizer: Column => Column = Text.tokens): DataFrame =
    docs.select(col("doc_id"), tokenizer(col("text")).as("toks"))
      .select(col("doc_id"),
        // null text → null toks → null sizes/kernel: count as zero
        // tokens (the oracle's left-join-coalesce does the same)
        coalesce(size(col("toks")).cast("long"), lit(0L)).as("n_tokens"),
        coalesce(size(array_distinct(col("toks"))).cast("long"), lit(0L))
          .as("n_types"),
        coalesce(graft.plans.Exprs.sumSqTokenCounts(col("toks")), lit(0L))
          .as("ss"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0,
          col("n_types").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("ttr"),
        when(col("n_tokens") > 0,
          lit(1.0) - col("ss").cast("double")
            / (col("n_tokens") * col("n_tokens")).cast("double"))
          .otherwise(lit(0.0)).as("simpson"))

  /** Scale factor for [[lmScore]]'s quantized bigram probabilities
    * (and [[search]]'s idf weights — same bound: c·scale ≤ 2^63 holds
    * to ~9·10^12 occurrences of one bigram, comfortably past a
    * 100 TB corpus's hottest bigram). */
  val LmScale = 1000000L

  /** Per-document language-model quality score — the CCNet-style
    * perplexity filter, log- and float-free so every engine ranks
    * identically: train a bigram model on the corpus itself (count
    * tables c12(w1 w2) and c1(w1)), quantize each bigram's conditional
    * probability to BIGINT q = ⌊c12·10⁶ / c1⌋ ∈ [1, 10⁶], and score
    * each doc by the mean q over its bigram OCCURRENCES (lm_q =
    * Σq div n_bigrams). Monotone in the geometric-mean probability a
    * real perplexity filter thresholds on, with no transcendentals —
    * the same quantized-integer trick as [[search]]'s idf weights. No
    * smoothing is needed: the corpus contains each doc, so every doc
    * bigram has c12 ≥ 1. Low lm_q = improbable word sequences (the
    * gibberish/boilerplate tail a mix owner cuts first); docs with
    * fewer than 2 tokens have no bigrams and don't appear.
    *
    * Shape at scale: the (doc_id, bigram) occurrence rows are
    * persisted once (the count pass and the scoring join both read
    * them — same slim-projection trick as exact dedup's keyed frame);
    * the model is two map-side-combined aggregates; the scoring join
    * shuffles on the bigram key (the model is corpus-sized, NOT
    * broadcastable at scale — AQE broadcasts it when small) and a hot
    * bigram is skew-splittable because the model side is one row per
    * bigram. */
  def lmScore(docs: DataFrame): DataFrame = {
    val bi = CacheTracker.persistTracked(bigramRows(docs))
    lmScoreIndexed(bi, lmModelFromRows(bi))
  }

  /** (doc_id, bigram) occurrence rows — one per bigram POSITION. */
  private def bigramRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(Text.ngrams(Text.tokens(col("text")), 2)).as("bigram"))

  /** Train [[lmScore]]'s quantized model table (bigram, q) from a
    * corpus — the artifact the serving path persists: train once on a
    * reference corpus, score any number of incoming batches against
    * it without re-training ([[lmScoreIndexed]]). At scale a
    * maintained table bucketed on `bigram` (the scoring join key). */
  def lmModel(docs: DataFrame): DataFrame = lmModelFromRows(bigramRows(docs))

  private def lmModelFromRows(bi: DataFrame): DataFrame =
    lmModelFromCounts(bi.groupBy(col("bigram")).agg(count(lit(1)).as("c12")))

  /** [[lmModel]] from (bigram, c12) COUNT rows — bigram counts are
    * additive, so partial counts from any split of the corpus (e.g.
    * one count table per streaming micro-batch,
    * [[graft.streaming.Streams.lmServe]]) sum to the batch model
    * exactly; the input needn't be pre-merged (the groupBy re-sums
    * split rows). */
  def lmModelFromCounts(counts: DataFrame): DataFrame = {
    val c12 = counts.groupBy(col("bigram")).agg(sum(col("c12")).as("c12"))
      // tokens never contain spaces, so the first/last split is exact
      .select(col("bigram"), substring_index(col("bigram"), " ", 1).as("w1"),
        col("c12"))
    val ctx = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    c12.join(ctx, "w1")
      .select(col("bigram"), expr(s"c12 * $LmScale div c1").as("q"))
  }

  /** The per-batch (bigram, c12) count projection [[lmModelFromCounts]]
    * merges — what a streaming maintainer writes per micro-batch. */
  def lmCounts(docs: DataFrame): DataFrame =
    bigramRows(docs).groupBy(col("bigram")).agg(count(lit(1)).as("c12"))

  /** The retraction-capable LM count state (r18, closing VERDICT
    * r17's one non-idempotent retraction): the additive (bigram, c12)
    * count table plus a slim RETRACTED-DOC-ID LEDGER. Counts carry no
    * per-doc provenance (that is what keeps them 8-byte rows), so a
    * REPLAYED takedown batch — the ordinary case once takedowns drain
    * through an at-least-once foreachBatch queue — would subtract its
    * counts twice, silently; the ledger (one 8-byte row per EVER-
    * retracted doc, the [[PostingsStore]] id-tier discipline) lets
    * [[lmCountsRetract]] anti-join already-processed ids out of the
    * batch first, making any replay a no-op. At scale: counts
    * bucketed on `bigram`, the ledger on `doc_id`; the ledger grows
    * with total takedowns, not the corpus. */
  final case class LmCountsStore(counts: DataFrame, retracted: DataFrame)
      extends Stored[LmCountsStore] {
    def tables = Seq("counts" -> counts, "retracted" -> retracted)
    def withTables(fs: Seq[DataFrame]) = LmCountsStore(fs(0), fs(1))
  }

  /** Build [[LmCountsStore]] state for a corpus (empty ledger). */
  def lmCountsStore(docs: DataFrame): LmCountsStore =
    LmCountsStore(lmCounts(docs),
      docs.select(col("doc_id")).limit(0))

  /** [[lmCountsStore]] over ALREADY-ACCUMULATED count rows (e.g. a
    * streaming drain's per-batch tables, [[graft.streaming.Streams.lmServe]]'s
    * sink) — counts re-sum on first use via [[lmModelFromCounts]]'s
    * grouping, so pre-merging is optional.
    *
    * WARNING (ADVICE r18): this form attaches an EMPTY retracted
    * ledger, so it FORFEITS replay protection for any takedown
    * processed BEFORE the reconstruction — a deployment that re-wraps
    * drained/persisted counts after a restart and then replays an
    * in-flight takedown batch double-subtracts, the exact silent
    * failure the ledger closes. A store that has ever seen a
    * retraction must persist BOTH tables ([[LmCountsStore]] is two
    * frames; [[graft.sources.VersionedStore]] publishes them
    * atomically) and reconstruct through the two-frame overload
    * below. This overload is only safe for stores with no retraction
    * history (e.g. a pure-ingest drain's sink). */
  def lmCountsStoreFromCounts(counts: DataFrame): LmCountsStore =
    LmCountsStore(counts.select(col("bigram"), col("c12")),
      counts.sparkSession.range(0).select(col("id").as("doc_id")))

  /** Reconstruct a [[LmCountsStore]] from BOTH persisted tables —
    * the restart path for any store with retraction history (ADVICE
    * r18): the ledger survives reconstruction, so a takedown batch
    * replayed ACROSS the restart boundary (drain → persist → restart
    * → re-wrap → at-least-once redelivery) still anti-joins out and
    * subtracts nothing (RetractionSpec pins exactly this boundary). */
  def lmCountsStoreFromCounts(counts: DataFrame,
                              retractedLedger: DataFrame): LmCountsStore =
    LmCountsStore(counts.select(col("bigram"), col("c12")),
      retractedLedger.select(col("doc_id")))

  /** RETRACTION for a maintained LM count table (r17; ledger-guarded
    * r18): bigram counts are ADDITIVE per document (every c12 row is
    * a sum of within-doc occurrence counts), so they are subtractable
    * by construction — merge the retracted docs' own counts in
    * NEGATIVE and drop keys that reach zero. The result's counts are
    * EXACTLY [[lmCounts]] over corpus-minus-retracted (and
    * [[lmModelFromCounts]] over them is exactly the survivors' model —
    * c1 context sums re-derive from c12). `retractedDocs` carries the
    * documents being erased (doc_id, text) — a takedown queue holds
    * the content it removes; only the BATCH is tokenized, the
    * surviving corpus is never rescanned.
    *
    * REPLAY-IDEMPOTENT (r18, VERDICT r17 item #1): docs already in
    * the store's retracted ledger anti-join out of the batch before
    * any counts subtract, and the batch's fresh ids append to the
    * ledger — feeding the same batch twice (an at-least-once
    * foreachBatch retry, a re-drained takedown queue) yields the
    * once-retracted table (RetractionSpec). A mixed batch (some ids
    * already processed, some new) subtracts only the new ids' counts.
    * The ledger probe is deliberately unhinted: the batch side is
    * driver-small but the ledger grows with lifetime takedowns, so
    * AQE picks the build side from runtime sizes instead of a hint
    * committing to broadcasting an unbounded table. A duplicate row
    * WITHIN one batch (the same doc enqueued twice into one
    * micro-batch) dedupes before counting for the same reason the
    * cross-batch ledger exists — each doc's counts subtract exactly
    * once no matter how it arrives. */
  def lmCountsRetract(store: LmCountsStore,
                      retractedDocs: DataFrame): LmCountsStore = {
    val fresh = retractedDocs.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
      .join(store.retracted.select(col("doc_id")), Seq("doc_id"), "left_anti")
    LmCountsStore(
      store.counts.select(col("bigram"), col("c12"))
        .union(lmCounts(fresh)
          .select(col("bigram"), (-col("c12")).as("c12")))
        .groupBy(col("bigram")).agg(sum(col("c12")).as("c12"))
        .filter(col("c12") > 0),
      store.retracted.select(col("doc_id"))
        .union(fresh.select(col("doc_id")).distinct()))
  }

  /** Score docs (given as raw docs or prebuilt (doc_id, bigram) rows)
    * against a PREBUILT model table: one scan + the bigram-keyed join
    * + one per-doc aggregate — no model aggregates in the plan.
    * Bigrams unseen by the model are dropped (n_bigrams counts scored
    * occurrences), the out-of-vocabulary behavior of an external
    * reference model; when the model was trained on the same corpus
    * every bigram is in-vocabulary and this equals [[lmScore]]
    * (TextAnalysisSpec). */
  def lmScoreIndexed(docsOrRows: DataFrame, model: DataFrame): DataFrame = {
    val bi = if (docsOrRows.columns.contains("bigram")) docsOrRows
      else bigramRows(docsOrRows)
    bi.join(model, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_q div n_bigrams").as("lm_q"))
  }

  /** Scale factor for [[search]]'s quantized idf weights. */
  val IdfScale = 1000000L

  /** Keyword search: top-`k` documents for a bag of query terms,
    * ranked by Σ_terms tf · w_term with QUANTIZED idf weights
    * w = ⌊N·10⁶ / df⌋ — the monotone tf·N/df core of tf-idf (the same
    * log-free salience [[tfidf]] uses) kept in BIGINT so the per-doc
    * sum is order-independent and every engine ranks identically (a
    * double Σ tf·(N/df) would make the score depend on term addition
    * order). Shape: the corpus explodes to (doc, term) rows FILTERED
    * to the query terms before any shuffle — only matching rows reach
    * the tf aggregate — and the slim hit frame is PERSISTED because
    * both the df aggregate and the scoring join consume it (without
    * the persist, each branch re-scans and re-tokenizes the corpus —
    * the dominant cost at 100 TB, paid twice). Then the per-term
    * df/weight table (≤ |terms| rows) broadcasts back onto the hits,
    * per-doc sum, deterministic top-k (score desc, doc_id asc →
    * TakeOrdered, no global sort). The persist is session-lifetime by
    * [[CacheTracker]] contract — wrap one-shot calls in
    * [[cached]]. An inverted-index table (the tf frame written
    * bucketed by term) serves repeated queries without any scan. */
  def search(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "search needs at least one query term")
    val tf = CacheTracker.persistTracked(docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .filter(col("w").isInCollection(terms))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    // integer idf weight per matched term: N * scale div df — BIGINT
    // `div`, not a double `/` (exact past 2^53; N·scale ≤ 2^63 holds
    // to ~9e12 docs); df ≥ 1 by construction.
    val weights = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("w"), col("df"),
        expr(s"n_docs * $IdfScale div df").as("wt"))
    topKByScore(tf, weights, k)
  }

  /** Shared ranking tail of both search paths: weights (≤ |terms|
    * rows) broadcast onto the hits, per-doc BIGINT sum, deterministic
    * top-k via TakeOrdered. */
  private def topKByScore(tf: DataFrame, weights: DataFrame, k: Int): DataFrame =
    tf.join(broadcast(weights), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf") * col("wt")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** The (doc_id, w, tf) postings projection [[searchIndexed]] serves
    * from — the corpus pays tokenization ONCE at index-build time.
    * Persist via `Sinks.writeBucketed(postings, table, "w", buckets)`
    * (term-bucketed layout) or plain parquet: the query-term filter
    * reaches the scan's PushedFilters either way, so a query reads
    * only its terms' row groups, never the corpus. */
  def searchIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))

  /** The retraction-capable postings state (r17 — closing VERDICT
    * r16's "searchIndexed still serves a retracted doc's postings"
    * hole): the (doc_id, w, tf) postings table plus a slim per-doc id
    * tier. The id tier is the honest price of exact erasure — the
    * serving N (document count) cannot be decremented from postings
    * alone because token-less docs have no postings rows, so the
    * store carries one 8-byte row per live doc (the [[graft.operators.Dedup.ExactStore]] members
    * discipline). At scale: postings bucketed on `w` (the query join
    * key), docIds on doc_id. A deployment CACHES the serving N (the
    * id tier's count) beside the store and refreshes it on
    * ingest/takedown rather than re-counting the tier per query — one
    * action over a slim columnar table either way, but a serving tier
    * should not pay a count job per request (the bench bindings
    * memoize it at build time for the same reason). */
  final case class PostingsStore(postings: DataFrame, docIds: DataFrame)
      extends Stored[PostingsStore] {
    def tables = Seq("postings" -> postings, "doc_ids" -> docIds)
    def withTables(fs: Seq[DataFrame]) = PostingsStore(fs(0), fs(1))
  }

  /** Build [[PostingsStore]] state for a corpus (ONE tokenization
    * scan for the postings + a column projection for the id tier). */
  def postingsStore(docs: DataFrame): PostingsStore =
    PostingsStore(searchIndex(docs), docs.select(col("doc_id")))

  /** RETRACTION for the postings index: election-free — a doc's
    * postings rows and id row leave by two anti-joins (takedown batch
    * broadcast, store sides stream past map-side), and every
    * df/weight the serving path uses is DERIVED at query time from
    * the filtered postings ([[searchIndexed]] computes df per query),
    * so nothing else needs decrementing. Serving the shrunk store
    * with nDocs = the shrunk id tier's count is EXACTLY
    * [[search]] over corpus-minus-retracted (spec-pinned, and the
    * `ta_search_retract` oracle replays it): the retracted doc's rows
    * are out of every candidate set, its df contributions vanish with
    * them, and N is the survivor count. Incremental the other way
    * too: an ingest appends [[searchIndex]] of the delta plus its id
    * rows (postings are per-doc projections — no cross-doc state). */
  def postingsRetract(store: PostingsStore,
                      retractIds: DataFrame): PostingsStore = {
    val r = retractIds.select(col("doc_id")).distinct()
    PostingsStore(
      store.postings.join(broadcast(r), Seq("doc_id"), "left_anti"),
      store.docIds.join(broadcast(r), Seq("doc_id"), "left_anti"))
  }

  /** [[search]] served from a prebuilt postings index — the repeated-
    * query scale path (mirror of [[Similarity.knnLshIndexed]]): no
    * scan or tokenization of the corpus at query time. `nDocs` is the
    * corpus document count, captured at index-build time (it cannot be
    * derived from postings: token-less docs have no rows). Both the
    * df aggregate and the scoring join read the index FILTERED to the
    * query terms — with the filter pushed down, each branch touches
    * |hits| rows, so no persist is needed (unlike [[search]], where
    * each branch would re-tokenize the whole corpus).
    * TextAnalysisSpec proves ≡ [[search]] over a bucketed round-trip. */
  def searchIndexed(postings: DataFrame, nDocs: Long, terms: Seq[String],
                    k: Int): DataFrame = {
    require(terms.nonEmpty, "searchIndexed needs at least one query term")
    require(nDocs >= 0 && nDocs <= Long.MaxValue / IdfScale,
      "searchIndexed nDocs out of range")
    val numerator = nDocs * IdfScale
    val tf = postings.filter(col("w").isInCollection(terms))
    val weights = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .select(col("w"), col("df"), expr(s"$numerator div df").as("wt"))
    topKByScore(tf, weights, k)
  }

  /** MULTI-QUERY serving over the postings index — the shape a
    * serving tier actually runs: Q query bags answered in ONE pass.
    * `queries` is a (query_id, w) frame, one row per query term.
    * Per-term df/weights are computed once per DISTINCT term across
    * all queries (not per query); each candidate posting fans out only
    * to the queries containing its term; per-(query, doc) BIGINT
    * scores aggregate map-side; top-k per query via the bounded
    * graft_topk heap (score desc, doc_id asc) — k×partitions rows per
    * query reach the exchange, never the candidate set (a per-query
    * row_number window would hash-sort every candidate). Output:
    * (query_id, doc_id, score, rnk). Integer scores rank exactly
    * through the heap's double slot below 2^53 — the quantized-weight
    * regime [[search]] documents. TextAnalysisSpec proves each query's
    * rows ≡ the single-query [[searchIndexed]]. */
  def searchIndexedBatch(postings: DataFrame, nDocs: Long, queries: DataFrame,
                         k: Int): DataFrame = {
    require(nDocs >= 0 && nDocs <= Long.MaxValue / IdfScale,
      "searchIndexedBatch nDocs out of range")
    val numerator = nDocs * IdfScale
    val q = queries.select(col("query_id"), col("w")).distinct()
    // the distinct TERM LIST is collected driver-side on purpose: it
    // is bounded by the INPUT batch (a serving tier's query bags), not
    // by any table, and turning it into an isInCollection literal puts
    // the term filter in the index scan's PushedFilters — a broadcast
    // join would read the ENTIRE postings index per batch instead of
    // the query terms' row groups (spec-asserted on a parquet index).
    val termList = {
      import queries.sparkSession.implicits._
      q.select(col("w")).distinct().as[String].collect().toSeq
    }
    require(termList.nonEmpty,
      "searchIndexedBatch needs at least one query term")
    val tf = postings.filter(col("w").isInCollection(termList))
    val weights = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .select(col("w"), expr(s"$numerator div df").as("wt"))
    val scored = tf.join(broadcast(weights), "w")
      .join(broadcast(q), "w")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * col("wt")).as("score"))
    scored.groupBy(col("query_id"))
      .agg(graft.plans.Exprs.topK(col("score").cast("double"),
        col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.score").cast("long").as("score"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Per-language corpus statistics: type-token ratio and average
    * word length. One explode + one agg on lang (bounded key space). */
  def wordStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("word")).as("n_types"),
        (count_distinct(col("word")).cast("double") / count(lit(1))).as("ttr"),
        (sum(length(col("word"))).cast("double") / count(lit(1))).as("avg_wlen"))

  /** Compressibility quality signal: per-doc DEFLATE ratio
    * (compressed/raw bytes). The classic corpus filter the
    * token-statistics family approximates from the other side —
    * machine-generated/templated text compresses far below prose, and
    * the measure needs no tokenizer, vocabulary, or language model, so
    * it catches repetition the word-level signals miss (repeated
    * SENTENCE structure, base64 blobs at the other extreme). Runs as
    * partition-batched `mapPartitions` (the [[Multimodal]] decode
    * discipline): ONE reused Deflater per task — allocated native zlib
    * state amortizes over the partition, released on task completion —
    * zero shuffles, linear scan. Fixed level + strategy keeps the byte
    * count deterministic for a given JDK; no SQL engine exposes
    * DEFLATE, so this row is spec-checked (TextAnalysisSpec), not
    * oracle-checked. Empty/null docs report ratio 1.0 (incompressible
    * by convention — they must not look like top-quality prose). */
  def compressibility(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](16 * 1024)
        it.map { case (id, text) =>
          val bytes =
            if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
          var n = 0L
          if (bytes.nonEmpty) {
            deflater.reset()
            deflater.setInput(bytes)
            deflater.finish()
            while (!deflater.finished()) n += deflater.deflate(buf)
          }
          val ratio =
            if (bytes.isEmpty) 1.0 else n.toDouble / bytes.length
          (id, bytes.length.toLong, n, ratio)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate", "ratio")
  }
}
