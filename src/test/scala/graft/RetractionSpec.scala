package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

/** r17 — retraction reaching the SERVING-side stores (VERDICT r16
  * item #1): until this round a takedown cleaned the dedup keeper
  * maps while the doc's postings kept serving queries, its vectors
  * kept answering kNN probes, and its sketch/shingle rows kept
  * generating candidates. Every test here pins the family contract:
  * retract-then-serve ≡ rebuild-over-survivors (under the same frozen
  * quantizers where a quantizer exists — the served-index contract
  * between rebuilds, identical to the delta specs' fixed-quantizer
  * form). The mod-5 takedown over the sf0.001 tables removes keepers,
  * non-keepers, pair endpoints, and graph neighbors alike, so the
  * election-free claims are exercised against real collisions, not a
  * convenient slice. */
class RetractionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)
  private def survDocs = docs.filter(col("doc_id") % 5 =!= 0)
  private def rDocs = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
  private def survEmb = emb.filter(col("vec_id") % 5 =!= 0)
  private def rVecs = emb.filter(col("vec_id") % 5 === 0).select("vec_id")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet[Row].map(_.toSeq)

  // ---------------------------------------------------------------
  // postings index (ta_search_served / ta_search_batch serving state)
  // ---------------------------------------------------------------

  test("postingsRetract: serving the shrunk store equals search over survivors") {
    val terms = graft.registry.TextAnalysisRegistry.SearchTerms
    val shrunk = TextAnalysis.postingsRetract(
      TextAnalysis.postingsStore(docs), rDocs)
    val served = TextAnalysis.searchIndexed(shrunk.postings,
      shrunk.docIds.count(), terms, 25)
    assert(rows(served) == rows(TextAnalysis.search(survDocs, terms, 25)))
  }

  test("postingsRetract: the id tier keeps N exact for token-less docs") {
    // doc 2 has no tokens and therefore no postings rows — a store
    // that derived N from postings doc_ids would keep serving N = 3
    // after doc 2's takedown instead of decrementing to 3-of-4; the
    // id tier records the erasure exactly
    val d = Seq((1L, "alpha beta"), (2L, ""), (3L, "alpha gamma"),
      (4L, "beta beta beta")).toDF("doc_id", "text")
    val store = TextAnalysis.postingsStore(d)
    assert(store.docIds.count() == 4)
    val shrunk = TextAnalysis.postingsRetract(store, Seq(2L).toDF("doc_id"))
    assert(shrunk.docIds.count() == 3)
    val terms = Seq("alpha", "beta")
    val served = TextAnalysis.searchIndexed(shrunk.postings,
      shrunk.docIds.count(), terms, 10)
    val fresh = TextAnalysis.search(d.filter(col("doc_id") =!= 2), terms, 10)
    assert(rows(served) == rows(fresh))
  }

  // ---------------------------------------------------------------
  // LM count table (ta_lm_score_served / st_lm serving state)
  // ---------------------------------------------------------------

  test("lmCountsRetract equals lmCounts over survivors; rebuilt model matches") {
    val retractedDocs = docs.join(rDocs, "doc_id")
    val shrunk = TextAnalysis.lmCountsRetract(
      TextAnalysis.lmCountsStore(docs), retractedDocs)
    assert(rows(shrunk.counts) == rows(TextAnalysis.lmCounts(survDocs)))
    assert(rows(TextAnalysis.lmModelFromCounts(shrunk.counts)) ==
      rows(TextAnalysis.lmModel(survDocs)))
    // the ledger records exactly the batch's ids
    assert(rows(shrunk.retracted) == rows(rDocs))
  }

  test("lmCountsRetract is replay-idempotent: the same batch twice subtracts once") {
    // the repo's own takedown-queue pattern drains through
    // foreachBatch, which is at-least-once — a RETRIED takedown batch
    // is an ordinary event, and pre-r18 it double-subtracted counts
    // silently (rows just vanished at zero). The ledger makes the
    // replay a no-op: counts after feeding the batch twice ≡ counts
    // after feeding it once ≡ lmCounts over the survivors.
    val retractedDocs = docs.join(rDocs, "doc_id")
    val once = TextAnalysis.lmCountsRetract(
      TextAnalysis.lmCountsStore(docs), retractedDocs)
    val twice = TextAnalysis.lmCountsRetract(once, retractedDocs)
    assert(rows(twice.counts) == rows(TextAnalysis.lmCounts(survDocs)))
    assert(rows(twice.counts) == rows(once.counts))
    // replay appends nothing: the ledger still holds one row per doc
    assert(twice.retracted.count() == once.retracted.count())
    // a MIXED batch (already-processed ids + genuinely new ones)
    // subtracts only the new ids' counts — and a WITHIN-batch
    // duplicate row (the same doc enqueued twice into one
    // micro-batch) subtracts once, same contract as the replay
    val extra = docs.filter(col("doc_id") % 5 === 1).select("doc_id")
    val mixed = docs.join(rDocs.union(extra).union(extra), "doc_id")
    val after = TextAnalysis.lmCountsRetract(once, mixed)
    val surv2 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
    assert(rows(after.counts) == rows(TextAnalysis.lmCounts(surv2)))
  }

  test("lm replay protection SURVIVES store reconstruction via the two-frame overload (ADVICE r18)") {
    // the restart boundary: drain → persist both tables → restart →
    // re-wrap → at-least-once redelivery of an already-processed
    // takedown. Reconstructing through the counts-only overload
    // attaches an EMPTY ledger, so the replay double-subtracts — the
    // pre-r18 silent failure, now documented as that overload's
    // contract. The two-frame overload carries the ledger across.
    val retractedDocs = docs.join(rDocs, "doc_id")
    val once = TextAnalysis.lmCountsRetract(
      TextAnalysis.lmCountsStore(docs), retractedDocs)
    // persist + re-read both tables (parquet round trip = the restart)
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_rt").toString
    graft.sources.VersionedStore.write(dir,
      Seq("counts" -> once.counts, "retracted" -> once.retracted))
    val Seq(counts, ledger) = graft.sources.VersionedStore
      .read(spark, dir, Seq("counts", "retracted")).get
    val rewrapped = TextAnalysis.lmCountsStoreFromCounts(counts, ledger)
    val replayed = TextAnalysis.lmCountsRetract(rewrapped, retractedDocs)
    assert(rows(replayed.counts) == rows(TextAnalysis.lmCounts(survDocs)),
      "a takedown replayed across the restart boundary must be a no-op")
    assert(replayed.retracted.count() == once.retracted.count())
    // and the counts-only overload indeed forfeits it (the documented
    // trade — this assertion is the overload's WARNING made concrete)
    val forfeits = TextAnalysis.lmCountsRetract(
      TextAnalysis.lmCountsStoreFromCounts(counts), retractedDocs)
    assert(rows(forfeits.counts) != rows(TextAnalysis.lmCounts(survDocs)))
  }

  // ---------------------------------------------------------------
  // vector index stores (knn_*_served serving state)
  // ---------------------------------------------------------------

  test("embeddingLshStoreRetract equals a fresh LSH store over survivors") {
    val ret = Dedup.embeddingLshStoreRetract(
      Dedup.embeddingLshStore(emb, nTables = 4, planesPerTable = 6), rVecs)
    val fresh = Dedup.embeddingLshStore(survEmb, nTables = 4,
      planesPerTable = 6)
    assert(rows(ret.bucketed) == rows(fresh.bucketed))
  }

  test("ivfRetract: retract-then-serve equals a same-codebook rebuild over survivors") {
    val probes = Similarity.probeEvery(survEmb, 50)
    val idx = Similarity.ivfIndex(emb)
    val ret = Similarity.ivfRetract(idx, rVecs)
    val fresh = Similarity.ivfIndexWith(survEmb, idx.centroids)
    assert(rows(Similarity.knnIvfIndexed(ret, probes, 10)) ==
      rows(Similarity.knnIvfIndexed(fresh, probes, 10)))
    assert(rows(ret.assigned) == rows(fresh.assigned))
  }

  test("pqRetract: retract-then-serve equals a same-seed re-encode over survivors") {
    val probes = Similarity.probeEvery(survEmb, 50)
    val idx = Similarity.pqIndex(emb)
    val ret = Similarity.pqRetract(idx, rVecs)
    val freshCodes = Similarity.pqCodes(
      survEmb.select(col("vec_id"), col("embedding").as("v")),
      idx.seeds, Similarity.PqM)
    assert(rows(ret.codes) == rows(freshCodes))
    assert(rows(Similarity.knnPqIndexed(ret, probes, 10)) ==
      rows(Similarity.knnPqIndexed(
        Similarity.PqIndex(freshCodes, idx.seeds), probes, 10)))
  }

  test("ivfPqRetract: retract-then-serve equals a same-quantizer rebuild over survivors") {
    val probes = Similarity.probeEvery(survEmb, 50)
    val idx = Similarity.ivfPqIndex(emb)
    val ret = Similarity.ivfPqRetract(idx, rVecs)
    val fresh = Similarity.ivfPqIndexWith(survEmb, idx.centroids, idx.seeds)
    assert(rows(Similarity.knnIvfPqIndexed(ret, probes, 10)) ==
      rows(Similarity.knnIvfPqIndexed(fresh, probes, 10)))
  }

  test("knnGraphRetract equals knnGraph over the survivors") {
    val store = Dedup.embeddingLshStore(emb, nTables = 4, planesPerTable = 6)
    val graph = Similarity.knnGraph(emb, 10)
    val ret = Similarity.knnGraphRetract(graph, store, rVecs, 10)
    assert(rows(ret) == rows(Similarity.knnGraph(survEmb, 10)))
  }

  test("knnGraphRetract: a HUB takedown refills every survivor's top-k") {
    // the worst case for the affected-probe bound: vec 0 is the pure
    // cluster direction, every other vector a slightly larger
    // perturbation of it, so 0 sits in EVERY top-k (verified below)
    // and its takedown makes every survivor an affected probe — the
    // refill must still equal the fresh survivor graph row-for-row
    val dim = 64
    def v(noiseDim: Int, eps: Float): Array[Float] =
      Array.tabulate(dim)(j =>
        (if (j < 8) 1f else 0f) + (if (j == noiseDim) eps else 0f))
    val vecs = (0L until 12L).map(i =>
      (i, if (i == 0) v(8, 0f) else v(8 + (i % 8).toInt, 0.001f * i)))
    val all = vecs.toDF("vec_id", "embedding")
    val k = 3
    val graph = Similarity.knnGraph(all, k)
    // fixture check: the hub really is in every other vector's top-k
    val withHub = graph.filter(col("neighbor_id") === 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(withHub == (1L until 12L).toSet,
      s"fixture must make 0 a universal neighbor, got $withHub")
    val store = Dedup.embeddingLshStore(all, nTables = 4, planesPerTable = 6)
    val ret = Similarity.knnGraphRetract(graph, store,
      Seq(0L).toDF("vec_id"), k)
    assert(rows(ret) ==
      rows(Similarity.knnGraph(all.filter(col("vec_id") =!= 0L), k)))
  }

  // ---------------------------------------------------------------
  // banded / shingle / prefix stores (the near-dup candidate state)
  // ---------------------------------------------------------------

  /** Copies of surviving docs under fresh ids — guaranteed J=1 pairs
    * for the post-takedown delta (banding below J=1 is probabilistic
    * and a spec must not bank on a lucky collision). Deterministic
    * mod-selection, not limit(): both delta evaluations must copy the
    * SAME docs. */
  private def dupDelta = survDocs.filter(col("doc_id") % 29 === 1)
    .select((col("doc_id") + 100000L).as("doc_id"), col("text"))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet

  test("minhashStoreRetract equals a fresh survivor store; post-takedown delta agrees") {
    val ret = Dedup.minhashStoreRetract(Dedup.minhashStore(docs), rDocs)
    val fresh = Dedup.minhashStore(survDocs)
    assert(rows(ret.banded) == rows(fresh.banded))
    assert(rows(ret.shingles) == rows(fresh.shingles))
    val d1 = Dedup.minhashLshDelta(ret, dupDelta)
    val d2 = Dedup.minhashLshDelta(fresh, dupDelta)
    assert(pairSet(d1.pairs) == pairSet(d2.pairs))
    assert(pairSet(d1.pairs).nonEmpty) // the copies must actually pair
  }

  test("simhashStoreRetract equals a fresh survivor store") {
    val ret = Dedup.simhashStoreRetract(Dedup.simhashStore(docs), rDocs)
    assert(rows(ret) == rows(Dedup.simhashStore(survDocs)))
  }

  test("containmentRetract: stale survivor prefixes stay lossless through a delta") {
    val ret = Dedup.prefixStoreRetract(
      Dedup.shingleStore(docs, 3, 0.5), rDocs)
    val fresh = Dedup.shingleStore(survDocs, 3, 0.5)
    // shingle rows are per-doc projections: identical after takedown
    assert(rows(ret.rows) == rows(fresh.rows))
    // prefixes are NOT asserted equal — the fresh store ranks by
    // survivor-corpus df while the shrunk store keeps ingest-time
    // orderings; losslessness says the VERIFIED pairs agree anyway
    val d1 = Dedup.containmentDelta(ret, dupDelta, 0.5)
    val d2 = Dedup.containmentDelta(fresh, dupDelta, 0.5)
    def cPairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("container_id"), col("contained_id"))
        .as[(Long, Long)].collect().toSet
    assert(cPairs(d1.pairs) == cPairs(d2.pairs))
    assert(cPairs(d1.pairs).nonEmpty)
  }

  test("jaccardStoreRetract: stale survivor prefixes stay lossless through a delta") {
    val ret = Dedup.prefixStoreRetract(Dedup.shingleStore(docs, 3, 0.5), rDocs)
    val fresh = Dedup.shingleStore(survDocs, 3, 0.5)
    assert(rows(ret.rows) == rows(fresh.rows))
    val d1 = Dedup.ngramJaccardDelta(ret, dupDelta, 0.5)
    val d2 = Dedup.ngramJaccardDelta(fresh, dupDelta, 0.5)
    assert(pairSet(d1.pairs) == pairSet(d2.pairs))
    assert(pairSet(d1.pairs).nonEmpty)
  }

  // ---------------------------------------------------------------
  // paragraph keeper store (election under takedown)
  // ---------------------------------------------------------------

  test("paragraphRetract: re-election, sticky non-keepers, emptied groups") {
    // spans of 4 tokens; S1 = "x y z w" lives in docs 5 (keeper), 10,
    // 15; S2 = "p q r s" in 11 (keeper) and 15; doc 20 is unique
    val corpus = Seq(
      5L -> "x y z w",
      10L -> "x y z w",
      11L -> "p q r s",
      15L -> "p q r s x y z w",
      20L -> "only here alone now").toDF("doc_id", "text")
    val store = Dedup.paragraphStore(corpus, 4)
    val members = Dedup.paragraphMemberStore(corpus, 4)
    // takedown: S1's keeper (5) goes → re-elect (10, 0); S2 keeps
    // (11, 0) untouched; doc 20's singleton group empties and drops
    val ret = Dedup.paragraphRetract(store, members,
      Seq(5L, 20L).toDF("doc_id"))
    val surv = corpus.filter(col("doc_id") =!= 5 && col("doc_id") =!= 20)
    assert(rows(ret.updatedStore) == rows(Dedup.paragraphStore(surv, 4)))
    assert(rows(ret.updatedMembers) ==
      rows(Dedup.paragraphMemberStore(surv, 4)))
    // and on the real corpus: mod-5 takedown ≡ fresh survivor store
    val ret2 = Dedup.paragraphRetract(Dedup.paragraphStore(docs),
      Dedup.paragraphMemberStore(docs), rDocs)
    assert(rows(ret2.updatedStore) == rows(Dedup.paragraphStore(survDocs)))
  }

  // ---------------------------------------------------------------
  // quality-election store (re-closure from the stored pair list)
  // ---------------------------------------------------------------

  test("keepBestRetract: component split, keeper re-election, unaffected clusters stick") {
    val kbDocs = Seq((1L, 10L), (2L, 99L), (3L, 20L), (4L, 50L), (5L, 40L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      .union(Seq((4L, 5L)).toDF("id_a", "id_b"))
    val store = Dedup.keepBestStore(kbDocs, pairs, col("score"))
    // retract 2 — the bridge AND keeper of {1,2,3}: the component
    // splits into singletons {1} and {3}; {4,5} is untouched
    val ret = Dedup.keepBestRetract(store, Seq(2L).toDF("doc_id"))
    val survDocs2 = kbDocs.filter(col("doc_id") =!= 2)
    val survPairs = Seq((4L, 5L)).toDF("id_a", "id_b")
    assert(rows(ret.assignment) ==
      rows(Dedup.keepBest(survDocs2, survPairs, col("score"))))
    assert(rows(ret.updatedStore.pairs) == rows(survPairs))
    assert(rows(ret.updatedStore.scores) == rows(survDocs2))
    // retract a NON-keeper leaf (1): {2,3} keeps keeper 2 verbatim
    val ret2 = Dedup.keepBestRetract(store, Seq(1L).toDF("doc_id"))
    assert(rows(ret2.assignment) ==
      rows(Dedup.keepBest(kbDocs.filter(col("doc_id") =!= 1),
        Seq((2L, 3L), (4L, 5L)).toDF("id_a", "id_b"), col("score"))))
  }

  test("retraction edge cases: empty takedown is a no-op, unknown ids are ignored, a whole-store takedown empties the store") {
    // empty takedown: every table survives verbatim
    val store = TextAnalysis.postingsStore(docs)
    val none = spark.emptyDataFrame.withColumn("doc_id",
      org.apache.spark.sql.functions.lit(0L)).limit(0).select("doc_id")
    val same = TextAnalysis.postingsRetract(store, none)
    assert(rows(same.postings) == rows(store.postings))
    assert(same.docIds.count() == store.docIds.count())
    // unknown ids: nothing in the store matches, nothing leaves
    val ghost = TextAnalysis.postingsRetract(store,
      Seq(-1L, Long.MaxValue).toDF("doc_id"))
    assert(ghost.docIds.count() == store.docIds.count())
    // whole-store takedown: everything leaves, serving degrades to
    // zero hits rather than wrong answers
    val allGone = TextAnalysis.postingsRetract(store,
      store.docIds.select("doc_id"))
    assert(allGone.docIds.count() == 0L && allGone.postings.count() == 0L)
    // the same three contracts on a keeper-elected store
    val mh = Dedup.minhashStoreRetract(Dedup.minhashStore(docs),
      Seq(-1L).toDF("doc_id"))
    assert(rows(mh.banded) == rows(Dedup.minhashStore(docs).banded))
    val kb = Dedup.keepBestRetract(
      Dedup.keepBestStore(Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "score"),
        Seq((1L, 2L)).toDF("id_a", "id_b"), col("score")),
      Seq(1L, 2L).toDF("doc_id"))
    assert(kb.assignment.count() == 0L && kb.updatedStore.pairs.count() == 0L
      && kb.updatedStore.scores.count() == 0L)
  }

  test("keepBestRetract on the real corpus equals a fresh survivor election") {
    Dedup.cached {
      val pairs = Dedup.ngramJaccard(docs, 3, 0.5)
      val store = Dedup.keepBestStore(docs, pairs,
        org.apache.spark.sql.functions.length(col("text")))
      val ret = Dedup.keepBestRetract(store, rDocs)
      val fresh = Dedup.keepBest(survDocs, Dedup.ngramJaccard(survDocs, 3, 0.5),
        org.apache.spark.sql.functions.length(col("text")))
      assert(rows(ret.assignment) == rows(fresh))
    }
  }
}
