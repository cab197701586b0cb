package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis, WordCount}

/** Degenerate inputs must not throw: empty corpora, null/empty text,
  * docs shorter than a shingle. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  def empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
  def degenerate = Seq(
    (1L, null.asInstanceOf[String], "s"),
    (2L, "", "s"),
    (3L, "ab", "s"), // one token, shorter than any 3-shingle
    (4L, "!!! 123 ...", "s"), // separators only
  ).toDF("doc_id", "text", "source")

  test("word count family on empty and degenerate corpora") {
    assert(WordCount.wordCount(empty).count() == 0)
    assert(WordCount.distinctWords(empty).as[Long].head() == 0L)
    val m = WordCount.wordCount(degenerate).as[(String, Long)].collect().toMap
    assert(m == Map("ab" -> 1L))
  }

  test("containment on degenerate docs: no pairs, no throw") {
    assert(Dedup.containment(empty, 3, 0.8).count() == 0)
    assert(Dedup.containment(degenerate, 3, 0.8).count() == 0)
    // identical docs contain each other in BOTH directions
    val twins = Seq((1L, "alpha beta gamma delta", "s"),
      (2L, "alpha beta gamma delta", "s")).toDF("doc_id", "text", "source")
    val c = Dedup.containment(twins, 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(c == Set((1L, 2L, 1.0), (2L, 1L, 1.0)))
  }

  test("dedup families tolerate null/short text") {
    assert(Dedup.minhashLsh(degenerate).count() == 0) // no shingles → no pairs
    assert(Dedup.simhash(degenerate).collect()
      .forall(r => r.getLong(0) != r.getLong(1)))
    // null text → null fingerprint group; must not throw
    assert(Dedup.exact(degenerate).count() == 4)
  }

  test("repetition filters: exact fractions on a known doc, zeros on degenerate") {
    val docs = Seq(
      (1L, "a b c a b c a b c", "s"), // 9 tokens, 7 3-grams, 3 distinct
      (2L, "one two three four five", "s"), // all unique
    ).toDF("doc_id", "text", "source")
    val r = TextAnalysis.repetition(docs)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(r(0) == ((1L, 7L, 1.0 - 3.0 / 7, 3.0 / 9)))
    assert(r(1) == ((2L, 3L, 0.0, 1.0 / 5)))
    val edge = TextAnalysis.repetition(degenerate)
      .as[(Long, Long, Double, Double)].collect()
    assert(edge.length == 4)
    assert(edge.filter(_._1 != 3L).forall(e => e._2 == 0L && e._3 == 0.0))
  }

  test("text analysis tolerates null/empty text") {
    val q = TextAnalysis.qualityScore(degenerate).collect()
    assert(q.length == 4)
    val lid = TextAnalysis.langId(
      degenerate.withColumn("lang", org.apache.spark.sql.functions.lit("en")))
      .count()
    assert(lid == 4)
  }

  test("one-scan census on empty orders: three zero rows, not nulls") {
    import graft.operators.Analytics
    val emptyOrders = Seq.empty[(Long, java.sql.Timestamp)]
      .toDF("o_custkey", "o_orderdate")
    val r = Analytics.customerYearCensus(emptyOrders, 1995, 1996)
      .as[(String, Long)].collect().toMap
    // the global aggregate's sums are NULL on zero rows; the coalesce
    // must turn them into honest zero counts
    assert(r == Map("both" -> 0L, "only_1995" -> 0L, "only_1996" -> 0L))
  }

  test("delta dedup over an empty delta: no assignments, stores unchanged") {
    val someDocs = Seq((1L, "delta edge text one", "s"),
      (2L, "delta edge text one", "s")).toDF("doc_id", "text", "source")
    val r = Dedup.exactDelta(Dedup.exactStore(someDocs), empty)
    assert(r.assignment.count() == 0)
    assert(r.updatedStore.keepers.count() ==
      Dedup.exactStore(someDocs).keepers.count())
    val mh = Dedup.minhashLshDelta(Dedup.minhashStore(someDocs), empty)
    assert(mh.pairs.count() == 0)
    assert(mh.updatedStore.banded.count() == 32) // both docs' 16 band keys survive
    val sh = Dedup.simhashDelta(Dedup.simhashStore(someDocs), empty)
    assert(sh.pairs.count() == 0)
    assert(sh.updatedStore.count() == 2)
  }

  test("round-8 corpus/graph ops on empty and degenerate inputs") {
    import graft.operators.{Corpus, Similarity}
    // token budget: empty corpus → empty; degenerate rows (null/empty
    // text = 0 tokens) are all kept under any positive budget, with
    // cumulative totals staying 0
    assert(Corpus.tokenBudget(empty, 100L).count() == 0)
    assert(Corpus.tokenBudgetStaged(empty, 100L).count() == 0)
    val deg = Corpus.tokenBudget(degenerate, 1L)
      .as[(Long, String, Long, Long)].collect()
    val degStaged = Corpus.tokenBudgetStaged(degenerate, 1L)
      .as[(Long, String, Long, Long)].collect()
    assert(deg.toSet == degStaged.toSet)
    // docs 1/2/4 tokenize to zero tokens and always fit; doc 3 ("ab")
    // has one token and also fits a budget of 1
    assert(deg.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // shards: empty in, empty report; degenerate rows all assigned
    assert(Corpus.shardReport(empty, 8).count() == 0)
    assert(Corpus.shardAssignment(degenerate, 8).count() == 4)
    // kNN graph on an empty embedding table: no edges, no throw
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.knnGraph(noVecs, 5).count() == 0)
    // PQ on an empty corpus: no codes, no scores, no throw — and a
    // kSub larger than the available seed pool just shrinks k
    assert(Similarity.knnPq(noVecs, noVecs, 5).count() == 0)
    val tiny = (0L until 6L).map(i =>
      (i, Array.tabulate(64)(t => (i + t).toFloat))).toDF("vec_id", "embedding")
    val r = Similarity.knnPq(tiny, Similarity.probeEvery(tiny, 3), 3,
      kSub = 100, seedMod = 2)
    assert(r.count() > 0) // 3 seeds < kSub=100: still well-defined
    // EMPTY seed pool (non-empty corpus, no vec_id divisible by
    // seedMod): zero centroids → every code 0, every LUT empty — adc
    // scores 0.0 instead of indexing past the empty table, so the
    // result is a well-defined (all-tied, id-ordered) ranking
    val noSeeds = (1L until 6L).map(i => // ids 1..5, none % 7 == 0
      (i, Array.tabulate(64)(t => (i + t).toFloat))).toDF("vec_id", "embedding")
    val ns = Similarity.knnPq(noSeeds, Similarity.probeEvery(noSeeds, 1), 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(ns.length == 5 * 2 && ns.forall(_._3 == 0.0))
  }

  test("CJK text: default tokenizer pinned (one run-token), cjkTokens emits char bigrams") {
    import graft.functions.Text
    import org.apache.spark.sql.functions.col
    val samples = Seq(
      (1L, "深度学习模型训练"),            // Han, no separators
      (2L, "the 深度学习 model"),          // mixed scripts
      (3L, "plain latin words only"),      // no CJK at all
      (4L, "日本語のテキスト"),            // Hiragana + Katakana + Han
      (5L, "한국어 텍스트"),               // Hangul, space-separated
    ).toDF("doc_id", "text")
    val both = samples.select(col("doc_id"),
        Text.tokens(col("text")).as("t"), Text.cjkTokens(col("text")).as("c"))
      .as[(Long, Seq[String], Seq[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // PINNED default: an unsegmented-script sentence is ONE giant
    // token under [^\p{L}]+ — the documented reference-parity skew
    // (SURVEY §5); per-token ta_*/dd_ statistics over CJK corpora
    // should opt into cjkTokens instead.
    assert(both(1L)._1 == Seq("深度学习模型训练"))
    assert(both(1L)._2 == Seq("深度", "度学", "学习", "习模", "模型", "型训", "训练"))
    // mixed text: each run takes its script's path, Latin lowercased
    assert(both(2L)._1 == Seq("the", "深度学习", "model"))
    assert(both(2L)._2 == Seq("the", "深度", "度学", "学习", "model"))
    // Latin-only text: the two tokenizers agree exactly
    assert(both(3L)._1 == both(3L)._2 && both(3L)._1 == Seq("plain", "latin", "words", "only"))
    // kana/hangul count as unsegmented too; spaces still separate
    // one continuous 8-char run across Han/Hiragana/Katakana → 7 bigrams
    assert(both(4L)._2.forall(_.length <= 2) && both(4L)._2.size == 7)
    assert(both(5L)._2 == Seq("한국", "국어", "텍스", "스트"))
    // single CJK char between separators emits itself
    val one = Seq((9L, "a 中 b")).toDF("doc_id", "text")
      .select(Text.cjkTokens(col("text"))).as[Seq[String]].head()
    assert(one == Seq("a", "中", "b"))
  }

  test("diversity, search, and interleave on empty and degenerate inputs") {
    import graft.operators.Corpus
    // diversity: zero-token docs get (0, 0, 0.0, 0.0), null text too
    val div = TextAnalysis.diversity(degenerate)
      .as[(Long, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(div.size == 4)
    Seq(1L, 2L, 4L).foreach(id => assert(div(id) == ((id, 0L, 0L, 0.0, 0.0))))
    assert(div(3L) == ((3L, 1L, 1L, 1.0, 0.0)))
    assert(TextAnalysis.diversity(empty).count() == 0)
    // search: no term hits anywhere → empty result, no throw; empty
    // corpus → empty; empty terms is a contract error
    TextAnalysis.cached {
      assert(TextAnalysis.search(degenerate, Seq("absent"), 5).count() == 0)
      assert(TextAnalysis.search(empty, Seq("absent"), 5).count() == 0)
    }
    intercept[IllegalArgumentException](TextAnalysis.search(empty, Nil, 5))
    assert(TextAnalysis.searchIndexed(
      TextAnalysis.searchIndex(empty), 0L, Seq("absent"), 5).count() == 0)
    // interleave: empty in → empty out in both forms; zero/negative
    // weights are contract errors
    assert(Corpus.interleave(empty, Nil, 1).count() == 0)
    assert(Corpus.interleaveStaged(empty, Nil, 1).count() == 0)
    intercept[IllegalArgumentException](Corpus.interleave(empty, Nil, 0))
    intercept[IllegalArgumentException](
      Corpus.interleave(empty, Seq("s" -> -1), 1))
  }

  test("round-10 ops on empty and degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // lmScore: empty corpus -> empty; bigram-less docs -> empty
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.lmScore(emptyDocs).count() == 0)
    assert(TextAnalysis.lmScore(
      Seq((1L, "single"), (2L, "")).toDF("doc_id", "text")).count() == 0)
    // keepBest: no pairs at all -> every doc its own keeper
    val docs = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "score")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val kb = Dedup.keepBest(docs, noPairs, col("score"))
      .as[(Long, Long, Int)].collect().toSet
    assert(kb == Set((1L, 1L, 0), (2L, 2L, 0)))
    // keepBestDelta with an empty delta AND no delta pairs: every
    // assignment sticky, stores unchanged
    val store = Dedup.keepBestStore(docs, noPairs, col("score"))
    val emptyDelta = Seq.empty[(Long, Long)].toDF("doc_id", "score")
    val r = Dedup.keepBestDelta(store, emptyDelta, noPairs)
    assert(r.assignment.as[(Long, Long, Int)].collect().toSet == kb)
    // ngramJaccardDelta with an empty delta: no pairs, store unchanged
    val jSt = Dedup.shingleStore(
      Seq((1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), 3, 0.8)
    val jd = Dedup.ngramJaccardDelta(jSt,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0.8)
    assert(jd.pairs.count() == 0)
    assert(jd.updatedStore.rows.count() == jSt.rows.count())
    // ivfDelta / pqDelta with an empty delta: index unchanged
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val emptyEmb = emb.filter(col("vec_id") < 0)
    val ivf = graft.operators.Similarity.ivfIndex(emb.limit(50))
    assert(graft.operators.Similarity.ivfDelta(ivf, emptyEmb)
      .assigned.count() == ivf.assigned.count())
    graft.operators.Similarity.cached {
      val pq = graft.operators.Similarity.pqIndex(emb.limit(50))
      assert(graft.operators.Similarity.pqDelta(pq, emptyEmb)
        .codes.count() == pq.codes.count())
    }
  }

  test("funnel/overlap/fuzzy/outlier ops on empty and degenerate inputs") {
    val noDocs = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val someDocs = Seq((1L, "alpha beta gamma delta eps", "s"))
      .toDF("doc_id", "text", "source")
    // overlap: empty corpus and single-source corpus both yield no pairs
    assert(graft.operators.Corpus.sourceOverlap(noDocs, 4).count() == 0)
    assert(graft.operators.Corpus.sourceOverlap(someDocs, 4).count() == 0)
    // overlap delta FROM an empty store == the full census of the delta
    val boot = graft.operators.Corpus.sourceOverlapDelta(
      graft.operators.Corpus.sourceOverlapStore(noDocs, 4), someDocs)
    assert(boot.census.count() == 0 &&
      boot.updatedStore.rows.count() == 2) // ABGD, BGDE under srcA… one source
    // fuzzy decontamination: empty train or empty eval → no matches
    assert(graft.operators.Corpus
      .decontaminateFuzzy(noDocs, someDocs, 3, 0.8).count() == 0)
    assert(graft.operators.Corpus
      .decontaminateFuzzy(someDocs, noDocs, 3, 0.8).count() == 0)
    // outliers: topK larger than the corpus returns every vector once
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val rep = graft.operators.Similarity.outliers(emb, centroidMod = 1, topK = 10)
    assert(rep.count() == 2)
  }
}
