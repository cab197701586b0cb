package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.Caps.withCaps
import graft.operators.{Dedup, DriverGate}

/** Round-13: the composed exact-first SEMANTIC order
  * ([[Dedup.semanticKeepersDedup]]) and the delta pass's
  * capped-collect / distributed-closure fallback.
  *
  * The load-bearing claim is LOSSLESSNESS: composed ≡ raw must hold
  * frame-for-frame, because dd_semantic_dedup ships with dd_semantic's
  * oracle SQL verbatim. The proof obligations are (a) the real-corpus
  * equivalence, (b) the copy-heavy corpus where the exact stage
  * actually sheds work (the quadratic-exposure case the operator
  * exists for), and (c) the census composition the registry relies on.
  */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val tau = 0.35

  private def asn(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("vec_id"), col("cluster_id"), col("is_dup"))
      .as[(Long, Long, Int)].collect().toSet

  test("semanticKeepersDedup == semanticKeepers on the real corpus") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val raw = asn(Dedup.semanticKeepers(emb, tau))
    val composed = asn(Dedup.semanticKeepersDedup(emb, tau))
    assert(composed == raw)
    assert(raw.exists(_._3 == 1)) // the fixture has real near-dups
  }

  test("composed == raw on a copy-heavy corpus, copies collapse before the pair stage") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 8) 1f else 0f)
    val b = v(i => if (i >= 8 && i < 16) 1f else 0f) // orthogonal to a
    val w = v(i => if (i < 16) 1f else 0f)           // bridges a and b
    // 25 byte copies of each direction + one bridge + one singleton:
    // the raw pair stage pays ~25^2 cosine-1 pairs per group, the
    // composed pair stage sees exactly 4 distinct vectors.
    val s = v(i => if (i >= 32) 1f else 0f)
    val rows =
      (0 until 25).map(i => (100L + i, a)) ++
      (0 until 25).map(i => (200L + i, b)) ++
      Seq((7L, w), (900L, s))
    val emb = rows.toDF("vec_id", "embedding")
    val raw = asn(Dedup.semanticKeepers(emb, tau))
    val composed = asn(Dedup.semanticKeepersDedup(emb, tau))
    assert(composed == raw)
    // the bridge unions everything except the singleton; min id = 7
    assert(composed == (rows.map(_._1).toSet - 900L)
      .map(id => (id, 7L, if (id == 7L) 0 else 1)) + ((900L, 900L, 0)))
    // census composes identically (the registry's dd_semantic_census path)
    val cenRaw = Dedup.clusterCensusOf(
      Dedup.semanticKeepers(emb, tau).select(col("cluster_id").as("keep_id")))
      .as[(Long, Long, Long)].collect().toSet
    val cenComposed = Dedup.clusterCensusOf(
      Dedup.semanticKeepersDedup(emb, tau).select(col("cluster_id").as("keep_id")))
      .as[(Long, Long, Long)].collect().toSet
    assert(cenComposed == cenRaw && cenRaw == Set((51L, 1L, 51L), (1L, 1L, 1L)))
  }

  private def keep(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("vec_id"), col("keep_id"), col("is_dup"))
      .as[(Long, Long, Int)].collect().toSet

  test("semanticKeepersBestDedup == semanticKeepersBest on a copy-free corpus") {
    // every vector is its own rep, so the composed centrality
    // election must reproduce the raw one frame-for-frame — this is
    // the regime the driver grades (the sf tables are all-distinct)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val raw = keep(Dedup.semanticKeepersBest(emb, tau, 5))
    val composed = keep(Dedup.semanticKeepersBestDedup(emb, tau, 5))
    assert(composed == raw)
    assert(raw.exists(_._3 == 1))
  }

  test("semanticKeepersBestDedup: copy-count-invariant election, partition == raw") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 8) 1f else 0f)
    val b = v(i => if (i >= 8 && i < 16) 1f else 0f)
    val w = v(i => if (i < 16) 1f else 0f) // bridges a and b
    val s = v(i => if (i >= 32) 1f else 0f)
    def corpus(na: Int, nb: Int) =
      ((0 until na).map(i => (100L + i, a)) ++
       (0 until nb).map(i => (200L + i, b)) ++
       Seq((7L, w), (900L, s))).toDF("vec_id", "embedding")
    val heavy = corpus(25, 25)
    val raw = keep(Dedup.semanticKeepersBest(heavy, tau, 5))
    val composed = keep(Dedup.semanticKeepersBestDedup(heavy, tau, 5))
    // (a) the cluster PARTITION is value-determined, so composed and
    // raw group the same members together even when the elected
    // keeper differs (compare partitions keyed by member sets)
    def partition(asg: Set[(Long, Long, Int)]): Set[Set[Long]] =
      asg.groupBy(_._2).values.map(_.map(_._1)).toSet
    assert(partition(composed) == partition(raw))
    // (b) the composed election is the raw election over the DISTINCT
    // slice, inherited by members (the definition, checked end-to-end)
    val reps = Seq((100L, a), (200L, b), (7L, w), (900L, s))
      .toDF("vec_id", "embedding")
    val repBest = keep(Dedup.semanticKeepersBest(reps, tau, 5))
    val want = composed.map { case (id, k, _) => (id, k) }
    val inherit = (
      (0 until 25).map(i => 100L + i).map(id => id -> 100L) ++
      (0 until 25).map(i => 200L + i).map(id => id -> 200L) ++
      Seq(7L -> 7L, 900L -> 900L)).toMap
    val viaReps = inherit.map { case (id, rep) =>
      (id, repBest.find(_._1 == rep).get._2) }.toSet
    assert(want == viaReps)
    // (c) COPY-COUNT INVARIANCE — the row's reason to exist: tripling
    // one value's multiplicity must not move any keeper (the raw
    // election has no such guarantee; its degree-capped graph fills
    // with copy self-edges). Reps stay the min ids, so the elected
    // keepers must be bit-identical across multiplicities.
    val light = corpus(3, 25)
    val composedLight = keep(Dedup.semanticKeepersBestDedup(light, tau, 5))
    // every id surviving in the light corpus keeps the SAME keeper
    val lightIds = composedLight.map(_._1)
    assert(composed.filter(r => lightIds.contains(r._1)) == composedLight)
  }

  test("minhashRecallReport: found ⊆ truth, counts consistent, empty-truth = 1.0") {
    // two near-identical docs (high Jaccard — a true pair), one
    // unrelated doc; the banding at (16,8) catches J ≥ 0.8 pairs
    // with near-certainty, so found == truth here and the report's
    // invariants are checkable exactly: n_hit == n_found (the verify
    // step guarantees every emitted pair IS a true pair) and
    // recall = n_found / n_true
    // letter-only words: the tokenizer splits on non-letters, so
    // digit-suffixed words would all collapse to one shingle
    val base = (for (a <- 'a' to 'h'; b <- 'a' to 'e') yield s"$a$b")
      .mkString(" ")
    val other = (for (a <- 'p' to 'w'; b <- 'p' to 't') yield s"$a$b")
      .mkString(" ")
    val docs = Seq(
      (1L, base, "s"),
      (2L, base + " tail", "s"),
      (3L, other, "s"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.minhashRecallReport(docs)
      .as[(Long, Long, Long, Double)].collect().head
    val (nTrue, nFound, nHit, recall) = r
    assert(nTrue >= 1L)
    assert(nHit == nFound && nFound <= nTrue)
    assert(recall == nHit.toDouble / nTrue)
    // a corpus with NO true pairs reports recall 1.0 (nothing missed)
    val none = Seq((1L, base, "s"), (3L, "unrelated words only", "s"))
      .toDF("doc_id", "text", "source")
    val r0 = Dedup.minhashRecallReport(none)
      .as[(Long, Long, Long, Double)].collect().head
    assert(r0 == ((0L, 0L, 0L, 1.0)))
  }

  test("embeddingRecallReport: probe-sliced truth, found ⊆ truth, invariants") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val r = Dedup.embeddingRecallReport(emb, probeMod = 10, tau = tau)
      .as[(Long, Long, Long, Double)].collect().head
    val (nTrue, nFound, nHit, recall) = r
    // the LSH emits only true pairs (exact cosine verify) restricted
    // to the probe slice, and the truth covers that slice fully —
    // so hit == found and recall is their honest ratio
    assert(nTrue >= 1L, "fixture corpus must have probe-touching pairs")
    assert(nHit == nFound && nFound <= nTrue)
    assert(recall == nHit.toDouble / nTrue && recall > 0.0 && recall <= 1.0)
    // orthogonal vectors: no true pair anywhere → recall 1.0
    def v(f: Int => Float): Array[Float] = Array.tabulate(64)(f)
    val ortho = Seq(
      (10L, v(i => if (i == 0) 1f else 0f)),
      (20L, v(i => if (i == 1) 1f else 0f)),
      (30L, v(i => if (i == 2) 1f else 0f)))
      .toDF("vec_id", "embedding")
    val r0 = Dedup.embeddingRecallReport(ortho, probeMod = 10, tau = tau)
      .as[(Long, Long, Long, Double)].collect().head
    assert(r0 == ((0L, 0L, 0L, 1.0)))
  }

  test("minhashRecallSweep: nested splits are monotone, shared truth, invariants") {
    // the three splits share band boundaries (2 | 4 | 8 rows), so a
    // pair matching an 8-row band matches every nested 2/4-row
    // sub-band too: candidates nest (modulo 64-bit hash collisions,
    // absent here), making recall MONOTONE non-decreasing toward
    // smaller rows-per-band — the S-curve's measured direction
    val docs = graft.sources.Tables.documents(spark, dir)
    val rows = Dedup.minhashRecallSweep(docs)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set("16x8", "32x4", "64x2"))
    assert(rows.map(_._2).distinct.length == 1 && rows.head._2 >= 1L)
    rows.foreach { case (_, nTrue, nFound, nHit, recall) =>
      assert(nHit == nFound && nFound <= nTrue)
      assert(recall == nHit.toDouble / nTrue)
    }
    val byCfg = rows.map(r => r._1 -> r._5).toMap
    assert(byCfg("64x2") >= byCfg("32x4") &&
      byCfg("32x4") >= byCfg("16x8"))
    // a non-128 budget is a contract error, not silent wrong banding
    val err = intercept[IllegalArgumentException] {
      Dedup.minhashRecallSweep(docs, configs = Seq((16, 4)))
    }
    assert(err.getMessage.contains("128"))
  }

  test("embeddingRecallSweep: one row per config, shared truth, invariants") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val rows = Dedup.embeddingRecallSweep(emb, probeMod = 10, tau = tau)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet ==
      Set("4x6", "6x4", "8x4", "12x3") && rows.length == 4)
    // the truth is config-independent: every row reports the same
    // n_true, and each config's found/hit obey the report invariants
    assert(rows.map(_._2).distinct.length == 1 && rows.head._2 >= 1L)
    rows.foreach { case (_, nTrue, nFound, nHit, recall) =>
      assert(nHit == nFound && nFound <= nTrue)
      assert(recall == nHit.toDouble / nTrue)
    }
    // the single-config report is the sweep's 6x4 row (shared helpers
    // — the two rows can't drift)
    val single = Dedup.embeddingRecallReport(emb, probeMod = 10, tau = tau)
      .as[(Long, Long, Long, Double)].collect().head
    val swept = rows.find(_._1 == "6x4").get
    assert(single == ((swept._2, swept._3, swept._4, swept._5)))
  }

  test("semanticKeepersDelta: duplicate-dense delta is exact (distinct'd quotient)") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 8) 1f else 0f)
    val old = Seq((10L, a), (11L, a)).toDF("vec_id", "embedding")
    // an ALL-DUPLICATE ingest: 20 byte copies of the stored direction —
    // every (copy, stored-member) pair projects onto ONE quotient edge
    val delta = (0 until 20).map(i => (500L + i, a)).toDF("vec_id", "embedding")
    val all = old.union(delta)
    val full = asn(Dedup.semanticKeepers(all, tau))
    val r = Dedup.semanticKeepersDelta(Dedup.semanticStore(old, tau), delta)
    assert(asn(r.assignment) == full)
  }

  test("semanticKeepersDelta: distributed-closure fallback == driver union-find") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val full = asn(Dedup.semanticKeepers(emb, tau))
    // force the edge gate to refuse: every quotient closes through the
    // distributed clusters() loop instead
    withCaps("clusters.edge" -> "-1") {
      assert(DriverGate.cap("clusters.edge") == -1)
      val r = Dedup.semanticKeepersDelta(Dedup.semanticStore(old, tau), delta)
      assert(asn(r.assignment) == full)
    }
  }

  // the best-delta and retract paths close their quotient on a helper
  // thread (Dedup.onThread); the system property is JVM-wide, so the
  // helper sees the forced cap too
  private def best(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("vec_id"), col("keep_id"), col("is_dup"))
      .as[(Long, Long, Int)].collect().toSet

  private def underForcedQuotientFallback[T](body: => T): T =
    withCaps("clusters.edge" -> "-1") {
      assert(DriverGate.cap("clusters.edge") == -1)
      body
    }

  test("semanticKeepersBestDelta: distributed-closure fallback == driver union-find == rebuild") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val k = 5
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val full = best(Dedup.semanticKeepersBest(emb, tau, k))
    val store = Dedup.semanticBestStore(old, tau, k)
    val atDefault = best(
      Dedup.semanticKeepersBestDelta(store, delta, tau, k).assignment)
    val forced = underForcedQuotientFallback(best(
      Dedup.semanticKeepersBestDelta(store, delta, tau, k).assignment))
    assert(atDefault == full)
    assert(forced == full)
    assert(full.exists(_._3 == 1)) // the fixture has real near-dups
  }

  test("semanticBestRetract: distributed-closure fallback == driver union-find == rebuild") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val k = 5
    val rIds = emb.filter(col("vec_id") % 20 === 7).select("vec_id")
    val surv = best(Dedup.semanticKeepersBest(
      emb.filter(col("vec_id") % 20 =!= 7), tau, k))
    val store = Dedup.semanticBestStore(emb, tau, k)
    val atDefault = best(Dedup.semanticBestRetract(store, rIds, tau, k).assignment)
    val forced = underForcedQuotientFallback(best(
      Dedup.semanticBestRetract(store, rIds, tau, k).assignment))
    assert(atDefault == surv)
    assert(forced == surv)
    assert(surv.exists(_._3 == 1))
  }
}
