package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Incremental (delta) dedup contracts: a delta pass against the
  * persisted store must equal the full rescan restricted to the delta
  * — the invariant that lets a growing corpus dedup ingest-by-ingest
  * without ever rescanning old bytes. The MinHash corpus uses
  * identical token streams (J = 1) for guaranteed pairs: banding is
  * probabilistic below that, and a spec must not depend on a lucky
  * band collision. */
class DeltaDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String)]): DataFrame =
    rows.map { case (i, t) => (i, t, "s") }.toDF("doc_id", "text", "source")

  // old side: an internal dup pair (1,3) + a unique doc; delta side:
  // dups of both old texts, a delta-internal dup pair, and a fresh doc.
  private val corpus = Seq(
    1L -> "aaa bbb ccc",
    2L -> "unique text two",
    3L -> "aaa bbb ccc",
    101L -> "aaa bbb ccc",
    102L -> "unique text two",
    103L -> "fresh delta text",
    104L -> "fresh delta text",
    105L -> "another fresh one",
  )

  private def asn(df: DataFrame): Set[(Long, Long, Int)] =
    df.as[(Long, Long, Int)].collect().toSet
  private def stor(df: DataFrame): Set[(String, Long)] =
    df.as[(String, Long)].collect().toSet

  test("exactDelta over an append-only split equals the full rescan") {
    val full = docsDF(corpus)
    val old = full.filter($"doc_id" < 100)
    val delta = full.filter($"doc_id" >= 100)
    val r = Dedup.exactDelta(Dedup.exactStore(old), delta)
    assert(asn(r.assignment) == asn(Dedup.exact(full).filter($"doc_id" >= 100)))
    assert(stor(r.updatedStore.keepers) == stor(Dedup.exactStore(full).keepers))
  }

  test("two sequential ingests compose to the full rescan") {
    val full = docsDF(corpus)
    val old = full.filter($"doc_id" < 100)
    val r1 = Dedup.exactDelta(Dedup.exactStore(old),
      full.filter($"doc_id" >= 100 && $"doc_id" <= 103))
    val r2 = Dedup.exactDelta(r1.updatedStore, full.filter($"doc_id" >= 104))
    assert(asn(r1.assignment) ++ asn(r2.assignment) ==
      asn(Dedup.exact(full).filter($"doc_id" >= 100)))
    assert(stor(r2.updatedStore.keepers) == stor(Dedup.exactStore(full).keepers))
  }

  test("sticky keepers: a smaller delta id does not re-elect a stored keeper") {
    val r = Dedup.exactDelta(
      Dedup.exactStore(docsDF(Seq(10L -> "shared text"))),
      docsDF(Seq(5L -> "shared text", 7L -> "brand new")))
    assert(asn(r.assignment) == Set((5L, 10L, 1), (7L, 7L, 0)))
    assert(stor(r.updatedStore.keepers).map(_._2) == Set(10L, 7L))
  }

  test("null text dedups against the stored null fingerprint") {
    val r = Dedup.exactDelta(
      Dedup.exactStore(docsDF(Seq(1L -> (null: String), 2L -> "x"))),
      docsDF(Seq(101L -> (null: String))))
    assert(asn(r.assignment) == Set((101L, 1L, 1)))
  }

  test("minhashLshDelta emits exactly the full run's pairs touching the delta") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight"
    val t3 = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val full = docsDF(Seq(
      1L -> t1, 2L -> t1, // old-old pair: must NOT re-emit in the delta pass
      3L -> t2,
      101L -> t1, // delta↔old both ways: (1,101) and (2,101)
      102L -> t2,
      103L -> t3, 104L -> t3, // delta-internal pair
      105L -> "totally unrelated content words entirely distinct here"))
    val old = full.filter($"doc_id" < 100)
    val delta = full.filter($"doc_id" >= 100)
    val r = Dedup.minhashLshDelta(Dedup.minhashStore(old), delta)
    val got = r.pairs.as[(Long, Long, Double)].collect().toSet
    val fullPairs = Dedup.minhashLsh(full).as[(Long, Long, Double)].collect().toSet
    assert(got == fullPairs.filter(p => p._1 >= 100 || p._2 >= 100))
    assert(got.map(p => (p._1, p._2)) ==
      Set((1L, 101L), (2L, 101L), (3L, 102L), (103L, 104L)))
    assert(got.forall(_._3 == 1.0)) // identical shingle sets verify at J=1

    // the returned store replays the NEXT ingest: a later dup of a
    // delta text pairs with both of its copies, and nothing else.
    val r2 = Dedup.minhashLshDelta(r.updatedStore, docsDF(Seq(201L -> t3)))
    assert(r2.pairs.as[(Long, Long, Double)].collect().toSet
      .map((p: (Long, Long, Double)) => (p._1, p._2)) ==
      Set((103L, 201L), (104L, 201L)))
  }

  test("minhashLshDelta re-ingest is idempotent: store replaced, never duplicated") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val old = docsDF(Seq(1L -> t1, 2L -> "one two three four five six"))
    val delta = docsDF(Seq(101L -> t1))
    val r1 = Dedup.minhashLshDelta(Dedup.minhashStore(old), delta)
    def pairSet(r: Dedup.PairsDelta[Dedup.MinHashStore]) =
      r.pairs.as[(Long, Long, Double)].collect().toSet
    def bandedSet(r: Dedup.PairsDelta[Dedup.MinHashStore]) =
      r.updatedStore.banded.as[(Long, Int, Long)].collect().toSet
    def shingleSet(r: Dedup.PairsDelta[Dedup.MinHashStore]) =
      r.updatedStore.shingles.as[(Long, Int, String)].collect().toSet
    assert(pairSet(r1).map(p => (p._1, p._2)) == Set((1L, 101L)))
    // a RETRIED ingest of the same delta against the updated store: the
    // stored copy of doc 101 is replaced, not unioned — without the
    // anti-join its shingle rows double and verify counts each shared
    // shingle twice (jaccard > 1 on later ingests).
    val r2 = Dedup.minhashLshDelta(r1.updatedStore, delta)
    assert(pairSet(r2) == pairSet(r1))
    assert(bandedSet(r2) == bandedSet(r1))
    assert(shingleSet(r2) == shingleSet(r1))
    // and a later ingest over the re-ingested store still verifies at
    // exact jaccard (1.0 here — duplicated store rows would blow it up)
    val r3 = Dedup.minhashLshDelta(r2.updatedStore, docsDF(Seq(201L -> t1)))
    assert(pairSet(r3).map(p => (p._1, p._2)) == Set((1L, 201L), (101L, 201L)))
    assert(pairSet(r3).forall(_._3 == 1.0))
  }

  test("simhashDelta emits exactly the full run's pairs touching the delta") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight"
    val t3 = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val full = docsDF(Seq(
      1L -> t1, 2L -> t1, // old-old pair: must NOT re-emit in the delta pass
      3L -> t2,
      101L -> t1, // delta↔old both ways
      102L -> t2,
      103L -> t3, 104L -> t3, // delta-internal pair
      105L -> "totally unrelated content words entirely distinct here"))
    val old = full.filter($"doc_id" < 100)
    val delta = full.filter($"doc_id" >= 100)
    val r = Dedup.simhashDelta(Dedup.simhashStore(old), delta)
    def pairs(df: DataFrame) = df.as[(Long, Long, Int)].collect().toSet
    val fullPairs = pairs(Dedup.simhash(full))
    assert(pairs(r.pairs) == fullPairs.filter(p => p._1 >= 100 || p._2 >= 100))
    // identical token streams sketch identically: hamming 0
    assert(pairs(r.pairs).map(p => (p._1, p._2)) ==
      Set((1L, 101L), (2L, 101L), (3L, 102L), (103L, 104L)))
    assert(pairs(r.pairs).forall(_._3 == 0))

    // two sequential ingests compose to the same union
    val r1 = Dedup.simhashDelta(Dedup.simhashStore(old),
      full.filter($"doc_id" >= 100 && $"doc_id" <= 102))
    val r2 = Dedup.simhashDelta(r1.updatedStore, full.filter($"doc_id" >= 103))
    assert(pairs(r1.pairs) ++ pairs(r2.pairs) == pairs(r.pairs))

    // re-ingest idempotency: a retried delta replaces its stored rows
    // (no self-pair, no doubled sketches) and changes nothing
    val r3 = Dedup.simhashDelta(r.updatedStore, delta)
    assert(pairs(r3.pairs) == pairs(r.pairs))
    assert(r3.updatedStore.as[(Long, Long)].collect().toSet ==
      r.updatedStore.as[(Long, Long)].collect().toSet)
  }

  test("containmentDelta emits exactly the full run's pairs touching the delta") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val page = quote + " " + (1 to 30).map(i => s"filler word$i more").mkString(" ")
    val other = "one two three four five six seven"
    val full = docsDF(Seq(
      1L -> quote, 2L -> page,   // old-old containment: must NOT re-emit
      3L -> other,
      101L -> quote,             // delta doc contained in OLD page (new→old)
      102L -> (other + " plus surrounding context words around it"), // OLD doc 3 contained in a DELTA page (old→new)
      103L -> "pqq rqq sqq tqq uqq vqq",
      104L -> ("pqq rqq sqq tqq uqq vqq with extra tail words"), // delta-internal
      105L -> "entirely disjoint trailing document"))
    val old = full.filter($"doc_id" < 100)
    val delta = full.filter($"doc_id" >= 100)
    def pairs(df: DataFrame) = df.as[(Long, Long, Double)].collect().toSet
    val fullPairs = pairs(Dedup.containment(full, 3, 0.8))
    val r = Dedup.containmentDelta(
      Dedup.shingleStore(old, 3, 0.8), delta, 0.8)
    assert(pairs(r.pairs) == fullPairs.filter(p => p._1 >= 100 || p._2 >= 100))
    // both asymmetric directions crossed the ingest boundary
    val dirs = pairs(r.pairs).map(p => (p._1, p._2))
    assert(dirs.contains((101L, 2L)), s"new-contained-in-old missing: $dirs")
    assert(dirs.contains((3L, 102L)), s"old-contained-in-new missing: $dirs")
    assert(dirs.contains((103L, 104L)), s"delta-internal missing: $dirs")
    assert(!dirs.contains((1L, 2L)), "old-old pair re-emitted")

    // two sequential ingests compose to the one-shot delta pass
    val r1 = Dedup.containmentDelta(Dedup.shingleStore(old, 3, 0.8),
      full.filter($"doc_id" >= 100 && $"doc_id" <= 102), 0.8)
    val r2 = Dedup.containmentDelta(r1.updatedStore,
      full.filter($"doc_id" >= 103), 0.8)
    assert(pairs(r1.pairs) ++ pairs(r2.pairs) == pairs(r.pairs))

    // re-ingest idempotency: the delta replaces its stored rows
    val r3 = Dedup.containmentDelta(r.updatedStore, delta, 0.8)
    assert(pairs(r3.pairs) == pairs(r.pairs))
    assert(r3.updatedStore.rows.as[(Long, Long, String)].collect().toSet ==
      r.updatedStore.rows.as[(Long, Long, String)].collect().toSet)

    // parameter-drift guard: a LOOSER tau (stored prefixes too short)
    // is a contract error, not silent pair loss; the SAME-or-tighter
    // tau is accepted
    val st = Dedup.shingleStore(old, 3, 0.8)
    intercept[IllegalArgumentException](
      Dedup.containmentDelta(st, delta, 0.7))
    assert(Dedup.containmentDelta(st, delta, 0.9).pairs.count() >= 0)
  }

  test("ngramJaccardDelta emits exactly the full run's pairs touching the delta") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = a + " lambda" // J = 8/9 vs a
    val full = docsDF(Seq(
      1L -> a, 2L -> b,                    // old-old pair: must NOT re-emit
      3L -> "one two three four five six",
      101L -> a,                           // delta near-dup of OLD docs
      103L -> "pq rq sq tq uq vq wq xq",
      104L -> "pq rq sq tq uq vq wq xq yq", // delta-internal pair
      105L -> "entirely disjoint trailing document"))
    val old = full.filter($"doc_id" < 100)
    val delta = full.filter($"doc_id" >= 100)
    def pairs(df: DataFrame) =
      df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val fullPairs = pairs(Dedup.ngramJaccard(full, 3, 0.8))
    val r = Dedup.ngramJaccardDelta(Dedup.shingleStore(old, 3, 0.8),
      delta, 0.8)
    assert(pairs(r.pairs) == fullPairs.filter(p => p._1 >= 100 || p._2 >= 100))
    assert(pairs(r.pairs).contains((1L, 101L)), "old-new pair missing")
    assert(pairs(r.pairs).contains((103L, 104L)), "delta-internal pair missing")
    assert(!pairs(r.pairs).contains((1L, 2L)), "old-old pair re-emitted")
    // re-ingest idempotency + drift guard (the containment contract)
    val r2 = Dedup.ngramJaccardDelta(r.updatedStore, delta, 0.8)
    assert(pairs(r2.pairs) == pairs(r.pairs))
    intercept[IllegalArgumentException](
      Dedup.ngramJaccardDelta(r.updatedStore, delta, 0.7))
  }

  test("keepBestDelta == the full election, including a delta-bridged cluster merge") {
    import org.apache.spark.sql.functions.col
    // two OLD clusters {1,2} and {3,4} that a DELTA doc 101 bridges
    // (101 pairs with 2 AND 3), plus an untouched old cluster {5,6},
    // an old singleton 7, a delta near-dup 102 of 7, and a delta
    // singleton 103. Scores make the merged cluster's best a DELTA doc.
    val docs = Seq(
      (1L, 10L), (2L, 20L), (3L, 30L), (4L, 25L),
      (5L, 50L), (6L, 60L), (7L, 70L),
      (101L, 99L), (102L, 65L), (103L, 5L))
      .toDF("doc_id", "score")
    val oldPairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val deltaPairs = Seq((2L, 101L), (3L, 101L), (7L, 102L))
      .toDF("id_a", "id_b")
    val old = docs.filter($"doc_id" < 100)
    val delta = docs.filter($"doc_id" >= 100)
    val fullRes = Dedup.keepBest(docs,
      oldPairs.union(deltaPairs), col("score"))
      .as[(Long, Long, Int)].collect().toSet
    val store = Dedup.keepBestStore(old, oldPairs, col("score"))
    val r = Dedup.keepBestDelta(store, delta, deltaPairs)
    assert(asn(r.assignment) == fullRes)
    // the merged cluster {1,2,3,4,101} elected the delta doc
    val m = fullRes.map(t => t._1 -> t._2).toMap
    assert(Seq(1L, 2L, 3L, 4L, 101L).forall(m(_) == 101L))
    assert(m(5L) == 6L && m(6L) == 6L, "untouched cluster re-elected")
    assert(m(7L) == 7L && m(102L) == 7L, "singleton-join election wrong")
    assert(m(103L) == 103L, "unpaired delta doc must self-assign")
    // a second ingest over the updated store still equals the full run
    val delta2 = Seq((201L, 1000L)).toDF("doc_id", "score")
    val delta2Pairs = Seq((5L, 201L)).toDF("id_a", "id_b")
    val full2 = Dedup.keepBest(docs.union(delta2),
      oldPairs.union(deltaPairs).union(delta2Pairs), col("score"))
      .as[(Long, Long, Int)].collect().toSet
    val r2 = Dedup.keepBestDelta(r.updatedStore, delta2, delta2Pairs)
    assert(asn(r2.assignment) == full2)
    // re-ingesting the SAME delta replaces, never duplicates: same
    // assignment, same store row counts
    val r3 = Dedup.keepBestDelta(r.updatedStore, delta, deltaPairs)
    assert(asn(r3.assignment) == fullRes)
    assert(r3.updatedStore.scores.count() == r.updatedStore.scores.count())
    assert(r3.updatedStore.pairs.count() == r.updatedStore.pairs.count())
    // re-ingest with CHANGED content that DROPS pairs: 101 no longer
    // bridges {1,2} and {3,4} — the formerly-merged cluster must
    // re-form from its surviving edges even though no new pair
    // touches it
    val changedPairs = Seq((7L, 102L)).toDF("id_a", "id_b")
    val fullChanged = Dedup.keepBest(docs,
      oldPairs.union(changedPairs), col("score"))
      .as[(Long, Long, Int)].collect().toSet
    val r4 = Dedup.keepBestDelta(r.updatedStore, delta, changedPairs)
    assert(asn(r4.assignment) == fullChanged)
    val m4 = fullChanged.map(t => t._1 -> t._2).toMap
    assert(m4(1L) == 2L && m4(2L) == 2L && m4(3L) == 3L && m4(4L) == 3L,
      "un-bridged clusters must re-form separately")
    assert(m4(101L) == 101L, "the changed doc must self-assign")
  }

  test("paragraphDelta: sticky stored keepers, delta-min for new paragraphs, composable") {
    // 6-token spans: every quoted phrase below is one span
    val span = 6
    val lic = "licensed under the apache license version"
    val fresh = "completely new paragraph appearing only here"
    val docs = docsDF(Seq(
      5L -> lic,                       // old: the boilerplate's keeper
      6L -> "some other old paragraph entirely",
      // delta ids BELOW the stored keeper exercise stickiness, ids
      // above exercise the append-only case
      1L -> lic,                       // delta, id < 5: store still wins
      101L -> lic,                     // delta, id > 5
      102L -> fresh,                   // new paragraph: delta elects min
      103L -> fresh))
    val old = docs.filter($"doc_id" >= 5L && $"doc_id" < 100L)
    val delta = docs.filter($"doc_id" < 5L || $"doc_id" >= 100L)
    val store = Dedup.paragraphStore(old, span)
    val r = Dedup.paragraphDelta(store, delta)
    val asn = r.assignment.as[(Long, Long, Long, Long, Int)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4), x._5)).toMap
    // sticky: both lic occurrences point at the STORED keeper (5, 0),
    // including the delta doc with the smaller id
    assert(asn((1L, 0L)) == (((5L, 0L), 1)))
    assert(asn((101L, 0L)) == (((5L, 0L), 1)))
    // new paragraph: the delta's min occurrence keeps
    assert(asn((102L, 0L)) == (((102L, 0L), 0)))
    assert(asn((103L, 0L)) == (((102L, 0L), 1)))
    // the updated store carries exactly one row per distinct paragraph
    val st = r.updatedStore.keepers.as[(String, Long, Long)].collect()
    assert(st.map(_._1).distinct.length == st.length && st.length == 3)
    // re-ingest idempotency: same assignment, store unchanged
    val r2 = Dedup.paragraphDelta(r.updatedStore, delta)
    assert(r2.assignment.as[(Long, Long, Long, Long, Int)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4), x._5)).toMap == asn)
    assert(r2.updatedStore.keepers.as[(String, Long, Long)].collect().toSet ==
      st.toSet)
    // two sequential ingests compose to the one-shot pass
    val rA = Dedup.paragraphDelta(store, delta.filter($"doc_id" <= 101L))
    val rB = Dedup.paragraphDelta(rA.updatedStore,
      delta.filter($"doc_id" > 101L))
    val seq = (rA.assignment.as[(Long, Long, Long, Long, Int)].collect() ++
      rB.assignment.as[(Long, Long, Long, Long, Int)].collect())
      .map(x => (x._1, x._2) -> ((x._3, x._4), x._5)).toMap
    assert(seq == asn)
  }

  test("embeddingNearDupLshDelta emits exactly the full run's pairs touching the delta") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val r = Dedup.embeddingNearDupLshDelta(Dedup.embeddingLshStore(old), delta, tau)
    def pairs(df: DataFrame) = df.as[(Long, Long, Double)].collect().toSet
    val full = pairs(Dedup.embeddingNearDupLsh(emb, tau))
    assert(pairs(r.pairs) == full.filter(p => p._1 % 3 == 0 || p._2 % 3 == 0))
    assert(pairs(r.pairs).nonEmpty)

    // two sequential ingests compose to the same union
    val d1 = delta.filter(col("vec_id") % 2 === 0)
    val d2 = delta.filter(col("vec_id") % 2 =!= 0)
    val r1 = Dedup.embeddingNearDupLshDelta(Dedup.embeddingLshStore(old), d1, tau)
    val r2 = Dedup.embeddingNearDupLshDelta(r1.updatedStore, d2, tau)
    assert(pairs(r1.pairs) ++ pairs(r2.pairs) == pairs(r.pairs))

    // re-ingest idempotency: the stored rows are replaced, not doubled
    val r3 = Dedup.embeddingNearDupLshDelta(r.updatedStore, delta, tau)
    assert(pairs(r3.pairs) == pairs(r.pairs))
    assert(r3.updatedStore.bucketed.count() == r.updatedStore.bucketed.count())
  }

  test("embeddingNearDupLshDelta PROPAGATES non-default store geometry (ADVICE r18)") {
    // the delta pass once rebuilt its updated store via the bare
    // constructor, resetting a non-default (nTables, planesPerTable,
    // dim) to the 6×4×64 defaults — so the NEXT pass derived the wrong
    // plane family from the store and re-bucketed the new rows under
    // planes that never hashed the stored ones (silent non-pairs, the
    // exact mixed-geometry union the store-carried geometry forbids).
    // Pin: geometry survives a delta, and two sequential deltas under
    // 4×6 still compose to the one-shot 4×6 pass.
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val store46 = Dedup.embeddingLshStore(old, nTables = 4,
      planesPerTable = 6, dim = 64)
    val r1 = Dedup.embeddingNearDupLshDelta(store46,
      delta.filter(col("vec_id") % 2 === 0), tau)
    assert((r1.updatedStore.nTables, r1.updatedStore.planesPerTable,
      r1.updatedStore.dim) == ((4, 6, 64)),
      "updatedStore must carry the input store's geometry, not defaults")
    val r2 = Dedup.embeddingNearDupLshDelta(r1.updatedStore,
      delta.filter(col("vec_id") % 2 =!= 0), tau)
    def pairs(df: DataFrame) = df.as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.embeddingNearDupLshDelta(store46, delta, tau)
    assert(pairs(r1.pairs) ++ pairs(r2.pairs) == pairs(oneShot.pairs))
    assert(pairs(oneShot.pairs).nonEmpty)
    // the constructor restores what it is told — no silent
    // defaulting path left for a persisted 4×6 table
    val back = Dedup.EmbeddingLshStore(store46.bucketed,
      nTables = 4, planesPerTable = 6, dim = 64)
    assert((back.nTables, back.planesPerTable, back.dim) == ((4, 6, 64)))
  }

  test("semanticKeepersDelta: delta assignment equals the full rescan") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val full = asn(Dedup.semanticKeepers(emb, tau))
    val r = Dedup.semanticKeepersDelta(Dedup.semanticStore(old, tau), delta)
    assert(asn(r.assignment) == full)
    assert(full.exists(_._3 == 1)) // the fixture has real dups

    // two sequential ingests land on the same final assignment
    val d1 = delta.filter(col("vec_id") % 2 === 0)
    val d2 = delta.filter(col("vec_id") % 2 =!= 0)
    val r1 = Dedup.semanticKeepersDelta(Dedup.semanticStore(old, tau), d1)
    val r2 = Dedup.semanticKeepersDelta(r1.updatedStore, d2)
    assert(asn(r2.assignment) == full)

    // re-ingest idempotence: replaying the same delta changes nothing
    val r3 = Dedup.semanticKeepersDelta(r.updatedStore, delta)
    assert(asn(r3.assignment) == full)
  }

  test("semanticKeepersDelta merges two stored clusters through a bridging delta vector") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 8) 1f else 0f)           // cluster A direction
    val b = v(i => if (i >= 8 && i < 16) 1f else 0f) // orthogonal cluster B
    val w = v(i => if (i < 16) 1f else 0f)          // bridges both (cos ≈ 0.71)
    val old = Seq((10L, a), (11L, a), (20L, b), (21L, b))
      .toDF("vec_id", "embedding")
    val delta = Seq((5L, w)).toDF("vec_id", "embedding")
    val all = Seq((10L, a), (11L, a), (20L, b), (21L, b), (5L, w))
      .toDF("vec_id", "embedding")
    val tau = 0.35
    // the fixture must actually exercise the merge: the full run is one
    // component whose min id is the DELTA vector (both stored labels move)
    val full = asn(Dedup.semanticKeepers(all, tau))
    assert(full == Set((5L, 5L, 0), (10L, 5L, 1), (11L, 5L, 1),
      (20L, 5L, 1), (21L, 5L, 1)))
    val store = Dedup.semanticStore(old, tau)
    // before the bridge: two separate stored clusters
    assert(stor2(store.assignment) ==
      Set(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val r = Dedup.semanticKeepersDelta(store, delta)
    assert(asn(r.assignment) == full)
  }

  private def stor2(df: DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  test("semanticKeepersBestDelta: delta assignment equals the full rerun") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val k = 5
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val full = asn(Dedup.semanticKeepersBest(emb, tau, k))
    val store = Dedup.semanticBestStore(old, tau, k)
    val r = Dedup.semanticKeepersBestDelta(store, delta, tau, k)
    assert(asn(r.assignment) == full)
    assert(full.exists(_._3 == 1)) // the fixture has real dups

    // the grown edge list is ROW-FOR-ROW the fresh build's (r15: the
    // merged-top-k maintenance — stored top-k rows ∪ delta-pair
    // scores through one total-order rank — must reproduce the fresh
    // ranking exactly, including edges the delta DISPLACES from an
    // old vector's top-k)
    def gset(st: Dedup.SemanticBestStore): Set[(Long, Long)] =
      st.graph.select(col("src"), col("dst")).as[(Long, Long)]
        .collect().toSet
    assert(gset(r.updatedStore) == gset(Dedup.semanticBestStore(emb, tau, k)))

    // two sequential ingests land on the same final assignment (the
    // grown store's graph/bits/assignment compose across batches)
    val d1 = delta.filter(col("vec_id") % 2 === 0)
    val d2 = delta.filter(col("vec_id") % 2 =!= 0)
    val r1 = Dedup.semanticKeepersBestDelta(
      Dedup.semanticBestStore(old, tau, k), d1, tau, k)
    val r2 = Dedup.semanticKeepersBestDelta(r1.updatedStore, d2, tau, k)
    assert(asn(r2.assignment) == full)

    // re-ingest idempotence: replaying the same delta changes nothing
    val r3 = Dedup.semanticKeepersBestDelta(r.updatedStore, delta, tau, k)
    assert(asn(r3.assignment) == full)
    assert(r3.updatedStore.bits.count() == r.updatedStore.bits.count())
    assert(r3.updatedStore.graph.count() == r.updatedStore.graph.count())

    // parameter drift is a contract error, not silently wrong state
    val err = intercept[IllegalArgumentException] {
      Dedup.semanticKeepersBestDelta(store, delta, tau = 0.5, k)
    }
    assert(err.getMessage.contains("build parameters"))
  }

  test("semanticKeepersBest: cluster-family geometry never narrows the graph's sign word") {
    // r14 ADVICE (Dedup.scala): with a cluster family totaling FEWER
    // planes than the graph's fixed 4×6 = 24 (e.g. 4×4 = 16), the
    // pre-fix build computed only 16 sign bits and the graph slice
    // silently read sign 0 for planes 16-23, collapsing graph buckets.
    // Hyperplanes are prefix-stable and the word is now max(cluster,
    // graph) planes wide, so the stored edge list must be IDENTICAL
    // under any cluster geometry — narrower or wider than 24.
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val k = 5
    def edges(st: Dedup.SemanticBestStore): Set[(Long, Long)] =
      st.graph.select(col("src"), col("dst")).as[(Long, Long)].collect().toSet
    val def24 = edges(Dedup.semanticBestStore(emb, tau, k)) // 6×4
    assert(edges(Dedup.semanticBestStore(emb, tau, k,
      nTables = 4, planesPerTable = 4)) == def24)
    assert(edges(Dedup.semanticBestStore(emb, tau, k,
      nTables = 8, planesPerTable = 4)) == def24)

    // and a WIDER-than-24 store is accepted by its own delta (the
    // pre-fix require demanded exactly 24 planes, refusing stores the
    // build side legally produced): delta ≡ full at 8×4
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val full = asn(Dedup.semanticKeepersBest(emb, tau, k,
      nTables = 8, planesPerTable = 4))
    val r = Dedup.semanticKeepersBestDelta(
      Dedup.semanticBestStore(old, tau, k, nTables = 8, planesPerTable = 4),
      delta, tau, k)
    assert(asn(r.assignment) == full)
  }

  test("semanticKeepersDelta: a changed-bytes re-ingest leaves no stale value route in the store") {
    // r13 advice (Dedup.scala): a vec_id re-ingested with DIFFERENT
    // bytes must not keep its OLD value's bucket rows in the LSH
    // store — a later batch carrying the old value would resolve its
    // rep to this vec_id and inherit its NEW value's cluster. Value
    // updates stay out of the sticky-label contract (old cluster
    // mates keep their labels), but the store must never serve a
    // stale value→rep route.
    import org.apache.spark.sql.functions.col
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val vOld = v(i => if (i < 8) 1f else 0f)
    val vNew = v(i => if (i >= 8 && i < 16) 1f else 0f) // orthogonal: cos 0 < τ
    val tau = 0.35
    // batch 1: id 10 carries vOld and becomes its value's stored rep
    val store1 = Dedup.semanticStore(Seq((10L, vOld)).toDF("vec_id", "embedding"), tau)
    // batch 2: id 10 re-ingested with vNew (a value UPDATE)
    val r2 = Dedup.semanticKeepersDelta(store1,
      Seq((10L, vNew)).toDF("vec_id", "embedding"))
    // the store's LSH tier must carry id 10 under vNew only — no
    // surviving vOld row (the stale route the advice names)
    val storedVals = r2.updatedStore.lsh.bucketed
      .select(col("vec_id"), col("v")).distinct()
      .as[(Long, Array[Float])].collect()
    assert(storedVals.forall { case (id, vec) =>
      id == 10L && vec.sameElements(vNew) })
    // batch 3: a NEW id carries vOld; it must NOT inherit id 10's
    // cluster (their contents are orthogonal) — it forms its own
    val r3 = Dedup.semanticKeepersDelta(r2.updatedStore,
      Seq((20L, vOld)).toDF("vec_id", "embedding"))
    assert(asn(r3.assignment) == Set((10L, 10L, 0), (20L, 20L, 0)))
  }

  test("semanticKeepersDelta: an empty delta leaves the assignment unchanged") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 8) 1f else 0f)
    val old = Seq((10L, a), (11L, a)).toDF("vec_id", "embedding")
    val store = Dedup.semanticStore(old, 0.35)
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val r = Dedup.semanticKeepersDelta(store, empty)
    assert(asn(r.assignment) == Set((10L, 10L, 0), (11L, 10L, 1)))
    assert(stor2(r.updatedStore.assignment) == Set(10L -> 10L, 11L -> 10L))
  }

  // ---------------- retraction (r16 — the family's removal path) ---

  test("exactRetract: keeper takedown re-elects the min survivor, " +
      "non-keeper takedown is sticky, emptied groups drop") {
    // group A {1,3,5}: keeper 1 retracted → re-elect 3
    // group B {2,4}: non-keeper 4 retracted → keeper 2 sticky
    // group C {6}: sole member retracted → group drops entirely
    // group D {7}: untouched singleton
    val full = docsDF(Seq(
      1L -> "group a", 3L -> "group a", 5L -> "group a",
      2L -> "group b", 4L -> "group b",
      6L -> "group c",
      7L -> "group d"))
    val r = Dedup.exactRetract(Dedup.exactStore(full),
      Seq(1L, 4L, 6L).toDF("doc_id"))
    assert(asn(r.assignment) == Set(
      (3L, 3L, 0), (5L, 3L, 1), (2L, 2L, 0), (7L, 7L, 0)))
    // updated stores equal the fresh build over the survivors
    val surv = full.filter(!$"doc_id".isin(1L, 4L, 6L))
    assert(stor(r.updatedStore.keepers) == stor(Dedup.exactStore(surv).keepers))
    assert(r.updatedStore.members.select("doc_id").as[Long].collect().toSet ==
      Set(2L, 3L, 5L, 7L))
    // and the assignment IS the full recompute over survivors
    assert(asn(r.assignment) == asn(Dedup.exact(surv)))
  }

  test("exactRetract composes with exactDelta in either order") {
    val full = docsDF(corpus)
    val old = full.filter($"doc_id" < 100)
    val delta = full.filter($"doc_id" >= 100)
    val retract = Seq(1L, 102L).toDF("doc_id") // an old keeper + a delta dup
    // ingest THEN retract
    val ing = Dedup.exactDelta(Dedup.exactStore(old), delta)
    val r1 = Dedup.exactRetract(ing.updatedStore, retract)
    val survAll = full.filter(!$"doc_id".isin(1L, 102L))
    assert(asn(r1.assignment) == asn(Dedup.exact(survAll)))
    // retract THEN ingest: the shrunk stores feed the next ingest
    val r2 = Dedup.exactRetract(Dedup.exactStore(old), Seq(1L).toDF("doc_id"))
    val ing2 = Dedup.exactDelta(r2.updatedStore, delta)
    val expect = Dedup.exact(full.filter($"doc_id" =!= 1L))
    assert(asn(ing2.assignment) == asn(expect.filter($"doc_id" >= 100)))
    assert(asn(r2.assignment) == asn(expect.filter($"doc_id" < 100)))
  }

  test("exactRetract: sticky non-min keepers from earlier ingests stay sticky") {
    // a store whose keeper is NOT the group minimum (first-writer-wins
    // from a delta ingest: 10 ingested before 5 arrived) — retracting
    // an unrelated doc must not re-elect 5, same contract as the
    // ingest side
    val st = Dedup.exactDelta(
      Dedup.exactStore(docsDF(Seq(10L -> "shared text", 9L -> "other"))),
      docsDF(Seq(5L -> "shared text"))).updatedStore
    val r = Dedup.exactRetract(st, Seq(9L).toDF("doc_id"))
    assert(asn(r.assignment) == Set((10L, 10L, 0), (5L, 10L, 1)))
    // …and retracting the sticky keeper re-elects the true survivor min
    val r2 = Dedup.exactRetract(st, Seq(10L).toDF("doc_id"))
    assert(asn(r2.assignment) == Set((9L, 9L, 0), (5L, 5L, 0)))
  }

  test("semanticBestRetract: assignment and graph equal the fresh build over survivors") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val k = 5
    val store = Dedup.semanticBestStore(emb, tau, k)
    val rIds = emb.filter(col("vec_id") % 20 === 7).select("vec_id")
    val surv = emb.filter(col("vec_id") % 20 =!= 7)
    val r = Dedup.semanticBestRetract(store, rIds, tau, k)
    assert(asn(r.assignment) == asn(Dedup.semanticKeepersBest(surv, tau, k)))
    // the retraction covers real work: the takedown slice must hit
    // stored top-k dst edges (the promote-displaced case) and at
    // least one multi-member cluster
    assert(store.graph.join(rIds.withColumnRenamed("vec_id", "dst"),
      Seq("dst")).count() > 0)
    // the shrunk graph's rnk <= k slice is ROW-FOR-ROW the fresh
    // build's — the slice the pagerank + election read, so THE
    // correctness-bearing contract (the one direction the ingest
    // merge can't cover: a removal PROMOTES previously displaced
    // candidates, which the surplus absorbs for probes that kept
    // >= k stored edges and a fresh bucket re-rank covers for the
    // rest)
    def kslice(st: Dedup.SemanticBestStore): Set[(Long, Long, Int)] =
      st.graph.filter(col("rnk") <= k)
        .select(col("src"), col("dst"), col("rnk"))
        .as[(Long, Long, Int)].collect().toSet
    val freshSurv = Dedup.semanticBestStore(surv, tau, k)
    assert(kslice(r.updatedStore) == kslice(freshSurv))
    // …and the SURPLUS region is never wrong, only possibly shorter:
    // every stored row sits at exactly its fresh rank (a decayed
    // probe's surviving list is a PREFIX of the fresh ranking — the
    // invariant that keeps chained retractions and ingests exact)
    def grows(st: Dedup.SemanticBestStore): Set[(Long, Long, Int)] =
      st.graph.select(col("src"), col("dst"), col("rnk"))
        .as[(Long, Long, Int)].collect().toSet
    assert(grows(r.updatedStore).subsetOf(grows(freshSurv)))
    // …and so is the shrunk PAIR table (r16: the stored verified pair
    // list is what the re-closure filters, so its maintenance is
    // correctness-bearing)
    assert(r.updatedStore.pairs.as[(Long, Long)].collect().toSet ==
      freshSurv.pairs.as[(Long, Long)].collect().toSet)
    // retracting ids the store never held is a no-op
    val noop = Dedup.semanticBestRetract(store,
      Seq(999999L).toDF("vec_id"), tau, k)
    assert(asn(noop.assignment) == asn(Dedup.semanticKeepersBest(emb, tau, k)))
    // parameter / format drift is a contract error
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticBestRetract(store, rIds, tau = 0.5, k)
    }.getMessage.contains("build parameters"))
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticBestRetract(
        store.copy(graph = store.graph.select("src", "dst")), rIds, tau, k)
    }.getMessage.contains("cos_sim"))
    // …and the ingest side now refuses them too (ADVICE r15 medium)
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticKeepersBestDelta(
        store.copy(graph = store.graph.select("src", "dst")),
        emb.limit(1), tau, k)
    }.getMessage.contains("cos_sim"))
    // …and a scored-but-unranked graph (r15 store) is its own
    // readable contract error on both paths (r16: surplus
    // maintenance needs the stored ranking and per-probe cap)
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticBestRetract(
        store.copy(graph = store.graph.select("src", "dst", "cos_sim")),
        rIds, tau, k)
    }.getMessage.contains("rnk"))
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticKeepersBestDelta(
        store.copy(graph = store.graph.select("src", "dst", "cos_sim")),
        emb.limit(1), tau, k)
    }.getMessage.contains("rnk"))
  }

  test("semanticBestRetract composes with the ingest in either order") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val k = 5
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val rIds = old.filter(col("vec_id") % 20 === 7).select("vec_id")
    val surv = emb.filter(!(col("vec_id") % 3 =!= 0 &&
      col("vec_id") % 20 === 7))
    val want = asn(Dedup.semanticKeepersBest(surv, tau, k))
    // the store is PERSISTED between passes (the production contract —
    // the registry reads every store back from parquet tables); it
    // also bounds the composed plan tree, which otherwise nests the
    // whole ingest pipeline inside every retract stage
    def roundTrip(st: Dedup.SemanticBestStore): Dedup.SemanticBestStore = {
      val dir = java.nio.file.Files.createTempDirectory("graft_sbr").toString
      st.bits.write.parquet(s"$dir/bits")
      st.graph.write.parquet(s"$dir/graph")
      st.assignment.write.parquet(s"$dir/asg")
      st.pairs.write.parquet(s"$dir/pairs")
      Dedup.SemanticBestStore(spark.read.parquet(s"$dir/bits"),
        spark.read.parquet(s"$dir/graph"), spark.read.parquet(s"$dir/asg"),
        spark.read.parquet(s"$dir/pairs"),
        st.tau, st.k, st.nTables, st.planesPerTable)
    }
    // ingest THEN retract
    val ing = Dedup.semanticKeepersBestDelta(
      Dedup.semanticBestStore(old, tau, k), delta, tau, k)
    assert(asn(Dedup.semanticBestRetract(roundTrip(ing.updatedStore),
      rIds, tau, k).assignment) == want)
    // retract THEN ingest
    val ret = Dedup.semanticBestRetract(
      Dedup.semanticBestStore(old, tau, k), rIds, tau, k)
    assert(asn(Dedup.semanticKeepersBestDelta(roundTrip(ret.updatedStore),
      delta, tau, k).assignment) == want)
  }

  test("semanticBestRetract: surplus decay stays exact across chained passes") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val k = 5
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val r1 = old.filter(col("vec_id") % 20 === 7).select("vec_id")
    val r2 = old.filter(col("vec_id") % 20 === 3).select("vec_id")
    def roundTrip(st: Dedup.SemanticBestStore): Dedup.SemanticBestStore = {
      val dir = java.nio.file.Files.createTempDirectory("graft_sbd").toString
      st.bits.write.parquet(s"$dir/bits")
      st.graph.write.parquet(s"$dir/graph")
      st.assignment.write.parquet(s"$dir/asg")
      st.pairs.write.parquet(s"$dir/pairs")
      Dedup.SemanticBestStore(spark.read.parquet(s"$dir/bits"),
        spark.read.parquet(s"$dir/graph"), spark.read.parquet(s"$dir/asg"),
        spark.read.parquet(s"$dir/pairs"),
        st.tau, st.k, st.nTables, st.planesPerTable)
    }
    def kslice(st: Dedup.SemanticBestStore): Set[(Long, Long, Int)] =
      st.graph.filter(col("rnk") <= k)
        .select(col("src"), col("dst"), col("rnk"))
        .as[(Long, Long, Int)].collect().toSet
    def checkStep(st: Dedup.SemanticBestStore, asg: DataFrame,
                  members: DataFrame): Unit = {
      assert(asn(asg) == asn(Dedup.semanticKeepersBest(members, tau, k)))
      assert(kslice(st) == kslice(Dedup.semanticBestStore(members, tau, k)))
    }
    // retract → retract-on-a-DECAYED-store → ingest-with-per-probe
    // caps → retract-after-the-capped-ingest: each step must keep
    // the pagerank slice exactly the fresh build's even though the
    // surplus region decays (the chain is where a bookkeeping slip —
    // treating a decayed list as full-depth, or an exhausted one as
    // decayed — would surface as a silently wrong election)
    val st0 = roundTrip(Dedup.semanticBestStore(old, tau, k))
    val s1 = Dedup.semanticBestRetract(st0, r1, tau, k)
    val m1 = old.join(r1, Seq("vec_id"), "left_anti")
    checkStep(s1.updatedStore, s1.assignment, m1)
    // the surplus must have actually decayed somewhere, or this test
    // exercises nothing
    assert(s1.updatedStore.graph.filter(col("cap") < 2 * k).count() > 0)
    val s2 = Dedup.semanticBestRetract(roundTrip(s1.updatedStore), r2, tau, k)
    val m2 = m1.join(r2, Seq("vec_id"), "left_anti")
    checkStep(s2.updatedStore, s2.assignment, m2)
    val s3 = Dedup.semanticKeepersBestDelta(roundTrip(s2.updatedStore),
      delta, tau, k)
    val m3 = m2.union(delta)
    checkStep(s3.updatedStore, s3.assignment, m3)
    val r3 = delta.filter(col("vec_id") % 12 === 0).select("vec_id")
    val s4 = Dedup.semanticBestRetract(roundTrip(s3.updatedStore), r3, tau, k)
    checkStep(s4.updatedStore, s4.assignment,
      m3.join(r3, Seq("vec_id"), "left_anti"))
    // and a takedown DEEPER than the surplus forces the bucket
    // re-rank path (lose > k of 2k stored edges): still exact
    val big = old.filter(col("vec_id") % 2 === 0).select("vec_id")
    val sBig = Dedup.semanticBestRetract(st0, big, tau, k)
    checkStep(sBig.updatedStore, sBig.assignment,
      old.join(big, Seq("vec_id"), "left_anti"))
  }

  test("semanticBestRetract: whole-cluster and keeper-only takedowns") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val k = 5
    val store = Dedup.semanticBestStore(emb, tau, k)
    // two multi-member clusters picked FROM the store, so the test
    // self-adapts to the data: retract EVERY member of the first
    // (the component vanishes — its re-closure sees an empty
    // survivor pair set and must leave no residue in any table) and
    // only the KEEPER of the second (the stored keep_id label dies
    // while members survive — the grouping must re-close and
    // re-elect without it). The hash-scattered main test is
    // unlikely to construct either shape deliberately.
    // collected ONCE, driver-side: deriving the takedown frame
    // lazily from store.assignment would nest the whole build
    // pipeline inside every retract-stage anti-join/broadcast (the
    // plan-tree explosion the composition test's parquet round trip
    // exists to avoid) — literal id frames keep the plans bounded
    val byKeeper = store.assignment.select(col("vec_id"), col("keep_id"))
      .as[(Long, Long)].collect().groupBy(_._2).filter(_._2.length >= 2)
    assert(byKeeper.size >= 2,
      s"need two multi-member clusters at tau=$tau, got ${byKeeper.size}")
    val ks = byKeeper.keys.toSeq.sorted
    val c1 = ks(0)
    val c2 = ks(1)
    val dead = byKeeper(c1).map(_._1).toSeq.sorted
    val rIds = (dead :+ c2).toDF("vec_id")
    val surv = emb.join(rIds, Seq("vec_id"), "left_anti")
    val r = Dedup.semanticBestRetract(store, rIds, tau, k)
    assert(asn(r.assignment) == asn(Dedup.semanticKeepersBest(surv, tau, k)))
    // the vanished component leaves nothing behind: no assignment
    // row, no graph edge at EITHER endpoint (cross-cluster kNN edges
    // into the dead ids must drop too), no pair row
    assert(r.updatedStore.assignment
      .filter(col("vec_id").isin(dead: _*)).count() == 0)
    assert(r.updatedStore.graph
      .filter(col("src").isin(dead: _*) || col("dst").isin(dead: _*))
      .count() == 0)
    assert(r.updatedStore.pairs
      .filter(col("id_a").isin(dead: _*) || col("id_b").isin(dead: _*))
      .count() == 0)
    // c2's surviving members re-elected a LIVE keeper — the dead
    // label cannot linger as anyone's keep_id
    assert(r.assignment.filter(col("keep_id") === c2).count() == 0)
    assert(r.updatedStore.assignment
      .filter(col("keep_id") === c2).count() == 0)
  }

  test("semanticRetract: affected-cluster rebuild equals the fresh survivor store") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val rIds = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    val surv = emb.filter(col("vec_id") % 5 =!= 0)
    val r = Dedup.semanticRetract(Dedup.semanticStore(emb, tau), rIds, emb)
    val fresh = Dedup.semanticStore(surv, tau)
    assert(stor2(r.updatedStore.assignment) == stor2(fresh.assignment))
    assert(asn(r.assignment) ==
      asn(Dedup.semanticKeepers(surv, tau)))
    // the reps tier matches the fresh build row-for-row: retracted
    // reps are gone, values whose rep was retracted re-elected their
    // min surviving member, unaffected reps are untouched
    def lshRows(s: Dedup.SemanticStore) = s.lsh.bucketed
      .select(col("vec_id"), col("table"), col("bucket"))
      .as[(Long, Int, Long)].collect().toSet
    assert(lshRows(r.updatedStore) == lshRows(fresh))
  }

  test("semanticRetract: removing a bridge vector splits its component") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 8) 1f else 0f)
    val b = v(i => if (i >= 8 && i < 16) 1f else 0f)
    val w = v(i => if (i < 16) 1f else 0f) // bridges a and b (cos ≈ 0.71)
    val all = Seq((5L, w), (10L, a), (11L, a), (20L, b), (21L, b))
      .toDF("vec_id", "embedding")
    val tau = 0.35
    val store = Dedup.semanticStore(all, tau)
    // one merged component labeled by the bridge (the min id)
    assert(stor2(store.assignment) == Set(5L -> 5L, 10L -> 5L, 11L -> 5L,
      20L -> 5L, 21L -> 5L))
    val r = Dedup.semanticRetract(store, Seq(5L).toDF("vec_id"), all)
    // the takedown splits the component back into A and B
    assert(asn(r.assignment) == Set((10L, 10L, 0), (11L, 10L, 1),
      (20L, 20L, 0), (21L, 20L, 1)))
  }

  test("semanticRetract composes with the ingest in either order") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val tau = 0.35
    val rIds = emb.filter(col("vec_id") % 5 === 0).select("vec_id")
    val surv = emb.filter(col("vec_id") % 5 =!= 0)
    // retract → ingest: re-admit the retracted VALUES under fresh ids
    // (the content-addressed shape) — known-value routing must resolve
    // against the re-elected reps, not the retracted ones
    val reAdmit = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val r1 = Dedup.semanticRetract(Dedup.semanticStore(emb, tau), rIds, emb)
    val g1 = Dedup.semanticKeepersDelta(r1.updatedStore, reAdmit)
    assert(stor2(g1.updatedStore.assignment) ==
      stor2(Dedup.semanticStore(
        surv.select(col("vec_id"), col("embedding")).union(reAdmit),
        tau).assignment))
    // ingest → retract: a store grown by a delta takes the takedown
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val grown = Dedup.semanticKeepersDelta(Dedup.semanticStore(old, tau),
      emb.filter(col("vec_id") % 3 === 0)).updatedStore
    val r2 = Dedup.semanticRetract(grown, rIds, emb)
    assert(stor2(r2.updatedStore.assignment) ==
      stor2(Dedup.semanticStore(surv, tau).assignment))
  }

  test("Dedup.cached releases every persist the bracket's operators took") {
    // a corpus no other test uses: CacheManager dedupes cache entries
    // by canonical plan, so reusing another test's data would make the
    // bracket share (and then release) that test's entry and the
    // count bookkeeping below would double-count.
    val mine = Seq(
      11L -> "cached bracket corpus first text",
      12L -> "cached bracket corpus first text",
      13L -> "cached bracket corpus second text entirely",
      111L -> "cached bracket corpus delta text one",
      112L -> "cached bracket corpus delta text one",
    )
    val sc = spark.sparkContext
    // track the bracket's NEW entry ids, not the global count: the
    // async ContextCleaner may reclaim earlier tests' orphaned
    // cache/checkpoint RDDs mid-test, deflating a raw size compare
    // (observed flaky after the r12 semantic-delta tests joined the
    // suite); id-set deltas are immune to concurrent removals of
    // other tests' garbage.
    val beforeIds = sc.getPersistentRDDs.keySet
    Dedup.cached {
      assert(Dedup.exact(docsDF(mine)).count() == mine.size)
      assert(Dedup.minhashLsh(docsDF(mine)).count() >= 1)
      val r = Dedup.exactDelta(
        Dedup.exactStore(docsDF(mine.filter(_._1 < 100))),
        docsDF(mine.filter(_._1 >= 100)))
      assert(r.assignment.count() == 2)
      // persists were live inside
      assert((sc.getPersistentRDDs.keySet -- beforeIds).nonEmpty)
    }
    // and all released on exit
    assert((sc.getPersistentRDDs.keySet -- beforeIds).isEmpty)
  }
}
