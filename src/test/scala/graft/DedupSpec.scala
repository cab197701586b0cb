package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Exactness checks for the hash-sketch dedup paths that have no SQL
  * oracle (minhash, simhash): near-dup pairs must be found, unrelated
  * docs must not pair, and reported scores must be exact. */
class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  // Two near-identical docs (one word changed), one unrelated doc,
  // one exact duplicate of doc 1.
  val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon")
  def docs = Seq(
    (1L, base, "s"),
    (2L, base.replace("theta", "THETA"), "s"), // case change only → same tokens
    (3L, base.replace("iota kappa", "iota hacked"), "s"),
    (4L, "completely different words entirely unrelated content here now", "s"),
  ).toDF("doc_id", "text", "source")

  test("paragraphExact: shared boilerplate paragraphs dedup to their first occurrence") {
    // a license block repeated across docs at different positions —
    // the sub-document duplication whole-doc dedup can't see
    val lic = "licensed under the apache license version two"
    val pdocs = Seq(
      (0L, "repeated inside\nmiddle part\nrepeated inside"), // in-doc dup
      (1L, s"intro paragraph one\n$lic\nbody of doc one"),
      (2L, s"$lic\nentirely different body"),
      (3L, "no boilerplate at all here"),
      (4L, s"   \n$lic"), // whitespace-only block dropped, slot kept
      (5L, null.asInstanceOf[String]), // null text: no paragraph rows
    ).toDF("doc_id", "text")
    val r = Dedup.paragraphExact(pdocs)
      .as[(Long, Long, Long, Long, Int)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4), x._5)).toMap
    // license occurrences: keeper is (1, 1); later occurrences flagged
    assert(r((1L, 1L)) == (((1L, 1L), 0)))
    assert(r((2L, 0L)) == (((1L, 1L), 1)))
    assert(r((4L, 1L)) == (((1L, 1L), 1))) // para_idx keeps the split slot
    // unique paragraphs keep themselves; doc 5 and blanks emit nothing
    assert(r((3L, 0L)) == (((3L, 0L), 0)))
    assert(!r.contains((4L, 0L)) && !r.keySet.exists(_._1 == 5L))
    // the rewrite contract: dropping is_dup=1 leaves each distinct
    // paragraph exactly once
    val kept = r.toList.collect { case (occ, (_, 0)) => occ }
    assert(kept.size == r.values.map(_._1).toSet.size)
    // the rewrite EXECUTED: boilerplate stripped, position order kept
    val rw = Dedup.paragraphRewrite(pdocs)
      .as[(Long, Long, Long, String)].collect().map(x => x._1 -> x).toMap
    assert(rw(1L) == ((1L, 3L, 3L,
      s"intro paragraph one\n$lic\nbody of doc one")))
    assert(rw(2L) == ((2L, 2L, 1L, "entirely different body")))
    assert(rw(3L) == ((3L, 1L, 1L, "no boilerplate at all here")))
    assert(rw(4L) == ((4L, 1L, 0L, ""))) // its only paragraph was a dup
    assert(!rw.contains(5L))
    // IN-DOC repetition: the first occurrence keeps, the later one
    // drops, order of the survivors preserved
    assert(r((0L, 0L)) == (((0L, 0L), 0)) && r((0L, 2L)) == (((0L, 0L), 1)))
    assert(rw(0L) == ((0L, 3L, 2L, "repeated inside\nmiddle part")))
  }

  test("spanExact: fixed token windows, exact-dup docs share every span") {
    // 40 DISTINCT letter-only tokens (digits are token separators) → 3 spans
    val a = (0 until 40)
      .map(i => s"tok${('a' + i % 26).toChar}${('a' + i / 26).toChar}")
      .mkString(" ")
    val sdocs = Seq((10L, a), (20L, a), (30L, "tiny doc")).toDF("doc_id", "text")
    val r = Dedup.spanExact(sdocs, 16)
      .as[(Long, Long, Long, Long, Int)].collect()
    val byDoc = r.groupBy(_._1)
    assert(byDoc(10L).length == 3 && byDoc(20L).length == 3
      && byDoc(30L).length == 1)
    // doc 20's spans all point at doc 10's same-index spans
    byDoc(20L).foreach { case (_, idx, kd, ki, dup) =>
      assert(kd == 10L && ki == idx && dup == 1)
    }
    byDoc(10L).foreach { case (_, idx, kd, ki, dup) =>
      assert(kd == 10L && ki == idx && dup == 0)
    }
  }

  test("minhash+LSH finds near-dup pairs and verifies with exact jaccard") {
    val pairs = Dedup.minhashLsh(docs, n = 3, tau = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L))) // identical token streams
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated never pairs
    val j12 = Dedup.minhashLsh(docs, n = 3, tau = 0.5)
      .filter("id_a = 1 AND id_b = 2").as[(Long, Long, Double)].head()._3
    assert(j12 == 1.0) // exact jaccard on identical shingle sets
  }

  test("simhash: identical docs at hamming 0, near-dups within 3, unrelated out") {
    val pairs = Dedup.simhash(docs)
      .as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 0) // same token multiset → same sketch
    assert(!m.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("exact dedup maps duplicates to the smallest doc_id") {
    val dupDocs = Seq((10L, "x y z", "s"), (11L, "x y z", "s"),
      (12L, "other", "s")).toDF("doc_id", "text", "source")
    val m = Dedup.exact(dupDocs).as[(Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(10L) == (10L, 0) && m(11L) == (10L, 1) && m(12L) == (12L, 0))
  }

  test("keepBest elects the highest-scoring cluster member, min id on ties") {
    // cluster {1,2,3} via pairs (1,2),(2,3): best score 50 tied by 2
    // and 3 -> keeper 2; singleton 4 keeps itself; null score loses
    val docs = Seq((1L, Some(10L)), (2L, Some(50L)), (3L, Some(50L)),
      (4L, Some(7L)), (5L, None))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 5L)).toDF("id_a", "id_b")
    val m = Dedup.keepBest(docs, pairs,
      org.apache.spark.sql.functions.col("score"))
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(m == Map(
      1L -> (2L, 1), 2L -> (2L, 0), 3L -> (2L, 1), 5L -> (2L, 1),
      4L -> (4L, 0)))
  }

  test("keepBestDedup: exact-first composition maps every copy to the cluster's best") {
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val t2 = t1 + " w11" // J(t1,t2) = 8/9 >= 0.8: a near-dup, longer
    val docs = Seq(
      (1L, t1, t1.length.toLong), (2L, t1, t1.length.toLong), // byte copies
      (3L, t2, t2.length.toLong),                             // the best version
      (4L, "x y z", 5L)                                       // unrelated singleton
    ).toDF("doc_id", "text", "n_chars")
    val m = Dedup.keepBestDedup(docs, 3, 0.8,
      org.apache.spark.sql.functions.col("n_chars"))
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // exact collapses {1,2}->1; keepers {1,3,4}; pair (1,3); cluster
    // best = 3 (longer); every copy of t1 maps to 3
    assert(m == Map(
      1L -> (3L, 1), 2L -> (3L, 1), 3L -> (3L, 0), 4L -> (4L, 0)))
  }

  test("prefix filtering kills the corpus-common-shingle candidate flood, losslessly") {
    // 120 docs that all end with the same boilerplate phrase: under
    // raw-shingle blocking every pair shares the boilerplate 3-grams,
    // so candidate generation forms one 120-doc bucket → 7140 pairs to
    // verify, none of which reach tau. Under prefix filtering the
    // boilerplate shingles have df=120, sort LAST in the global
    // (df, shingle) order, and never enter any doc's ⌈(1−τ)sz⌉+1
    // prefix — zero flood candidates. A genuine near-dup pair (one
    // word changed) must still be found: lossless, not lossy.
    def L(k: Int) = ('a' + k).toChar
    val boiler = "please read our full terms of service agreement right now"
    val flood = (0 until 120).map { i =>
      val uniq = (0 until 12).map(j => s"x${L(i / 26)}${L(i % 26)}${L(j)}")
      (i.toLong, uniq.mkString(" ") + " " + boiler, "s")
    }
    val base = (0 until 40).map(j => s"near${L(j / 26)}${L(j % 26)}").mkString(" ")
    val nearDup = Seq(
      (200L, base, "s"),
      (201L, base.replace("nearau", "changed"), "s"))
    val corpus = (flood ++ nearDup).toDF("doc_id", "text", "source")
    val cand = Dedup.ngramJaccardCandidates(corpus, 3, 0.8)
      .as[(Long, Long, Long, Long)].collect()
    assert(cand.map(p => (p._1, p._2)).toSet == Set((200L, 201L)),
      s"expected only the near-dup candidate, got ${cand.length} pairs")
    val pairs = Dedup.ngramJaccard(corpus, 3, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1 && pairs.head._1 == 200L &&
      pairs.head._2 == 201L && pairs.head._3 >= 0.8)
  }

  test("prefix-filtered jaccard == exhaustive local jaccard on fuzzed corpora") {
    // Seeded fuzz: a small vocabulary forces heavy shingle collisions
    // (the regime where a lossy blocking would drop pairs). The
    // distributed prefix-filtered pipeline must equal an exhaustive
    // all-pairs computation done locally, at several thresholds.
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    Seq(0.5, 0.7, 0.9).foreach { tau =>
      val corpus = (0 until 40).map { i =>
        val len = 5 + rnd.nextInt(25)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
      }
      val got = Dedup.ngramJaccard(
          corpus.toDF("doc_id", "text", "source"), 3, tau)
        .as[(Long, Long, Double)].collect().toSet
      val sets = corpus.map { case (id, text, _) =>
        id -> text.split(" ").sliding(3).map(_.mkString(" ")).toSet
      }.toMap
      val want = (for {
        a <- sets.keys; b <- sets.keys
        if a < b && sets(a).nonEmpty && sets(b).nonEmpty
        inter = (sets(a) & sets(b)).size
        j = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if j >= tau
      } yield (a, b, j)).toSet
      assert(got == want, s"tau=$tau: got ${got.size}, want ${want.size}")
    }
  }

  test("containment finds the embedded-doc case symmetric Jaccard misses") {
    val quote = "alpha beta gamma delta eps zeta eta theta"
    val page = quote + " " + (1 to 40).map(i => s"filler word$i extra").mkString(" ")
    val docs = Seq(
      (1L, quote, "s"),   // fully contained in doc 2
      (2L, page, "s"),
      (3L, "totally unrelated text about nothing shared", "s"),
    ).toDF("doc_id", "text", "source")
    val c = Dedup.containment(docs, 3, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(c.toSeq == Seq((1L, 2L, 1.0))) // A→B only; B is not in A
    // symmetric Jaccard cannot see it: J <= |A|/|B| << 0.8
    assert(Dedup.ngramJaccard(docs, 3, 0.8).count() == 0)
  }

  test("prefix-filtered containment == exhaustive local containment on fuzzed corpora") {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    Seq(0.5, 0.7, 0.9).foreach { tau =>
      val corpus = (0 until 40).map { i =>
        val len = 5 + rnd.nextInt(25)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
      }
      val got = Dedup.containment(
          corpus.toDF("doc_id", "text", "source"), 3, tau)
        .as[(Long, Long, Double)].collect().toSet
      val sets = corpus.map { case (id, text, _) =>
        id -> text.split(" ").sliding(3).map(_.mkString(" ")).toSet
      }.toMap
      val want = (for {
        a <- sets.keys; b <- sets.keys
        if a != b && sets(a).nonEmpty && sets(b).nonEmpty
        inter = (sets(a) & sets(b)).size
        cont = inter.toDouble / sets(a).size
        if cont >= tau
      } yield (a, b, cont)).toSet
      assert(got == want, s"tau=$tau: got ${got.size}, want ${want.size}")
    }
  }

  test("exact dedup survives a 90%-duplicate corpus (hot fingerprint)") {
    // 9000 copies of one boilerplate doc + 1000 distinct docs — the
    // skew shape the groupBy+join-back path exists for. Every copy
    // must map to the smallest copy's id; distinct docs keep themselves.
    val hot = (0L until 9000L).map(i => (i, "empty boilerplate page", "s"))
    val cold = (9000L until 10000L).map(i => (i, s"unique content $i", "s"))
    val corpus = (hot ++ cold).toDF("doc_id", "text", "source")
    val out = Dedup.exact(corpus).as[(Long, Long, Int)].collect()
    assert(out.length == 10000)
    val (hotRows, coldRows) = out.partition(_._1 < 9000L)
    assert(hotRows.forall(_._2 == 0L))
    assert(hotRows.count(_._3 == 1) == 8999)
    assert(coldRows.forall(r => r._2 == r._1 && r._3 == 0))
  }

  test("boilerplate report: top repeated spans with occurrence and doc counts") {
    // letter-only words (the tokenizer drops digits): one exact span
    val block = (0 until 16).map(i => s"term${('a' + i).toChar}").mkString(" ")
    val docs = Seq(
      (1L, block + " unique alpha tail words here", "s"),
      (2L, block + " different beta ending text now", "s"),
      (3L, block, "s"),                       // block only
      (4L, "totally unrelated document body text", "s"),
    ).toDF("doc_id", "text", "source")
    val out = Dedup.boilerplate(docs, spanTokens = 16, topK = 5)
      .as[(String, Long, Long, String)].collect()
    // the shared first span is the only repeated one: 3 occurrences
    // across 3 docs; singleton spans (tails, doc 4) never qualify
    assert(out.length == 1)
    assert(out.head._2 == 3L && out.head._3 == 3L && out.head._4 == block)
    // within-doc repetition counts occurrences but one doc
    val selfRep = Seq((9L, block + " " + block, "s"))
      .toDF("doc_id", "text", "source")
    val rep = Dedup.boilerplate(selfRep, 16, 5)
      .as[(String, Long, Long, String)].collect()
    assert(rep.length == 1 && rep.head._2 == 2L && rep.head._3 == 1L)
  }

  test("cross-table jaccard == union self-join restricted to cross pairs") {
    // Seeded fuzz over a tiny vocabulary (heavy shingle collisions):
    // the two-table prefix blocking must equal the proven self-join
    // form run on the union, keeping exactly the A x B pairs.
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def mk(ids: Range) = ids.map { i =>
      val len = 5 + rnd.nextInt(20)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
    }
    val aRows = mk(0 until 30)
    // plant two guaranteed cross near-dups: an exact copy of a's doc 0
    // and a one-word extension of a's doc 1
    val bRows = mk(100 until 118) ++ Seq(
      (118L, aRows(0)._2, "s"),
      (119L, aRows(1)._2 + " alpha beta", "s"))
    val a = aRows.toDF("doc_id", "text", "source")
    val b = bRows.toDF("doc_id", "text", "source")
    Seq(0.5, 0.8).foreach { tau =>
      val cross = Dedup.ngramJaccardCross(a, b, 3, tau)
        .as[(Long, Long, Double)].collect().toSet
      val viaUnion = Dedup.ngramJaccard(a.union(b), 3, tau)
        .as[(Long, Long, Double)].collect().toSet
        .filter(p => p._1 < 100L && p._2 >= 100L)
      assert(cross == viaUnion, s"tau=$tau")
      assert(cross.exists(p => p._1 == 0L && p._2 == 118L && p._3 == 1.0))
    }
  }
}
