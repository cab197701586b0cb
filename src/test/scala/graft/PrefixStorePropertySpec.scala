package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.{Stored, VersionedStore}

/** Seeded generated-input properties of the prefix-filter store
  * family: the shingle store (containment and n-gram Jaccard, served
  * by ONE built store) and the item-Jaccard store. Each seed draws a
  * small random corpus A, an ingest batch B and a takedown set R ⊂ A,
  * with near-copies planted across and inside the batches so that
  * every seed yields pairs touching B under every measure (asserted,
  * so no property holds vacuously):
  *   - delta(build(A), B) ≡ the full run over A∪B restricted to pairs
  *     touching B, and its rows ≡ build(A∪B)'s rows;
  *   - retract(build(A), R) has build(A∖R)'s rows, and a following
  *     delta gives the same pairs on both;
  *   - an empty delta gives no pairs and leaves rows and prefix as
  *     they were;
  *   - re-ingesting the same batch gives the same pairs and the same
  *     rows and prefix (as multisets);
  *   - build(A) published through VersionedStore and read back by its
  *     store contract ingests and retracts like the in-memory store. */
class PrefixStorePropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  private val Seeds = Seq(11L, 29L)
  private val StoreTau = 0.7   // build threshold of every store
  private val ContainTau = 0.8 // containment queries run tighter
  private val JaccardTau = 0.7

  // letters only: the shingle tokenizer splits on non-letters
  private val vocab = for (x <- 'a' to 'e'; y <- 'a' to 'j') yield s"$x$y"

  /** 10 random base docs in A plus an end-edited near-copy and a
    * quote of two of them; B holds fresh docs, a near-copy and a quote
    * of A docs, a doc that contains an A doc, and a near-copy of one
    * of its own docs. R takes three A ids, one of them a copy. */
  private def corpus(seed: Long): PrefixStorePropertySpec.Corpus = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val ids = rnd.shuffle((1L to 200L).toList).take(20)
    val base = Seq.fill(10)(words(10 + rnd.nextInt(8)))
    val fresh = Seq.fill(3)(words(10 + rnd.nextInt(8)))
    val a = base ++ Seq(base(0) :+ "tail", base(1).take(8))
    val b = fresh ++ Seq(base(2) :+ "extra", base(3).take(9),
      words(4) ++ base(4) ++ words(3), fresh(0) :+ "again")
    val (aIds, bIds) = ids.splitAt(a.size)
    PrefixStorePropertySpec.Corpus(aIds.zip(a.map(_.mkString(" "))),
      bIds.zip(b.map(_.mkString(" "))), Set(aIds(5), aIds(7), aIds(10)))
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** (doc_id, s) item rows: each doc's word set. */
  private def items(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("s"))

  /** A frame as a sorted multiset of rendered rows. */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Each of a store's contract tables as a multiset, by name. */
  private def tables(st: Stored[_]): Map[String, Seq[String]] =
    st.tables.map { case (name, df) => name -> bag(df) }.toMap

  /** Rendered pairs whose first two columns touch `ids`. */
  private def touching(pairs: DataFrame, ids: Set[Long]): Seq[String] =
    pairs.collect()
      .filter(r => ids(r.getLong(0)) || ids(r.getLong(1)))
      .map(_.toSeq.mkString("|")).toSeq.sorted

  test("delta(build(A), B) == the full run over A ∪ B restricted to B, one store for both measures") {
    Seeds.foreach { seed => Dedup.cached {
      val c = corpus(seed)
      val (a, b, all) = (docs(c.a), docs(c.b), docs(c.a ++ c.b))
      val bIds = c.b.map(_._1).toSet
      val st = Dedup.shingleStore(a, 3, StoreTau)
      val cd = Dedup.containmentDelta(st, b, ContainTau)
      val jd = Dedup.ngramJaccardDelta(st, b, JaccardTau)
      val id = Dedup.itemJaccardDelta(
        Dedup.itemJaccardStore(items(a), StoreTau), items(b), JaccardTau)
      Seq(
        ("containment", cd.pairs, Dedup.containment(all, 3, ContainTau)),
        ("ngram jaccard", jd.pairs, Dedup.ngramJaccard(all, 3, JaccardTau)),
        ("item jaccard", id.pairs, Dedup.jaccardPairsOf(items(all), JaccardTau))
      ).foreach { case (measure, delta, full) =>
        val expected = touching(full, bIds)
        assert(expected.nonEmpty, s"seed $seed: no $measure pair touches B")
        assert(bag(delta) == expected, s"seed $seed: $measure")
      }
      assert(bag(cd.updatedStore.rows) == bag(Dedup.shingleStore(all, 3, StoreTau).rows))
      assert(bag(id.updatedStore.rows) ==
        bag(Dedup.itemJaccardStore(items(all), StoreTau).rows))
    }}
  }

  test("retract(build(A), R) == build(A \\ R), and a following delta agrees on both") {
    Seeds.foreach { seed => Dedup.cached {
      val c = corpus(seed)
      val (a, b) = (docs(c.a), docs(c.b))
      val surv = docs(c.a.filterNot(d => c.r(d._1)))
      val rIds = {
        import spark.implicits._
        c.r.toSeq.toDF("doc_id")
      }
      val ret = Dedup.prefixStoreRetract(Dedup.shingleStore(a, 3, StoreTau), rIds)
      val fresh = Dedup.shingleStore(surv, 3, StoreTau)
      assert(bag(ret.rows) == bag(fresh.rows), s"seed $seed: shingle rows")
      val iRet = Dedup.prefixStoreRetract(
        Dedup.itemJaccardStore(items(a), StoreTau), rIds)
      val iFresh = Dedup.itemJaccardStore(items(surv), StoreTau)
      assert(bag(iRet.rows) == bag(iFresh.rows), s"seed $seed: item rows")
      Seq(
        ("containment", Dedup.containmentDelta(ret, b, ContainTau).pairs,
          Dedup.containmentDelta(fresh, b, ContainTau).pairs),
        ("ngram jaccard", Dedup.ngramJaccardDelta(ret, b, JaccardTau).pairs,
          Dedup.ngramJaccardDelta(fresh, b, JaccardTau).pairs),
        ("item jaccard", Dedup.itemJaccardDelta(iRet, items(b), JaccardTau).pairs,
          Dedup.itemJaccardDelta(iFresh, items(b), JaccardTau).pairs)
      ).foreach { case (measure, afterRetract, afterFresh) =>
        val expected = bag(afterFresh)
        assert(expected.nonEmpty, s"seed $seed: no $measure pair after retract")
        assert(bag(afterRetract) == expected, s"seed $seed: $measure")
      }
    }}
  }

  test("an empty delta gives no pairs and leaves rows and prefix unchanged") {
    Seeds.foreach { seed => Dedup.cached {
      val a = docs(corpus(seed).a)
      val none = docs(Nil)
      val st = Dedup.shingleStore(a, 3, StoreTau)
      val ist = Dedup.itemJaccardStore(items(a), StoreTau)
      val cd = Dedup.containmentDelta(st, none, ContainTau)
      val jd = Dedup.ngramJaccardDelta(st, none, JaccardTau)
      val id = Dedup.itemJaccardDelta(ist, items(none), JaccardTau)
      Seq(cd.pairs, jd.pairs, id.pairs).foreach(p => assert(p.isEmpty))
      Seq(cd.updatedStore, jd.updatedStore).foreach { u =>
        assert(tables(u) == tables(st), s"seed $seed")
      }
      assert(tables(id.updatedStore) == tables(ist), s"seed $seed: items")
    }}
  }

  test("re-ingesting the same delta is idempotent: same pairs, same rows and prefix") {
    Seeds.foreach { seed => Dedup.cached {
      val c = corpus(seed)
      val (a, b) = (docs(c.a), docs(c.b))
      val st = Dedup.shingleStore(a, 3, StoreTau)
      val c1 = Dedup.containmentDelta(st, b, ContainTau)
      val c2 = Dedup.containmentDelta(c1.updatedStore, b, ContainTau)
      val j1 = Dedup.ngramJaccardDelta(st, b, JaccardTau)
      val j2 = Dedup.ngramJaccardDelta(j1.updatedStore, b, JaccardTau)
      val i1 = Dedup.itemJaccardDelta(
        Dedup.itemJaccardStore(items(a), StoreTau), items(b), JaccardTau)
      val i2 = Dedup.itemJaccardDelta(i1.updatedStore, items(b), JaccardTau)
      Seq(("containment", c1.pairs, c2.pairs, c1.updatedStore, c2.updatedStore),
        ("ngram jaccard", j1.pairs, j2.pairs, j1.updatedStore, j2.updatedStore),
        ("item jaccard", i1.pairs, i2.pairs, i1.updatedStore, i2.updatedStore)
      ).foreach { case (measure, p1, p2, s1, s2) =>
        val once = bag(p1)
        assert(once.nonEmpty, s"seed $seed: no $measure pair")
        assert(bag(p2) == once, s"seed $seed: $measure pairs")
        assert(tables(s2) == tables(s1), s"seed $seed: $measure tables")
      }
    }}
  }

  test("a published build(A), read back, ingests and retracts like the in-memory store") {
    Seeds.foreach { seed => Dedup.cached {
      val c = corpus(seed)
      val (a, b) = (docs(c.a), docs(c.b))
      val rIds = {
        import spark.implicits._
        c.r.toSeq.toDF("doc_id")
      }
      // `st` published through VersionedStore, read back by its contract
      def published[S <: Stored[S]](st: S): S = {
        val dir = java.nio.file.Files.createTempDirectory("graft_pfx").toString
        VersionedStore.write(dir, st.tables)
        VersionedStore.read(spark, dir, st).get
      }
      def same(got: Stored[_], want: Stored[_], what: String): Unit = {
        assert(tables(want).values.forall(_.nonEmpty), s"seed $seed: $what is empty")
        assert(tables(got) == tables(want), s"seed $seed: $what")
      }
      def shingles(s: Dedup.ShingleStore) = Dedup.prefixStoreRetract(
        Dedup.containmentDelta(s, b, ContainTau).updatedStore, rIds)
      val st = Dedup.shingleStore(a, 3, StoreTau)
      same(shingles(published(st)), shingles(st), "shingle store")
      def itemStore(s: Dedup.ItemJaccardStore) = Dedup.prefixStoreRetract(
        Dedup.itemJaccardDelta(s, items(b), JaccardTau).updatedStore, rIds)
      val ist = Dedup.itemJaccardStore(items(a), StoreTau)
      same(itemStore(published(ist)), itemStore(ist), "item store")
    }}
  }
}

object PrefixStorePropertySpec {
  final case class Corpus(a: Seq[(Long, String)], b: Seq[(Long, String)],
                          r: Set[Long])
}
