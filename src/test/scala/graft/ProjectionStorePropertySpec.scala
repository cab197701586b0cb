package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}
import graft.sources.{Stored, VersionedStore}

/** Seeded generated-input properties of the projection stores, whose
  * rows are per-doc or per-vector projections: MinHash, SimHash,
  * embedding LSH, IVF, PQ and IVF-PQ. Each seed draws a small random
  * corpus A, an ingest batch B and a takedown set R ⊂ A, for text and
  * for vectors, with exact and near copies planted across and inside
  * the batches so that every seed yields pairs touching B in each pair
  * family (asserted, so no property holds vacuously). With tables
  * compared as multisets and the quantized indexes rebuilt under the
  * stored quantizers:
  *   - ingest(build(A), B) ≡ build(A∪B);
  *   - retract(build(A), R) ≡ build(A∖R);
  *   - retract∘ingest ≡ ingest∘retract (R and B are disjoint);
  *   - an empty delta is the identity (and emits no pairs);
  *   - re-ingesting the same batch changes nothing (and emits the
  *     same pairs);
  *   - MinHash, SimHash and embedding LSH: the delta's pairs ≡ the full
  *     run's over A∪B restricted to pairs touching B;
  *   - build(A) published through VersionedStore and read back by its
  *     store contract ingests and retracts like the in-memory store. */
class ProjectionStorePropertySpec extends AnyFunSuite {
  import ProjectionStorePropertySpec._

  lazy val spark: SparkSession = SparkTestSession.get

  private val Seeds = Seq(5L, 23L)
  private val CosTau = 0.9
  private val Dim = 64

  // letters only: the shingle tokenizer splits on non-letters
  private val vocab = for (x <- 'a' to 'f'; y <- 'a' to 'j') yield s"$x$y"

  /** A: 12 random items, an exact copy and a near copy of two of them.
    * B: 4 fresh items, an exact and a near copy of A items, an exact
    * copy of one of its own. R: three A ids, one of them a copy. */
  private def draw[T](seed: Long, fresh: scala.util.Random => T,
                      near: (scala.util.Random, T) => T): Corpus[T] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 300L).toList).take(23)
    val base = Seq.fill(12)(fresh(rnd))
    val own = Seq.fill(4)(fresh(rnd))
    val a = base ++ Seq(base(0), near(rnd, base(1)))
    val b = own ++ Seq(base(2), near(rnd, base(3)), own(0))
    val (aIds, bIds) = ids.splitAt(a.size)
    Corpus(aIds.zip(a), bIds.zip(b), Set(aIds(5), aIds(9), aIds(12)))
  }

  private def texts(seed: Long): Corpus[String] =
    draw[String](seed,
      r => Seq.fill(12 + r.nextInt(6))(vocab(r.nextInt(vocab.size))).mkString(" "),
      (r, t) => t + " " + vocab(r.nextInt(vocab.size)))

  private def vectors(seed: Long): Corpus[Seq[Float]] =
    draw[Seq[Float]](seed,
      r => Seq.fill(Dim)(r.nextGaussian().toFloat),
      (r, v) => v.map(x => x + 0.01f * r.nextGaussian().toFloat))

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def embeddings(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def ids(name: String, rows: Set[Long]): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF(name)
  }

  /** A frame as a sorted multiset of rendered rows. */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Rendered pairs whose first two columns touch `ids`. */
  private def touching(pairs: DataFrame, ids: Set[Long]): Seq[String] =
    pairs.collect()
      .filter(r => ids(r.getLong(0)) || ids(r.getLong(1)))
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private val families: Seq[Family[_ <: Stored[_], _]] = Seq(
    Family[Dedup.MinHashStore, String]("minhash", "doc_id", texts, docs,
      Dedup.minhashStore(_), (_, all) => Dedup.minhashStore(all),
      (s, b) => Dedup.minhashLshDelta(s, b).updatedStore,
      Dedup.minhashStoreRetract,
      Some(Pairs((s, b) => Dedup.minhashLshDelta(s, b).pairs,
        Dedup.minhashLsh(_)))),
    Family[Stored.Table, String]("simhash", "doc_id", texts, docs,
      a => Stored.Table(Dedup.simhashStore(a)),
      (_, all) => Stored.Table(Dedup.simhashStore(all)),
      (s, b) => Stored.Table(Dedup.simhashDelta(s.frame, b).updatedStore),
      (s, r) => Stored.Table(Dedup.simhashStoreRetract(s.frame, r)),
      Some(Pairs((s, b) => Dedup.simhashDelta(s.frame, b).pairs, Dedup.simhash))),
    Family[Dedup.EmbeddingLshStore, Seq[Float]]("embedding lsh",
      "vec_id", vectors, embeddings,
      Dedup.embeddingLshStore(_), (s, all) => Dedup.embeddingLshStore(all,
        s.nTables, s.planesPerTable, s.dim),
      Dedup.embeddingLshStoreDelta, Dedup.embeddingLshStoreRetract,
      Some(Pairs((s, b) => Dedup.embeddingNearDupLshDelta(s, b, CosTau).pairs,
        Dedup.embeddingNearDupLsh(_, CosTau)))),
    Family[Similarity.IvfIndex, Seq[Float]]("ivf", "vec_id", vectors,
      embeddings, Similarity.ivfIndex(_, centroidMod = 4),
      (s, all) => Similarity.ivfIndexWith(all, s.centroids),
      Similarity.ivfDelta, Similarity.ivfRetract, None),
    Family[Similarity.PqIndex, Seq[Float]]("pq", "vec_id", vectors,
      embeddings, Similarity.pqIndex(_, seedMod = 3),
      (s, all) => Similarity.PqIndex(Similarity.pqCodes(
        all.select(col("vec_id"), col("embedding").as("v")), s.seeds), s.seeds),
      Similarity.pqDelta(_, _), Similarity.pqRetract, None),
    Family[Similarity.IvfPqIndex, Seq[Float]]("ivf-pq", "vec_id",
      vectors, embeddings,
      Similarity.ivfPqIndex(_, centroidMod = 4, seedMod = 3),
      (s, all) => Similarity.ivfPqIndexWith(all, s.centroids, s.seeds),
      Similarity.ivfPqDelta(_, _), Similarity.ivfPqRetract, None)
  )

  /** Runs `body` for every family and seed, with the seed's corpus as
    * frames, inside one cache bracket. */
  private def forAll(body: (Family[Stored[_], Any], Frames) => Unit): Unit =
    for (f <- families; seed <- Seeds) Dedup.cached {
      val fam = f.asInstanceOf[Family[Stored[_], Any]]
      val c = fam.corpus(seed)
      body(fam, Frames(seed, fam.frame(c.a), fam.frame(c.b),
        fam.frame(c.a ++ c.b), fam.frame(c.a.filterNot(r => c.r(r._1))),
        fam.frame(Nil), ids(fam.id, c.r), c.b.map(_._1).toSet))
    }

  private def sameTables(f: Family[Stored[_], Any], got: Stored[_],
                         want: Stored[_], what: String): Unit =
    got.tables.zip(want.tables).foreach { case ((name, g), (_, w)) =>
      val expected = bag(w)
      assert(expected.nonEmpty, s"${f.name}: table $name of $what is empty")
      assert(bag(g) == expected, s"${f.name}: table $name of $what")
    }

  /** `st` published through VersionedStore and read back by its store
    * contract: its table names, then `withTables` over the read-back. */
  private def published(st: Stored[_]): Stored[_] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_psp").toString
    VersionedStore.write(dir, st.tables)
    st.withTables(VersionedStore.read(spark, dir, st.tables.map(_._1)).get)
      .asInstanceOf[Stored[_]]
  }

  test("ingest(build(A), B) == build(A ∪ B), and its pairs are the full run's touching B") {
    forAll { (f, x) =>
      val grown = f.ingest(f.build(x.a), x.b)
      sameTables(f, grown, f.rebuild(grown, x.all), s"seed ${x.seed}")
      f.pairs.foreach { p =>
        val expected = touching(p.full(x.all), x.bIds)
        assert(expected.nonEmpty, s"${f.name} seed ${x.seed}: no pair touches B")
        assert(bag(p.delta(f.build(x.a), x.b)) == expected,
          s"${f.name} seed ${x.seed}: delta pairs")
      }
    }
  }

  test("retract(build(A), R) == build(A \\ R)") {
    forAll { (f, x) =>
      val built = f.build(x.a)
      sameTables(f, f.retract(built, x.r), f.rebuild(built, x.surv),
        s"seed ${x.seed}")
    }
  }

  test("retract∘ingest == ingest∘retract when R and B are disjoint") {
    forAll { (f, x) =>
      val built = f.build(x.a)
      sameTables(f, f.retract(f.ingest(built, x.b), x.r),
        f.ingest(f.retract(built, x.r), x.b), s"seed ${x.seed}")
    }
  }

  test("an empty delta is the identity") {
    forAll { (f, x) =>
      val built = f.build(x.a)
      sameTables(f, f.ingest(built, x.none), built, s"seed ${x.seed}")
      f.pairs.foreach { p =>
        assert(p.delta(built, x.none).isEmpty, s"${f.name} seed ${x.seed}")
      }
    }
  }

  test("a published build(A), read back, ingests and retracts like the in-memory store") {
    forAll { (f, x) =>
      val built = f.build(x.a)
      def chain(st: Stored[_]) = f.retract(f.ingest(st, x.b), x.r)
      sameTables(f, chain(published(built)), chain(built), s"seed ${x.seed}")
    }
  }

  test("re-ingesting the same delta is idempotent: same tables, same pairs") {
    forAll { (f, x) =>
      val once = f.ingest(f.build(x.a), x.b)
      sameTables(f, f.ingest(once, x.b), once, s"seed ${x.seed}")
      f.pairs.foreach { p =>
        val first = bag(p.delta(f.build(x.a), x.b))
        assert(first.nonEmpty, s"${f.name} seed ${x.seed}: no pair")
        assert(bag(p.delta(once, x.b)) == first,
          s"${f.name} seed ${x.seed}: re-ingest pairs")
      }
    }
  }
}

object ProjectionStorePropertySpec {
  final case class Corpus[T](a: Seq[(Long, T)], b: Seq[(Long, T)],
                             r: Set[Long])

  /** One seed's inputs as frames; `none` is the empty delta. */
  final case class Frames(seed: Long, a: DataFrame, b: DataFrame,
                          all: DataFrame, surv: DataFrame, none: DataFrame,
                          r: DataFrame, bIds: Set[Long])

  /** A pair family's ingest pairs and its batch run. */
  final case class Pairs[S](delta: (S, DataFrame) => DataFrame,
                            full: DataFrame => DataFrame)

  /** One store family: `rebuild(like, rows)` builds over `rows` under
    * `like`'s frozen parameters (geometry, quantizers); the store's
    * contract lists its tables. */
  final case class Family[S <: Stored[_], T](name: String, id: String,
                                              corpus: Long => Corpus[T],
                                              frame: Seq[(Long, T)] => DataFrame,
                                              build: DataFrame => S,
                                              rebuild: (S, DataFrame) => S,
                                              ingest: (S, DataFrame) => S,
                                              retract: (S, DataFrame) => S,
                                              pairs: Option[Pairs[S]])
}
