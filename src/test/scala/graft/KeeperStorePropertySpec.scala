package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal}
import graft.sources.{Stored, VersionedStore}

/** Seeded generated-input properties of the min-id keeper stores, which
  * keep a keeper table beside a members table: exact text and exact
  * payload ([[Dedup.ExactStore]]) and the paragraph store
  * ([[Dedup.ParagraphStore]]). Each seed draws a corpus A and an ingest
  * batch B with ids(B) > ids(A) (the append-only ingest, under which a
  * sticky keeper is the rebuild's), exact and paragraph copies planted
  * across A and B and inside B, and a takedown set R ⊂ A that removes a
  * keeper with surviving members, a non-keeper and the whole of a group
  * (asserted on every store, so no property holds vacuously). With
  * tables compared as multisets:
  *   - ingest(build(A), B) ≡ build(A∪B), and its assignment ≡ the batch
  *     run over A∪B restricted to B;
  *   - retract(build(A), R) ≡ build(A∖R);
  *   - retract∘ingest ≡ build((A∪B)∖R);
  *   - re-ingesting the same batch changes no table;
  *   - an empty delta is the identity;
  *   - build(A) published through VersionedStore and read back by its
  *     store contract ingests and retracts like the in-memory store. */
class KeeperStorePropertySpec extends AnyFunSuite {
  import KeeperStorePropertySpec._

  lazy val spark: SparkSession = SparkTestSession.get

  private val Seeds = Seq(7L, 31L)
  private val Span = 4

  // letters only: the span tokenizer splits on non-letters
  private val vocab = for (x <- 'a' to 'f'; y <- 'a' to 'j') yield s"$x$y"

  /** Docs are runs of Span-token chunks, so a shared chunk is a shared
    * paragraph. A: 8 docs drawn from a pool of 5 chunks, three exact
    * copies of a doc whose first chunk no other doc has, and a doc of
    * two fresh chunks. B: 3 pool docs, an exact copy of an A doc and two
    * exact copies of a new doc. R: the copy group's two smallest ids and
    * the fresh doc. */
  private def corpus(seed: Long): Corpus = {
    val rnd = new scala.util.Random(seed)
    def chunk(): String =
      Seq.fill(Span)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val pool = Seq.fill(5)(chunk())
    def poolDoc(): String =
      Seq.fill(1 + rnd.nextInt(3))(pool(rnd.nextInt(pool.size))).mkString(" ")
    val copied = (chunk() +: Seq.fill(rnd.nextInt(2))(poolDoc())).mkString(" ")
    val fresh = chunk() + " " + chunk()
    val a = Seq.fill(8)(poolDoc()) ++ Seq(copied, copied, copied, fresh)
    val newDoc = "%PDF-1.4 " + poolDoc() + " " + chunk()
    val b = Seq.fill(3)(poolDoc()) ++ Seq(a(rnd.nextInt(8)), newDoc, newDoc)
    val ids = rnd.shuffle((1L to 400L).toList).take(a.size + b.size).sorted
    val (aIds, bIds) = ids.splitAt(a.size)
    val aRows = rnd.shuffle(aIds).zip(a)
    val copyIds = aRows.collect { case (id, t) if t == copied => id }.sorted
    Corpus(aRows, bIds.zip(b),
      Set(copyIds(0), copyIds(1)) ++ aRows.collect { case (id, `fresh`) => id })
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** A frame as a sorted multiset of rendered rows. */
  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val families: Seq[Family[_ <: Stored[_]]] = Seq(
    Family[Dedup.ExactStore]("exact text", Dedup.exactStore,
      Dedup.exactDelta, (s, r) => Dedup.exactRetract(s, r).updatedStore,
      Dedup.exact),
    Family[Dedup.ExactStore]("exact payload", Multimodal.payloadStore,
      Multimodal.payloadDedupDelta,
      (s, r) => Multimodal.payloadRetract(s, r).updatedStore,
      Multimodal.payloadDedup),
    Family[Dedup.ParagraphStore]("paragraph", Dedup.paragraphStore(_, Span),
      Dedup.paragraphDelta, Dedup.paragraphRetract, Dedup.spanExact(_, Span))
  )

  /** Runs `body` for every family and seed, with the seed's corpus as
    * frames, inside one cache bracket. */
  private def forAll(body: (Family[Stored[_]], Frames) => Unit): Unit =
    for (f <- families; seed <- Seeds) Dedup.cached {
      val fam = f.asInstanceOf[Family[Stored[_]]]
      val c = corpus(seed)
      val surv = (c.a ++ c.b).filterNot(r => c.r(r._1))
      import spark.implicits._
      body(fam, Frames(seed, docs(c.a), docs(c.b), docs(c.a ++ c.b),
        docs(c.a.filterNot(r => c.r(r._1))), docs(surv), docs(Nil),
        c.r.toSeq.toDF("doc_id"), c.r, c.b.map(_._1).toSet))
    }

  private def sameTables(f: Family[Stored[_]], got: Stored[_], want: Stored[_],
                         what: String): Unit =
    got.tables.zip(want.tables).foreach { case ((name, g), (_, w)) =>
      val expected = bag(w)
      assert(expected.nonEmpty, s"${f.name}: table $name of $what is empty")
      assert(bag(g) == expected, s"${f.name}: table $name of $what")
    }

  /** `st` published through VersionedStore and read back by its store
    * contract: its table names, then `withTables` over the read-back. */
  private def published(st: Stored[_]): Stored[_] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ksp").toString
    VersionedStore.write(dir, st.tables)
    st.withTables(VersionedStore.read(spark, dir, st.tables.map(_._1)).get)
      .asInstanceOf[Stored[_]]
  }

  test("R takes a keeper with survivors, a non-keeper and a whole group") {
    forAll { (f, x) =>
      // members: doc_id first, fp last; keepers: fp, then the keeper doc
      val tables = f.build(x.a).tables.toMap
      val (keepers, members) = (tables("keepers"), tables("members"))
      val keeperOf = keepers.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val docsOf = members.collect()
        .groupBy(r => r.getString(r.length - 1))
        .map { case (fp, rs) => fp -> rs.map(_.getLong(0)).toSet }
      val what = s"${f.name} seed ${x.seed}"
      assert(docsOf.exists { case (fp, ds) =>
        x.rIds(keeperOf(fp)) && !ds.subsetOf(x.rIds) }, s"$what: no keeper")
      assert(docsOf.exists { case (fp, ds) =>
        (ds - keeperOf(fp)).exists(x.rIds) }, s"$what: no non-keeper")
      assert(docsOf.values.exists(_.subsetOf(x.rIds)), s"$what: no emptied group")
    }
  }

  test("ingest(build(A), B) == build(A ∪ B), and its assignment is the batch run's over B") {
    forAll { (f, x) =>
      val d = f.ingest(f.build(x.a), x.b)
      sameTables(f, d.updatedStore, f.build(x.all), s"seed ${x.seed}")
      val expected = bag(f.full(x.all).filter(col("doc_id").isin(x.bIds.toSeq: _*)))
      assert(expected.nonEmpty && bag(d.assignment) == expected,
        s"${f.name} seed ${x.seed}: assignment")
    }
  }

  test("retract(build(A), R) == build(A \\ R)") {
    forAll { (f, x) =>
      sameTables(f, f.retract(f.build(x.a), x.r), f.build(x.aSurv),
        s"seed ${x.seed}")
    }
  }

  test("retract∘ingest == build((A ∪ B) \\ R)") {
    forAll { (f, x) =>
      sameTables(f, f.retract(f.ingest(f.build(x.a), x.b).updatedStore, x.r),
        f.build(x.surv), s"seed ${x.seed}")
    }
  }

  test("re-ingesting the same batch changes no table") {
    forAll { (f, x) =>
      val once = f.ingest(f.build(x.a), x.b).updatedStore
      sameTables(f, f.ingest(once, x.b).updatedStore, once, s"seed ${x.seed}")
    }
  }

  test("a published build(A), read back, ingests and retracts like the in-memory store") {
    forAll { (f, x) =>
      val built = f.build(x.a)
      def chain(st: Stored[_]) = f.retract(f.ingest(st, x.b).updatedStore, x.r)
      sameTables(f, chain(published(built)), chain(built), s"seed ${x.seed}")
    }
  }

  test("an empty delta is the identity") {
    forAll { (f, x) =>
      val built = f.build(x.a)
      val d = f.ingest(built, x.none)
      sameTables(f, d.updatedStore, built, s"seed ${x.seed}")
      assert(d.assignment.isEmpty, s"${f.name} seed ${x.seed}")
    }
  }
}

object KeeperStorePropertySpec {
  final case class Corpus(a: Seq[(Long, String)], b: Seq[(Long, String)],
                          r: Set[Long])

  /** One seed's inputs as frames: `aSurv` = A∖R, `surv` = (A∪B)∖R,
    * `none` the empty delta. */
  final case class Frames(seed: Long, a: DataFrame, b: DataFrame,
                          all: DataFrame, aSurv: DataFrame, surv: DataFrame,
                          none: DataFrame, r: DataFrame, rIds: Set[Long],
                          bIds: Set[Long])

  /** One store family, whose contract lists its keepers and members
    * tables; `full` is the batch assignment the ingest must reproduce
    * over B. */
  final case class Family[S <: Stored[_]](name: String, build: DataFrame => S,
      ingest: (S, DataFrame) => Dedup.AssignmentDelta[S],
      retract: (S, DataFrame) => S, full: DataFrame => DataFrame)
}
