package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.VersionedStore

/** Seeded generated-input properties of the semantic-best store: sign
  * words, the kNN graph at surplus depth, the verified pair table and
  * the centrality election. Each seed draws a corpus A of near-copy
  * clusters (8, 8, 6, 6, 5 and 5 members) and singles, and an ingest
  * batch B with fresh vectors, a near and an exact copy of A members
  * and an exact copy of one of its own. The takedown R ⊂ A is planted
  * from build(A)'s graph so that every retract branch has rows: a
  * full list that loses more than k rows (re-score), a pool-exhausted
  * list that loses more than k rows (filter only), lists that lose
  * fewer (re-densify) and lists that lose none. Compared as multisets:
  * the assignment, the `rnk <= k` edges with their scores, the sign
  * words and the pairs.
  *   - ingest(build(A), B) ≡ build(A∪B);
  *   - retract(build(A), R) ≡ build(A∖R), every surviving graph row at
  *     its fresh rank;
  *   - retract∘ingest ≡ ingest∘retract ≡ build((A∪B)∖R);
  *   - re-ingesting B changes no table;
  *   - build(A) published through VersionedStore and read back by its
  *     store contract ingests and retracts like the in-memory store. */
class SemanticBestStorePropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val Seeds = Seq(5L, 23L)
  private val Tau = 0.9
  private val K = 3
  private val Dim = 64
  private val Depth = 2 * K

  private final case class Drawn(a: Seq[(Long, Seq[Float])],
                                 b: Seq[(Long, Seq[Float])])

  private def draw(seed: Long): Drawn = {
    val rnd = new scala.util.Random(seed)
    def fresh() = Seq.fill(Dim)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val a = Seq(8, 8, 6, 6, 5, 5).flatMap { n =>
      val c = fresh()
      c +: Seq.fill(n - 1)(near(c))
    } ++ Seq.fill(6)(fresh())
    val own = Seq.fill(3)(fresh())
    val b = own ++ Seq(near(a(0)), a(9), own(0))
    val ids = rnd.shuffle((1L to 500L).toList).take(a.size + b.size)
    Drawn(ids.take(a.size).zip(a), ids.drop(a.size).zip(b))
  }

  private def frame(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def build(rows: Seq[(Long, Seq[Float])]): Dedup.SemanticBestStore =
    materialize(Dedup.semanticBestStore(frame(rows), Tau, K))

  /** The store published through VersionedStore and read back by its
    * store contract, as a store cycle reads it. */
  private def materialize(st: Dedup.SemanticBestStore): Dedup.SemanticBestStore =
    VersionedStore.publish(spark,
      java.nio.file.Files.createTempDirectory("graft_sbp").toString, st)

  private def ingest(st: Dedup.SemanticBestStore,
                     rows: Seq[(Long, Seq[Float])]): Dedup.SemanticBestStore =
    materialize(Dedup.semanticKeepersBestDelta(st, frame(rows), Tau, K).updatedStore)

  private def retract(st: Dedup.SemanticBestStore,
                      r: Set[Long]): Dedup.SemanticBestStore =
    materialize(Dedup.semanticBestRetract(st, r.toSeq.toDF("vec_id"), Tau, K)
      .updatedStore)

  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** What each contract table is compared on: the graph's `rnk <= k`
    * edges with their scores (its surplus rows legitimately differ) and
    * every other table's columns. */
  private val compared: Map[String, DataFrame => DataFrame] = Map(
    "assignment" -> (_.select("vec_id", "keep_id", "is_dup")),
    "graph" -> (_.filter(col("rnk") <= K).select("src", "dst", "rnk", "cos_sim")),
    "bits" -> (_.select("vec_id", "bits")),
    "pairs" -> (_.select("id_a", "id_b")))

  private def tables(st: Dedup.SemanticBestStore): Seq[(String, Seq[String])] =
    st.tables.map { case (name, df) => name -> bag(compared(name)(df)) }

  private def same(got: Dedup.SemanticBestStore, want: Dedup.SemanticBestStore,
                   what: String): Unit =
    tables(got).zip(tables(want)).foreach { case ((name, g), (_, w)) =>
      assert(w.nonEmpty, s"$what: the rebuild's $name is empty")
      assert(g == w, s"$what: $name")
    }

  /** Stored graph rows as src → (dst, rnk, cap), in rank order. */
  private def lists(st: Dedup.SemanticBestStore): Map[Long, Seq[(Long, Int, Int)]] =
    st.graph.select("src", "dst", "rnk", "cap").as[(Long, Long, Int, Int)]
      .collect().toSeq.groupBy(_._1)
      .map { case (s, rows) => s -> rows.map(r => (r._2, r._3, r._4)).sortBy(_._2) }

  /** R: k+1 stored neighbors of a pool-exhausted probe with more than k
    * rows, k+1 stored neighbors of a full probe, one single. */
  private def plant(built: Dedup.SemanticBestStore, x: Drawn, seed: Long): Set[Long] = {
    val ls = lists(built)
    val exhausted = ls.collectFirst {
      case (p, rows) if rows.size > K && rows.size < rows.head._3 => p
    }.getOrElse(fail(s"seed $seed: no pool-exhausted probe with more than $K rows"))
    val r1 = ls(exhausted).take(K + 1).map(_._1).toSet
    val full = ls.collectFirst {
      case (q, rows) if rows.size == Depth && q != exhausted && !r1(q) &&
        !rows.exists(_._1 == exhausted) => q
    }.getOrElse(fail(s"seed $seed: no full probe apart from the exhausted one"))
    r1 ++ ls(full).take(K + 1).map(_._1) + x.a.last._1
  }

  /** Runs `body` for every seed inside one cache bracket. */
  private def forAll(body: (Long, Drawn) => Unit): Unit =
    for (seed <- Seeds) Dedup.cached(body(seed, draw(seed)))

  test("ingest(build(A), B) == build(A ∪ B)") {
    forAll { (seed, x) =>
      val grown = ingest(build(x.a), x.b)
      val bIds = x.b.map(_._1).toSet
      assert(grown.pairs.as[(Long, Long)].collect()
        .exists { case (a, b) => bIds(a) || bIds(b) }, s"seed $seed: no pair touches B")
      same(grown, build(x.a ++ x.b), s"seed $seed")
    }
  }

  test("retract(build(A), R) == build(A \\ R), with every retract branch taken") {
    forAll { (seed, x) =>
      val built = build(x.a)
      val r = plant(built, x, seed)
      // the branch each surviving probe takes, from the stored lists
      val before = lists(built).filter { case (p, _) => !r(p) }
      def lost(rows: Seq[(Long, Int, Int)]) = rows.count(e => r(e._1))
      def rescores(rows: Seq[(Long, Int, Int)]) =
        rows.size == rows.head._3 && rows.head._3 - lost(rows) < K
      val touched = before.filter { case (_, rows) => lost(rows) > 0 }
      val rescore = touched.filter { case (_, rows) => rescores(rows) }.keySet
      val decayed = touched.keySet -- rescore
      val exhaustedHeavy = touched.filter { case (_, rows) =>
        rows.size < rows.head._3 && rows.head._3 - lost(rows) < K }.keySet
      assert(before.size > touched.size, s"seed $seed: no untouched probe")
      assert(rescore.nonEmpty, s"seed $seed: no re-scored probe")
      assert(decayed.nonEmpty, s"seed $seed: no re-densified probe")
      assert(exhaustedHeavy.nonEmpty,
        s"seed $seed: no exhausted probe that loses more than its surplus")
      val tagged = Dedup.retractedGraph(built.graph, r.toSeq.toDF("vec_id"), K)
        .select("src", "rescore", "t").distinct().as[(Long, Boolean, Long)].collect()
      assert(tagged.filter(_._2).map(_._1).toSet == rescore, s"seed $seed: re-scored probes")
      assert(tagged.filter(_._3 > 0).map(_._1).toSet == touched.keySet,
        s"seed $seed: probes that lost rows")

      val shrunk = retract(built, r)
      val rebuilt = build(x.a.filterNot(e => r(e._1)))
      same(shrunk, rebuilt, s"seed $seed")
      def rows(st: Dedup.SemanticBestStore) = bag(st.graph.select("src", "dst", "rnk"))
      assert(rows(shrunk).toSet.subsetOf(rows(rebuilt).toSet),
        s"seed $seed: a surviving graph row left its fresh rank")
    }
  }

  test("retract∘ingest == ingest∘retract == build((A ∪ B) \\ R)") {
    forAll { (seed, x) =>
      val built = build(x.a)
      val r = plant(built, x, seed)
      val want = build((x.a ++ x.b).filterNot(e => r(e._1)))
      same(retract(ingest(built, x.b), r), want, s"seed $seed: retract∘ingest")
      same(ingest(retract(built, r), x.b), want, s"seed $seed: ingest∘retract")
    }
  }

  test("a published build(A), read back, ingests and retracts like the in-memory store") {
    forAll { (seed, x) =>
      val inMemory = Dedup.semanticBestStore(frame(x.a), Tau, K)
      val r = plant(inMemory, x, seed)
      def chain(st: Dedup.SemanticBestStore) = Dedup.semanticBestRetract(
        Dedup.semanticKeepersBestDelta(st, frame(x.b), Tau, K).updatedStore,
        r.toSeq.toDF("vec_id"), Tau, K).updatedStore
      same(chain(build(x.a)), chain(inMemory), s"seed $seed")
    }
  }

  test("re-ingesting the same batch changes no table") {
    forAll { (seed, x) =>
      val once = ingest(build(x.a), x.b)
      val twice = ingest(once, x.b)
      same(twice, once, s"seed $seed")
      assert(bag(twice.graph) == bag(once.graph), s"seed $seed: graph")
    }
  }
}
