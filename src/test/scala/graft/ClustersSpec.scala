package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Caps.withCaps
import graft.operators.Dedup

/** Connected-component clustering vs a reference union-find. */
class ClustersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain + islands resolve to min-id components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 20L))
    val got = Dedup.clusters(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("clusterCensus: size histogram with singleton row, hand-computed") {
    // components: {1,2,3,4} (size 4), {10,11} and {20,21} (size 2);
    // docs 30,31,32 in no pair → singleton row (1, 3, 3)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
    val docs = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 30L, 31L, 32L))
      .map(i => (i, s"text $i", "s")).toDF("doc_id", "text", "source")
    val got = Dedup.clusterCensus(docs, pairs.toDF("id_a", "id_b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((4L, 1L, 4L), (2L, 2L, 4L), (1L, 3L, 3L)))
    // no singletons → no size-1 row
    val all = docs.filter($"doc_id" <= 21L)
    val got2 = Dedup.clusterCensus(all, pairs.toDF("id_a", "id_b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((4L, 1L, 4L), (2L, 2L, 4L)))
  }

  test("clusterCensusOf over the composed assignment == raw pair census, copies included") {
    // byte copies + a near-dup pair + no-shingle docs: the composed
    // exact-first assignment must produce the identical histogram the
    // raw pairs-over-all-docs form reports
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s"),
      (2L, "the quick brown fox jumps over the lazy dog", "s"), // byte copy
      (3L, "the quick brown fox jumps over the lazy dog today", "s"), // near-dup
      (4L, "completely different text about something else entirely", "s"),
      (5L, "ab", "s"), // < n tokens: no shingles, can never pair
      (6L, "ab", "s"), // byte copy of a no-shingle doc (the guard case)
    ).toDF("doc_id", "text", "source")
    val tau = 0.5
    def census(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSet
    val raw = census(Dedup.clusterCensus(docs, Dedup.ngramJaccard(docs, 3, tau)))
    val composed = census(Dedup.clusterCensusOf(
      graft.operators.Corpus.nearDupAssignment(docs, 3, tau)))
    assert(composed == raw)
    assert(raw.exists(_._1 == 3L)) // the {1,2,3} cluster
    assert(raw.contains((1L, 3L, 3L))) // docs 4, 5, 6 all self-kept
  }

  test("null endpoints are ignored on both paths (r21)") {
    // a malformed pair row (null id) must contribute nothing — the
    // r20 driver fast path NPE'd on it while the loop dropped it
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null), (5L, 6L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L)
    val fast = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(fast == expected)
    val loop = withCaps("clusters.edge" -> "0")(
      Dedup.clusters(pairs).as[(Long, Long)].collect().toMap)
    assert(loop == expected)
  }

  test("a string id that casts to null is ignored on both paths") {
    // 'x' is not null until it is cast to long; filtering before the
    // cast failed the call (a cast error under ANSI, else an NPE in the
    // driver fast path's getLong)
    val pairs = Seq(("1", "2"), ("2", "3"), ("x", "4"), ("5", "6"))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    val fast = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val loop = withCaps("clusters.edge" -> "0")(
      Dedup.clusters(pairs).as[(Long, Long)].collect().toMap)
    assert(fast == loop)
    assert(fast == expected)
  }

  test("fast path past the local-relation cap returns identical labels (r21)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    // force the parallelized-dataset return
    val got = withCaps("clusters.local.relation" -> "0")(
      Dedup.clusters(pairs).as[(Long, Long)].collect().toMap)
    assert(got == expected)
  }

  test("random graphs match union-find") {
    val rnd = new scala.util.Random(7L)
    val pairs = Seq.fill(200) {
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val expected = unionFind(pairs)
    val got = Dedup.clusters(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("driver fast path == distributed loop on the same pair graph (r20)") {
    // chains (deep pointer-doubling), a merge-through-bridge, islands,
    // and duplicate/reversed pairs — run once under the default cap
    // (driver union-find) and once with the cap forced to 0 (the
    // pointer-doubling loop), and require identical labels
    val rnd = new scala.util.Random(41L)
    val chain = (0 until 64).map(i => (100L + i, 101L + i))
    val rand = Seq.fill(300) {
      val a = rnd.nextInt(90).toLong; val b = rnd.nextInt(90).toLong
      (a, b)
    }.filter(p => p._1 != p._2)
    val pairs = (chain ++ rand ++ Seq((89L, 100L), (500L, 501L), (501L, 500L)))
      .toDF("id_a", "id_b")
    val fast = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val loop = withCaps("clusters.edge" -> "0")(
      Dedup.clusters(pairs).as[(Long, Long)].collect().toMap)
    assert(fast == loop)
    // sanity: the bridged chain collapses into 89's component
    assert(fast(164L) == fast(89L))
  }

  test("quotient remap: moved labels identical with the edge cap at 0 and at its default") {
    // quotient-shaped: distinct long edges between labels, no self
    // edges, a chain whose min is not its first node, and a bridge
    val q = Seq((7L, 3L), (3L, 9L), (9L, 12L), (40L, 41L), (12L, 40L),
      (100L, 55L), (200L, 201L)).toDF("id_a", "id_b")
    def moved(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    def hinted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString.contains("ResolvedHint")
    val driver = Dedup.quotientRemap(q)
    val atDefault = moved(driver)
    val loop = withCaps("clusters.edge" -> "0")(Dedup.quotientRemap(q))
    val atZero = moved(loop)
    assert(atDefault == atZero)
    assert(atDefault == Set(7L -> 3L, 9L -> 3L, 12L -> 3L, 40L -> 3L,
      41L -> 3L, 100L -> 55L, 201L -> 200L))
    // a driver closure is broadcast; the loop's labels join plainly
    assert(hinted(driver) && !hinted(loop))
  }
}
