package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedCatalogStore
import graft.sources.VersionedCatalogStore.TableSpec

/** r20 (VERDICT r19 item #4) — the catalog-table sibling of
  * VersionedStoreSpec: same atomicity/concurrency/reclaim contract,
  * metastore primitives in place of filesystem ones (CREATE TABLE as
  * the claim test-and-set, CREATE OR REPLACE VIEW as the pointer
  * move), PLUS the one property the path layout cannot offer — the
  * published tables keep their bucket spec, so store-side joins stay
  * shuffle-free across versions. */
class VersionedCatalogStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  /** Each test owns a prefix; scrub BOTH the catalog entries and any
    * stale warehouse locations an aborted prior run left behind (the
    * ScaleShapeSpec discipline — catalog state dies with the JVM, the
    * files do not). */
  private def fresh(prefix: String): String = {
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix + "_"))
      .foreach { t =>
        if (spark.catalog.getTable(t).tableType == "VIEW")
          spark.sql(s"DROP VIEW IF EXISTS $t")
        else spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    Option(new java.io.File("spark-warehouse").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix + "_"))
      .foreach(f => scala.reflect.io.Directory(f).deleteRecursively())
    prefix
  }

  private def table(n: Int) =
    (0 until n).map(i => (i.toLong, s"row$i")).toDF("id", "v")

  private def spec(name: String, n: Int) =
    TableSpec(name, table(n), "id", 4)

  private def ids(tbl: String): Set[Long] =
    spark.table(tbl).select("id").as[Long].collect().toSet

  private def claimSql(p: String, v: String): Unit = {
    spark.sql(s"CREATE TABLE ${p}_${v}_claim (nonce INT) USING PARQUET")
    spark.sql(s"ALTER TABLE ${p}_${v}_claim SET TBLPROPERTIES " +
      s"('graft.claim.ts'='${System.currentTimeMillis()}')")
  }

  test("write publishes all tables atomically; resolve returns them in order") {
    val p = fresh("vcs_basic")
    assert(VersionedCatalogStore.resolve(spark, p, Seq("a", "b")).isEmpty)
    val names = VersionedCatalogStore.write(spark, p,
      Seq(spec("a", 3), spec("b", 5)))
    assert(names == Seq(s"${p}_v00001_a", s"${p}_v00001_b"))
    val live = VersionedCatalogStore.resolve(spark, p, Seq("a", "b")).get
    assert(live == names)
    assert(ids(live.head) == Set(0L, 1L, 2L) && ids(live(1)).size == 5)
    // a clean publish leaves no claim table behind
    assert(!spark.catalog.tableExists(s"${p}_v00001_claim"))
  }

  test("a pointer naming an incomplete version resolves to None, not half-served") {
    val p = fresh("vcs_incomplete")
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 2), spec("b", 2)))
    spark.sql(s"DROP TABLE ${p}_v00001_b") // external mutilation
    assert(VersionedCatalogStore.resolve(spark, p, Seq("a", "b")).isEmpty,
      "a version missing any declared table must resolve to None")
  }

  test("promotion retains the superseded version for one reader-grace generation") {
    val p = fresh("vcs_grace")
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 1)))
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 2)))
    assert(spark.catalog.tableExists(s"${p}_v00001_a"),
      "the immediately prior version must survive (a reader may be mid-scan)")
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 3)))
    assert(spark.catalog.tableExists(s"${p}_v00002_a"))
    assert(!spark.catalog.tableExists(s"${p}_v00001_a"),
      "two-generations-old versions reclaim")
    assert(ids(VersionedCatalogStore.resolve(spark, p, Seq("a")).get.head)
      .size == 3)
  }

  test("a crashed writer's claimless orphan is skipped and reclaimed") {
    val p = fresh("vcs_orphan")
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 3)))
    // crash simulation: a writer died after landing ONE table with
    // neither claim (dropped by nothing — it never claimed through
    // the API in this simulation of pre-claim debris) nor pointer
    table(9).write.bucketBy(4, "id").sortBy("id")
      .saveAsTable(s"${p}_v00002_a")
    // readers still see v1
    assert(ids(VersionedCatalogStore.resolve(spark, p, Seq("a")).get.head)
      == Set(0L, 1L, 2L))
    // the next write claims PAST the orphan and reclaims it
    val names = VersionedCatalogStore.write(spark, p, Seq(spec("a", 4)))
    assert(names.head == s"${p}_v00003_a",
      "a retry must never reuse a half-written version number")
    assert(!spark.catalog.tableExists(s"${p}_v00002_a"),
      "claimless orphan debris reclaims after promotion")
    assert(ids(VersionedCatalogStore.resolve(spark, p, Seq("a")).get.head)
      .size == 4)
  }

  test("two INTERLEAVED writers land distinct complete versions; a racer's " +
    "publish inside X's claimed window sweeps nothing") {
    val p = fresh("vcs_race")
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 1), spec("b", 1)))
    // writer X claims v00002 with the REAL claim shape (claim table +
    // fresh heartbeat) and has landed ONE of its two tables
    claimSql(p, "v00002")
    table(9).write.bucketBy(4, "id").sortBy("id")
      .saveAsTable(s"${p}_v00002_a")
    // writer Y's FULL write() runs inside X's window
    val yNames = VersionedCatalogStore.write(spark, p,
      Seq(spec("a", 5), spec("b", 5)))
    assert(yNames.head == s"${p}_v00003_a",
      "a concurrent claim must advance past the other writer's version")
    assert(spark.catalog.tableExists(s"${p}_v00002_a") &&
      spark.catalog.tableExists(s"${p}_v00002_claim"),
      "cleanup must not sweep a concurrent writer's live-claimed version")
    assert(ids(VersionedCatalogStore.resolve(spark, p, Seq("a", "b")).get
      .head).size == 5)
    // X completes with the r20 ordering: lands its second table,
    // promotes, THEN drops its claim — store resolvable throughout
    table(9).write.bucketBy(4, "id").sortBy("id")
      .saveAsTable(s"${p}_v00002_b")
    spark.sql(s"CREATE OR REPLACE VIEW ${p}_pointer AS SELECT 'v00002' AS v")
    assert(ids(VersionedCatalogStore.resolve(spark, p, Seq("a", "b")).get
      .head).size == 9,
      "the store must resolve in the promoted-but-still-claimed instant")
    spark.sql(s"DROP TABLE ${p}_v00002_claim")
    // both versions individually complete; X's pointer DDL won
    assert(ids(s"${p}_v00002_a") == ids(s"${p}_v00002_b"))
    assert(ids(s"${p}_v00003_a") == ids(s"${p}_v00003_b"))
    // the next writer claims past both
    val zNames = VersionedCatalogStore.write(spark, p,
      Seq(spec("a", 7), spec("b", 7)))
    assert(zNames.head == s"${p}_v00004_a")
  }

  test("a STALE claim reclaims; a fresh heartbeat protects (shared stale knob)") {
    val p = fresh("vcs_stale")
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 1)))
    // a writer claimed v2 and died; its heartbeat is 10 s old
    claimSql(p, "v00002")
    spark.sql(s"ALTER TABLE ${p}_v00002_claim SET TBLPROPERTIES " +
      s"('graft.claim.ts'='${System.currentTimeMillis() - 10000}')")
    // young-enough threshold: the claim is presumed live, protected
    VersionedCatalogStore.write(spark, p, Seq(spec("a", 2))) // v3
    assert(spark.catalog.tableExists(s"${p}_v00002_claim"))
    // threshold below its age: presumed crashed, reclaimed
    sys.props("graft.store.claim.stale.ms") = "5000"
    try VersionedCatalogStore.write(spark, p, Seq(spec("a", 3))) // v4
    finally sys.props.remove("graft.store.claim.stale.ms")
    assert(!spark.catalog.tableExists(s"${p}_v00002_claim"),
      "a stale claim must reclaim — crashed writers don't leak tables")
    assert(ids(VersionedCatalogStore.resolve(spark, p, Seq("a")).get.head)
      .size == 3)
  }

  test("bucketing SURVIVES publication: store-side join on a published " +
    "version plans shuffle-free (the property the path layout loses)") {
    val p = fresh("vcs_bucketed")
    VersionedCatalogStore.write(spark, p, Seq(
      TableSpec("left", table(100), "id", 8),
      TableSpec("right", table(100), "id", 8)))
    val Seq(l, r) =
      VersionedCatalogStore.read(spark, p, Seq("left", "right")).get
    // MERGE hint: at toy size Spark would broadcast (also shuffle-free
    // but then the test proves nothing); at store scale sort-merge is
    // what runs, and bucketing must feed it without an Exchange
    val joined = l.hint("MERGE")
      .join(r.hint("MERGE").withColumnRenamed("v", "v2"), "id")
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin")
    assert(joinSection.length > 1,
      s"expected a sort-merge/shuffled-hash join over the store tables:\n$plan")
    assert(!joinSection.last.contains("Exchange"),
      s"published store tables lost their bucketing (join shuffles):\n$plan")
    assert(joined.count() == 100)
  }

  test("a takedown write-back round-trips through the catalog store: " +
    "retract, publish, serve the survivors (drop-in for the path variant)") {
    import graft.operators.Dedup
    import graft.sources.Tables
    val p = fresh("vcs_takedown")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // the exact-dedup two-table store, BOTH bucketed on fp (the
    // members⋈keepers join key — the StoreRoundTripSpec co-location),
    // published atomically as one version
    val st = Dedup.exactStore(docs)
    VersionedCatalogStore.write(spark, p, Seq(
      TableSpec("keepers", st.keepers, "fp", 8),
      TableSpec("members", st.members, "fp", 8)))
    val Seq(k0, m0) =
      VersionedCatalogStore.read(spark, p, Seq("keepers", "members")).get
    // the takedown batch retracts against the LIVE read-back version
    // and the shrunk store publishes as the next version
    val rDocs = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    val r = Dedup.exactRetract(Dedup.ExactStore(k0, m0, Nil), rDocs).updatedStore
    VersionedCatalogStore.write(spark, p, Seq(
      TableSpec("keepers", r.keepers, "fp", 8),
      TableSpec("members", r.members, "fp", 8)))
    // the published store serves exactly the survivor rebuild
    val Seq(k1, m1) =
      VersionedCatalogStore.read(spark, p, Seq("keepers", "members")).get
    val surv = docs.filter(col("doc_id") % 5 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val rebuilt = Dedup.exactStore(surv)
    assert(rows(k1) == rows(rebuilt.keepers))
    assert(rows(m1) == rows(rebuilt.members))
  }

  test("a mixed-case or scheme-like prefix is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      VersionedCatalogStore.write(spark, "Mixed_Case",
        Seq(spec("a", 1)))
    }
    assert(e.getMessage.contains("lowercase catalog identifier"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedCatalogStore.resolve(spark, "9bad", Seq("a"))
    }
    assert(e2.getMessage.contains("lowercase catalog identifier"))
  }
}
