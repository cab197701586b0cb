package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedStore

/** r18 (VERDICT r17 item #2) — takedown write-back durability: batch
  * retraction returns frames, and persisting a MULTI-table store
  * non-atomically can tear it (new assignment beside stale pairs) if
  * the writer crashes mid-rewrite. These tests pin the shared
  * versioned-store seam's contract: every failure point before the
  * single atomic pointer move leaves the PRIOR store fully live, a
  * pointer naming an incomplete version is rejected rather than
  * half-served, and promotion retains the superseded version for one
  * reader-grace generation. The takedown path itself (retract →
  * write → read-back serves the survivors) is proven end-to-end on a
  * real store. */
class VersionedStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_vs").toString

  private def table(n: Int) =
    (0 until n).map(i => (i.toLong, s"row$i")).toDF("id", "v")

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select("id").as[Long].collect().toSet

  test("write publishes all tables atomically; resolve returns them in order") {
    val dir = tmp()
    assert(VersionedStore.resolve(dir, Seq("a", "b")).isEmpty)
    val paths = VersionedStore.write(dir, Seq("a" -> table(3), "b" -> table(5)))
    assert(paths.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("a", "b"))
    val live = VersionedStore.resolve(dir, Seq("a", "b")).get
    assert(live == paths)
    assert(ids(live.head) == Set(0L, 1L, 2L) && ids(live(1)).size == 5)
  }

  test("a simulated mid-write crash leaves the prior store fully live") {
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(3), "b" -> table(3)))
    val before = VersionedStore.resolve(dir, Seq("a", "b")).get
    // CRASH SIMULATION: a second writer dies after writing ONE of the
    // two tables into its fresh version dir and never reaches the
    // pointer move — exactly the torn-multi-table failure the seam
    // exists to prevent. (Also leave a stale CURRENT.tmp behind, the
    // other mid-promotion artifact.)
    table(9).write.parquet(s"$dir/v00002/a")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "CURRENT.tmp"), "v00002")
    // the pointer still names v00001: readers see the full prior store
    val after = VersionedStore.resolve(dir, Seq("a", "b")).get
    assert(after == before)
    assert(ids(after.head) == Set(0L, 1L, 2L))
    // recovery is just the retry: the next successful write SKIPS the
    // orphaned v00002 (never reuses a half-written dir), publishes
    // v00003, and reclaims the orphan
    val retry = VersionedStore.write(dir, Seq("a" -> table(4), "b" -> table(4)))
    assert(retry.head.contains("v00003"))
    assert(ids(VersionedStore.resolve(dir, Seq("a", "b")).get.head)
      == Set(0L, 1L, 2L, 3L))
    assert(!new java.io.File(s"$dir/v00002").exists(),
      "the crashed orphan version should be reclaimed after promotion")
  }

  test("a pointer naming an incomplete version is rejected, not half-served") {
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(2), "b" -> table(2)))
    // external mutilation: one table of the live version disappears
    scala.reflect.io.Directory(
      new java.io.File(s"$dir/v00001/b")).deleteRecursively()
    assert(VersionedStore.resolve(dir, Seq("a", "b")).isEmpty,
      "a version missing any declared table must resolve to None")
  }

  test("promotion retains the superseded version for one reader-grace generation") {
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(1)))
    VersionedStore.write(dir, Seq("a" -> table(2)))
    // v1 survives v2's promotion (a reader may be mid-scan of it)
    assert(new java.io.File(s"$dir/v00001/a").isDirectory)
    VersionedStore.write(dir, Seq("a" -> table(3)))
    // v3's promotion keeps v2, reclaims v1 (two generations old)
    assert(new java.io.File(s"$dir/v00002/a").isDirectory)
    assert(!new java.io.File(s"$dir/v00001").exists())
    assert(ids(VersionedStore.resolve(dir, Seq("a")).get.head).size == 3)
  }

  test("two INTERLEAVED writers land distinct complete versions (r19, VERDICT r18 #2)") {
    // the realistic racing pair: an ingest drain and a takedown queue
    // sharing one storeDir. Before the atomic dir claim, both writers
    // computed the same next vNNNNN and interleaved mode(overwrite)
    // table writes into ONE version dir — a torn store published as
    // atomic. Simulate the interleaving deterministically: both
    // writers claim BEFORE either publishes, by driving the same
    // claim primitive write() uses, then running two full write()
    // calls whose claims must skip the pre-claimed dirs.
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(1), "b" -> table(1)))
    // writer X claims v00002 mid-flight — the REAL claim shape:
    // createDirectory + the `.writing` in-flight marker
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "v00002"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, "v00002", VersionedStore.WritingMarker))
    // … writer Y starts: its claim must NOT reuse v00002, and its
    // publish must NOT sweep X's in-flight dir
    val yPaths = VersionedStore.write(dir, Seq("a" -> table(5), "b" -> table(5)))
    assert(yPaths.head.contains("v00003"),
      "a concurrent claim must advance past the other writer's dir")
    assert(new java.io.File(s"$dir/v00002").isDirectory,
      "cleanup must not sweep a concurrent writer's in-flight claim " +
        "(young .writing marker)")
    // X completes with the REAL r20 sequence: writes its tables,
    // promotes through its per-claim staging name, and only THEN
    // drops its marker (r19 dropped it before the move — the race
    // the markerless-gap test below pins closed)
    table(9).write.parquet(s"$dir/v00002/a")
    table(9).write.parquet(s"$dir/v00002/b")
    val tmpP = java.nio.file.Paths.get(dir, "CURRENT.tmp.v00002")
    java.nio.file.Files.writeString(tmpP, "v00002")
    java.nio.file.Files.move(tmpP, java.nio.file.Paths.get(dir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "v00002", VersionedStore.WritingMarker))
    // both versions are individually complete — last pointer move wins
    // (the documented contract), and NO version holds a mix
    assert(ids(s"$dir/v00002/a") == ids(s"$dir/v00002/b"))
    assert(ids(s"$dir/v00003/a") == ids(s"$dir/v00003/b"))
    assert(ids(s"$dir/v00002/a").size == 9 && ids(s"$dir/v00003/a").size == 5)
    assert(ids(VersionedStore.resolve(dir, Seq("a", "b")).get.head).size == 9)
    // the NEXT writer claims past both and reclaims only superseded
    // generations
    val zPaths = VersionedStore.write(dir, Seq("a" -> table(7), "b" -> table(7)))
    assert(zPaths.head.contains("v00004"))
  }

  test("a racer's FULL write() inside X's complete-but-unpromoted window " +
    "leaves both versions intact (r20, VERDICT r19 #1)") {
    // THE r19 race: write() dropped the `.writing` marker BEFORE the
    // pointer move, so a version with all tables complete but not yet
    // promoted sat markerless — a concurrent publisher's cleanup saw
    // an orphan and swept it, the slow writer then promoted a pointer
    // to a deleted dir, and resolve() returned None (store DOWN,
    // racer's valid publish shadowed) until the next publish. r20
    // closes it by ELIMINATING the state: the marker now outlives the
    // promotion, so there is no markerless-unpromoted instant at all.
    // This test drives writer X to exactly that most-exposed point —
    // tables complete, not yet promoted — with the real claim shape,
    // then runs writer Y's FULL write() (claim, tables, promote,
    // cleanup) inside the window.
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(1), "b" -> table(1)))
    // writer X: real claim + marker, tables COMPLETE, promotion not
    // yet run — under the r20 ordering the marker is still present
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "v00002"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, "v00002", VersionedStore.WritingMarker))
    table(9).write.parquet(s"$dir/v00002/a")
    table(9).write.parquet(s"$dir/v00002/b")
    // writer Y's full publish runs INSIDE X's window
    val yPaths = VersionedStore.write(dir, Seq("a" -> table(5), "b" -> table(5)))
    assert(yPaths.head.contains("v00003"))
    // X's complete-but-unpromoted version survived Y's cleanup, and
    // the store resolved Y's publish throughout — never None
    assert(new java.io.File(s"$dir/v00002/a").isDirectory &&
      new java.io.File(s"$dir/v00002/b").isDirectory,
      "a complete-but-unpromoted version must survive a racer's publish")
    assert(ids(VersionedStore.resolve(dir, Seq("a", "b")).get.head).size == 5)
    // X finishes with the r20 sequence: promote, THEN drop the marker.
    // The store must resolve at every instant, including the brief
    // promoted-and-still-marked one.
    val tmpP = java.nio.file.Paths.get(dir, "CURRENT.tmp.v00002")
    java.nio.file.Files.writeString(tmpP, "v00002")
    java.nio.file.Files.move(tmpP, java.nio.file.Paths.get(dir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(ids(VersionedStore.resolve(dir, Seq("a", "b")).get.head).size == 9,
      "the store must resolve in the promoted-but-still-marked instant")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "v00002", VersionedStore.WritingMarker))
    // both versions individually complete, X's pointer move won
    assert(ids(s"$dir/v00002/a") == ids(s"$dir/v00002/b"))
    assert(ids(s"$dir/v00003/a") == ids(s"$dir/v00003/b"))
    assert(ids(VersionedStore.resolve(dir, Seq("a", "b")).get.head).size == 9)
  }

  test("a CURRENT-named version with a STALE marker survives cleanup " +
    "(crash between promote and marker-delete)") {
    // the r20 marker ordering opens one new crash window: promoted
    // but marker never dropped. That version is LIVE (the pointer
    // names it) — its stale marker must not age it into reclaim.
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(1)))
    // X: claim v2, write table, promote — then crash (marker stays)
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "v00002"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, "v00002", VersionedStore.WritingMarker))
    table(5).write.parquet(s"$dir/v00002/a")
    val tmpP = java.nio.file.Paths.get(dir, "CURRENT.tmp.v00002")
    java.nio.file.Files.writeString(tmpP, "v00002")
    java.nio.file.Files.move(tmpP, java.nio.file.Paths.get(dir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // every marker instantly stale: only the CURRENT/prevLive guards
    // can save v2 now
    sys.props("graft.store.claim.stale.ms") = "-1"
    try {
      VersionedStore.write(dir, Seq("a" -> table(3))) // claims v00003
      assert(new java.io.File(s"$dir/v00002/a").isDirectory,
        "the version the pointer named at publish time must survive " +
          "its marker going stale")
      assert(ids(VersionedStore.resolve(dir, Seq("a")).get.head).size == 3)
      // once superseded by TWO generations (no longer CURRENT, no
      // longer the grace copy), the crashed-after-promote version
      // reclaims like any stale claim — no disk leak
      VersionedStore.write(dir, Seq("a" -> table(4))) // claims v00004
      assert(!new java.io.File(s"$dir/v00002").exists(),
        "a crashed-after-promote version must still reclaim once " +
          "two generations superseded")
    } finally sys.props.remove("graft.store.claim.stale.ms")
  }

  test("reclaim predicate: newer-than-claim versions are categorically " +
    "untouchable; heartbeat resets staleness (r20, VERDICT r19 #1/#2)") {
    val dir = tmp()
    def dirOf(v: String): java.io.File = {
      val f = new java.io.File(dir, v)
      f.mkdirs(); f
    }
    val legacy = Set("a"); val legacyStaging = Set("a.staging")
    def reclaim(f: java.io.File, cleanerN: Int): Boolean =
      VersionedStore.reclaimable(f, cleanerN, currentNow = Some("v00009"),
        prevLive = Some("v00008"), legacy, legacyStaging)
    // a markerless version NEWER than the cleaner's claim is a
    // concurrent writer's work — categorically untouched, even though
    // it looks exactly like reclaimable debris (this is the n<cleanerN
    // guard; pre-r20 the condition was n != cleanerN, which reclaimed
    // newer markerless dirs)
    assert(!reclaim(dirOf("v00007"), cleanerN = 5))
    // …while the SAME dir is ordinary markerless debris to a cleaner
    // whose claim is newer
    assert(reclaim(dirOf("v00007"), cleanerN = 8))
    // the CURRENT-named and grace versions never reclaim, regardless
    assert(!reclaim(dirOf("v00009"), cleanerN = 12))
    assert(!reclaim(dirOf("v00008"), cleanerN = 12))
    // a YOUNG marker protects; a STALE one doesn't; a heartbeat
    // (touchClaim — what write() calls after each table lands)
    // resets the clock, so staleness measures idle time, not total
    // write time
    val claimed = dirOf("v00003")
    val marker = java.nio.file.Paths.get(claimed.getPath,
      VersionedStore.WritingMarker)
    java.nio.file.Files.createFile(marker)
    sys.props("graft.store.claim.stale.ms") = "5000"
    try {
      assert(!reclaim(claimed, cleanerN = 6), "young marker must protect")
      // age the claim past the threshold — a writer that started long
      // ago and NEVER progressed is presumed crashed
      java.nio.file.Files.setLastModifiedTime(marker,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000))
      assert(reclaim(claimed, cleanerN = 6), "stale marker must reclaim")
      // …but a slow writer that just landed a table heartbeats, and
      // the SAME claim is live again: staleness = no-progress window
      VersionedStore.touchClaim(marker)
      assert(!reclaim(claimed, cleanerN = 6),
        "a heartbeat must reset the staleness clock — long writes " +
          "that keep landing tables are live, not crashed")
    } finally sys.props.remove("graft.store.claim.stale.ms")
  }

  test("pointer-staging hygiene: per-claim tmp names, stale tmps swept") {
    // the pointer stages through a PER-CLAIM name (CURRENT.tmp.vNNNNN)
    // so a concurrent racer can't overwrite this writer's staged
    // pointer between write and move; a successful publish leaves no
    // staging files behind, and debris from crashed writers (the
    // legacy shared name, or a per-claim tmp whose version dir was
    // reclaimed) is swept by the next publish.
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(1)))
    def tmps(): Seq[String] = new java.io.File(dir).listFiles()
      .collect { case f if f.getName.startsWith("CURRENT.tmp") => f.getName }
      .toSeq
    assert(tmps().isEmpty, "a clean publish must leave no staging files")
    // plant crashed-writer debris: the legacy shared name + a
    // per-claim tmp whose claim dir no longer exists
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "CURRENT.tmp"), "v00001")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "CURRENT.tmp.v09999"), "v09999")
    VersionedStore.write(dir, Seq("a" -> table(2)))
    assert(tmps().isEmpty, "stale staging debris must be swept")
    assert(ids(VersionedStore.resolve(dir, Seq("a")).get.head).size == 2)
  }

  test("a CRASHED writer's claim reclaims once its marker goes stale") {
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(1)))
    // a writer claims v00002 and dies — marker never removed
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(dir, "v00002"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, "v00002", VersionedStore.WritingMarker))
    // while the marker is YOUNG the claim is presumed live: protected
    VersionedStore.write(dir, Seq("a" -> table(2))) // claims v00003
    assert(new java.io.File(s"$dir/v00002").isDirectory)
    // once STALE (simulated via the test knob) it reclaims like any
    // orphan — crashed claims don't leak disk forever
    sys.props("graft.store.claim.stale.ms") = "-1"
    try VersionedStore.write(dir, Seq("a" -> table(3))) // claims v00004
    finally sys.props.remove("graft.store.claim.stale.ms")
    assert(!new java.io.File(s"$dir/v00002").exists(),
      "a stale-marked crashed claim must be reclaimed")
    assert(ids(VersionedStore.resolve(dir, Seq("a")).get.head).size == 3)
  }

  test("a scheme-qualified storeDir is rejected loudly (local-FS contract)") {
    // Spark's df.write would accept hdfs:///s3a:// and publish the
    // TABLES remotely while the java.nio pointer machinery ran on
    // bogus local paths — a store that silently publishes nothing.
    val e1 = intercept[IllegalArgumentException] {
      VersionedStore.write("hdfs://nn/store", Seq("a" -> table(1)))
    }
    assert(e1.getMessage.contains("local-filesystem only"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedStore.resolve("s3a://bucket/store", Seq("a"))
    }
    assert(e2.getMessage.contains("local-filesystem only"))
    // a plain absolute path (and file-scheme-free relative ones) pass
    val dir = tmp()
    VersionedStore.write(dir, Seq("a" -> table(2)))
    assert(VersionedStore.resolve(dir, Seq("a")).nonEmpty)
  }

  test("a takedown write-back round-trips: retract, publish, serve the survivors") {
    import graft.operators.Dedup
    import graft.sources.Tables
    val dir = tmp()
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // build + publish the two-table exact-dedup store atomically
    val st = Dedup.exactStore(docs)
    VersionedStore.write(dir, Seq(
      "keepers" -> st.keepers, "members" -> st.members))
    val Seq(k0, m0) =
      VersionedStore.read(spark, dir, Seq("keepers", "members")).get
    // the takedown batch: retract against the LIVE version, publish
    // the shrunk store as the next version with one pointer move
    val rDocs = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
    val r = Dedup.exactRetract(Dedup.ExactStore(k0, m0, Nil), rDocs).updatedStore
    VersionedStore.write(dir, Seq(
      "keepers" -> r.keepers, "members" -> r.members))
    // the published store serves exactly the survivor rebuild
    val Seq(k1, m1) =
      VersionedStore.read(spark, dir, Seq("keepers", "members")).get
    val surv = docs.filter(col("doc_id") % 5 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSet[org.apache.spark.sql.Row].map(_.toSeq)
    val fresh = Dedup.exactStore(surv)
    assert(rows(k1) == rows(fresh.keepers))
    assert(rows(m1) == rows(fresh.members))
  }
}
