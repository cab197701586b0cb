package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal}
import graft.sources.{Sinks, Tables}

/** The incremental-dedup stores are maintained TABLES at corpus scale,
  * not in-session DataFrames. This spec proves the storage seam: each
  * store written via Sinks.writeBucketed, read back, and fed to the
  * NEXT ingest must (a) produce results identical to the in-memory
  * chain and (b) enter the per-ingest join WITHOUT a store-side
  * Exchange — the payoff the bucketed layout exists for (the store is
  * corpus-sized; re-shuffling it every ingest is the cost the
  * incremental path must never pay). */
class StoreRoundTripSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._
  val d = "/root/testdata/sf0.001"

  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) scala.reflect.io.Directory(loc).deleteRecursively()
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("exact keeper store round-trips through a bucketed table; the ingest join reads it shuffle-free") {
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val store = Dedup.exactStore(old)
    val inMem = Dedup.exactDelta(store, delta)
    dropTable("keeper_store_rt")
    Sinks.writeBucketed(store.keepers, "keeper_store_rt", "fp", 8)
    def readBack = store.copy(keepers = spark.table("keeper_store_rt"))

    // (a) next ingest over the read-back table == the in-memory chain
    val fromTable = Dedup.exactDelta(readBack, delta)
    def asn(df: DataFrame) = df.as[(Long, Long, Int)].collect().toSet
    assert(asn(fromTable.assignment) == asn(inMem.assignment))
    assert(fromTable.assignment.count() > 0)
    assert(fromTable.updatedStore.keepers.as[(String, Long)].collect().toSet ==
      inMem.updatedStore.keepers.as[(String, Long)].collect().toSet)

    // (b) the store side of the delta join has NO Exchange: the
    // bucketed layout pre-partitions it on fp. Broadcast disabled so
    // the sort-merge path (what a corpus-sized store runs) is planned;
    // AQE off so the plan tree is directly walkable.
    withConf("spark.sql.adaptive.enabled" -> "false",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Dedup.exactDelta(readBack, delta)
        .assignment.queryExecution.executedPlan
      // innermost join sides that read the store table directly (the
      // outer assignment join's "merged" side nests this one and
      // legitimately carries the delta's own aggregate exchange)
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side =>
          side.collect { case jj: SortMergeJoinExec => jj }.isEmpty &&
          side.collect {
            case s: FileSourceScanExec if s.output.map(_.name).contains("keep_id") => s
          }.nonEmpty)
      assert(storeSides.nonEmpty,
        s"no sort-merge join reads the bucketed store:\n$plan")
      storeSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"store side still shuffles despite the bucketed layout:\n$side")
      }
    }
    dropTable("keeper_store_rt")
  }

  test("compactStore between two ingests: same results, fewer files, still shuffle-free") {
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val d1 = docs.filter(col("doc_id") % 6 === 0)
    val d2 = docs.filter(col("doc_id") % 6 === 3)
    // the in-memory reference chain: two sequential ingests
    val store = Dedup.exactStore(old)
    val ref1 = Dedup.exactDelta(store, d1)
    val ref2 = Dedup.exactDelta(ref1.updatedStore, d2)
    def asn(df: DataFrame) = df.as[(Long, Long, Int)].collect().toSet
    val t = "keeper_store_cp"
    dropTable(t)
    // ingest history with append debt: base store, then the first
    // delta's genuinely NEW fingerprints appended (what a real ingest
    // materializes — the updated store minus what was already there)
    Sinks.writeBucketed(store.keepers, t, "fp", 8)
    def readBack = store.copy(keepers = spark.table(t))
    val r1 = Dedup.exactDelta(readBack, d1)
    assert(asn(r1.assignment) == asn(ref1.assignment))
    r1.updatedStore.keepers.join(spark.table(t), Seq("fp"), "left_anti")
      .write.bucketBy(8, "fp").sortBy("fp").mode("append").saveAsTable(t)
    def files() = new java.io.File(s"spark-warehouse/$t")
      .listFiles().count(_.getName.startsWith("part-"))
    val rowsBefore = spark.table(t).as[(String, Long)].collect().toSet
    val filesBefore = files()
    Sinks.compactStore(spark, t, "fp", 8)
    // rows identical, file count reduced to one per bucket
    assert(spark.table(t).as[(String, Long)].collect().toSet == rowsBefore)
    assert(files() < filesBefore && files() <= 8,
      s"compaction left ${files()} files (was $filesBefore)")
    // the NEXT ingest over the compacted table: same assignment, and
    // the store side still enters the join without an Exchange
    val r2 = Dedup.exactDelta(readBack, d2)
    assert(asn(r2.assignment) == asn(ref2.assignment) && asn(r2.assignment).nonEmpty)
    withConf("spark.sql.adaptive.enabled" -> "false",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Dedup.exactDelta(readBack, d2)
        .assignment.queryExecution.executedPlan
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side =>
          side.collect { case jj: SortMergeJoinExec => jj }.isEmpty &&
          side.collect {
            case s: FileSourceScanExec if s.output.map(_.name).contains("keep_id") => s
          }.nonEmpty)
      assert(storeSides.nonEmpty)
      storeSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"compacted store side shuffles:\n$side")
      }
    }
    dropTable(t)
  }

  test("paragraph keeper store round-trips bucketed; the ingest join reads it shuffle-free") {
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val store = Dedup.paragraphStore(old, 16)
    val inMem = Dedup.paragraphDelta(store, delta)
    dropTable("para_store_rt")
    // paragraph fingerprints are md5 of non-null paragraphs — never
    // null, so the store join is a plain equi-join a table bucketed
    // on fp satisfies without an Exchange (the exactDelta property at
    // sub-document granularity, no sentinel needed)
    Sinks.writeBucketed(store.keepers, "para_store_rt", "fp", 8)
    def readBack = store.copy(keepers = spark.table("para_store_rt"))
    val fromTable = Dedup.paragraphDelta(readBack, delta)
    def asn(df: DataFrame) = df.as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(asn(fromTable.assignment) == asn(inMem.assignment)
      && asn(inMem.assignment).nonEmpty)
    assert(fromTable.updatedStore.keepers.as[(String, Long, Long)].collect().toSet ==
      inMem.updatedStore.keepers.as[(String, Long, Long)].collect().toSet)
    withConf("spark.sql.adaptive.enabled" -> "false",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Dedup.paragraphDelta(readBack, delta)
        .assignment.queryExecution.executedPlan
      val storeSides = plan.collect { case j: SortMergeJoinExec => j }
        .flatMap(j => Seq(j.left, j.right))
        .filter(side =>
          side.collect { case jj: SortMergeJoinExec => jj }.isEmpty &&
          side.collect {
            case s: FileSourceScanExec if s.output.map(_.name).contains("keep_doc") => s
          }.nonEmpty)
      assert(storeSides.nonEmpty,
        s"no sort-merge join reads the bucketed paragraph store:\n$plan")
      storeSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"paragraph store side still shuffles:\n$side")
      }
    }
    dropTable("para_store_rt")
  }

  test("minhash banded + shingle stores round-trip through bucketed tables") {
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val st = Dedup.minhashStore(old)
    val inMem = Dedup.minhashLshDelta(st, delta)
    dropTable("mh_banded_rt")
    dropTable("mh_shingles_rt")
    // banded keys bucketed on the candidate join's bucket key, shingle
    // rows on the verify join's doc_id (the layout Sinks documents)
    Sinks.writeBucketed(st.banded, "mh_banded_rt", "bkey", 8)
    Sinks.writeBucketed(st.shingles, "mh_shingles_rt", "doc_id", 8)
    val fromTable = Dedup.minhashLshDelta(
      Dedup.MinHashStore(spark.table("mh_banded_rt"),
        spark.table("mh_shingles_rt"), st.n, st.bands, st.rowsPerBand), delta)
    def pairs(r: Dedup.PairsDelta[Dedup.MinHashStore]) =
      r.pairs.as[(Long, Long, Double)].collect().toSet
    assert(pairs(fromTable) == pairs(inMem))
    assert(fromTable.updatedStore.banded.as[(Long, Int, Long)].collect().toSet ==
      inMem.updatedStore.banded.as[(Long, Int, Long)].collect().toSet)
    assert(fromTable.updatedStore.shingles.as[(Long, Int, String)].collect().toSet ==
      inMem.updatedStore.shingles.as[(Long, Int, String)].collect().toSet)
    dropTable("mh_banded_rt")
    dropTable("mh_shingles_rt")
  }

  test("containment rows + prefix stores round-trip through bucketed tables") {
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val st = Dedup.shingleStore(old, 3, 0.8)
    val inMem = Dedup.containmentDelta(st, delta, 0.8)
    dropTable("ct_rows_rt")
    dropTable("ct_prefix_rt")
    // both sides bucketed on the shingle — the key of the candidate
    // joins in both directions (the layout Dedup.ShingleStore
    // documents)
    Sinks.writeBucketed(st.rows, "ct_rows_rt", "s", 8)
    Sinks.writeBucketed(st.prefix, "ct_prefix_rt", "s", 8)
    val fromTable = Dedup.containmentDelta(
      Dedup.ShingleStore(spark.table("ct_rows_rt"),
        spark.table("ct_prefix_rt"), 3, 0.8), delta, 0.8)
    def pairs(r: Dedup.PairsDelta[Dedup.ShingleStore]) =
      r.pairs.as[(Long, Long, Double)].collect().toSet
    assert(pairs(fromTable) == pairs(inMem) && pairs(inMem).nonEmpty)
    assert(fromTable.updatedStore.rows.as[(Long, Long, String)].collect().toSet ==
      inMem.updatedStore.rows.as[(Long, Long, String)].collect().toSet)
    assert(fromTable.updatedStore.prefix.as[(Long, String)].collect().toSet ==
      inMem.updatedStore.prefix.as[(Long, String)].collect().toSet)
    dropTable("ct_rows_rt")
    dropTable("ct_prefix_rt")
  }

  test("payload near-dup frame store round-trips through s-bucketed tables") {
    // r14: the media incremental form's store contract — the sized
    // frame rows + blocking prefixes persist bucketed on the frame
    // fingerprint (the candidate-join key), and a delta against the
    // table-backed store equals the in-memory pass exactly
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val tau = 0.5
    val inMemStore = Multimodal.payloadNearDupStore(old, tau)
    val inMem = Multimodal.payloadNearDupDelta(inMemStore, delta, tau)
    Seq("mm_frows_rt", "mm_fprefix_rt").foreach(dropTable)
    Sinks.writeBucketed(inMemStore.store.rows, "mm_frows_rt", "s", 8)
    Sinks.writeBucketed(inMemStore.store.prefix, "mm_fprefix_rt", "s", 8)
    val fromTable = Multimodal.payloadNearDupDelta(
      Multimodal.PayloadNearDupStore(
        graft.operators.Dedup.ItemJaccardStore(
          spark.table("mm_frows_rt"), spark.table("mm_fprefix_rt"), tau),
        64, 48), delta, tau)
    def pairs(r: Dedup.PairsDelta[Multimodal.PayloadNearDupStore]) =
      r.pairs.as[(Long, Long, Double)].collect().toSet
    assert(pairs(fromTable) == pairs(inMem) && pairs(inMem).nonEmpty)
    assert(fromTable.updatedStore.store.rows
      .as[(Long, Long, String)].collect().toSet ==
      inMem.updatedStore.store.rows.as[(Long, Long, String)].collect().toSet)
    Seq("mm_frows_rt", "mm_fprefix_rt").foreach(dropTable)
  }

  test("semantic-best store round-trips through bucketed tables") {
    // r15 (+r16 pairs): the centrality capstone's four tables persist
    // as the scaladoc claims — bits/assignment bucketed on vec_id,
    // the SCORED graph on src, the verified pair list on id_a — and
    // a delta against the table-backed store equals the in-memory
    // pass (and the full rerun) exactly. The vec_id buckets pay off
    // in the anti-join/remap stages; the bits frame's bucket JOIN is
    // keyed on (table, bucket) and legitimately exchanges either way.
    val emb = Tables.embeddings(spark, d)
    val old = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val tau = 0.35
    val k = 5
    val inMemStore = Dedup.semanticBestStore(old, tau, k)
    val inMem = Dedup.semanticKeepersBestDelta(inMemStore, delta, tau, k)
    val tables = Seq("sb_bits_rt" -> ("vec_id", inMemStore.bits),
      "sb_graph_rt" -> ("src", inMemStore.graph),
      "sb_asg_rt" -> ("vec_id", inMemStore.assignment),
      "sb_pairs_rt" -> ("id_a", inMemStore.pairs))
    tables.foreach { case (t, _) => dropTable(t) }
    tables.foreach { case (t, (key, df)) => Sinks.writeBucketed(df, t, key, 8) }
    val fromTable = Dedup.semanticKeepersBestDelta(
      Dedup.SemanticBestStore(spark.table("sb_bits_rt"),
        spark.table("sb_graph_rt"), spark.table("sb_asg_rt"),
        spark.table("sb_pairs_rt"), tau, k),
      delta, tau, k)
    def asg(df: DataFrame) = df.as[(Long, Long, Int)].collect().toSet
    val full = asg(Dedup.semanticKeepersBest(emb, tau, k))
    assert(asg(fromTable.assignment) == full)
    assert(asg(inMem.assignment) == full)
    assert(fromTable.updatedStore.graph.select(col("src"), col("dst"))
      .as[(Long, Long)].collect().toSet ==
      inMem.updatedStore.graph.select(col("src"), col("dst"))
        .as[(Long, Long)].collect().toSet)
    // the grown PAIR table is row-for-row the fresh build's (r16 —
    // retraction's re-closure reads it, so its maintenance is
    // correctness-bearing, not bookkeeping)
    def prs(df: DataFrame) = df.as[(Long, Long)].collect().toSet
    assert(prs(fromTable.updatedStore.pairs) ==
      prs(Dedup.semanticBestStore(emb, tau, k).pairs))
    tables.foreach { case (t, _) => dropTable(t) }
  }

  test("keepBest election stores round-trip through bucketed tables") {
    val docs = Tables.documents(spark, d)
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val score = col("n_chars")
    val jSt = Dedup.shingleStore(old, 3, 0.8)
    val kSt = Dedup.keepBestStore(old,
      Dedup.ngramJaccard(old, 3, 0.8), score)
    val deltaPairs = Dedup.ngramJaccardDelta(jSt, delta, 0.8).pairs
    val inMem = Dedup.keepBestDelta(kSt, delta, deltaPairs)
    Seq("kb_pairs_rt", "kb_scores_rt", "kb_asn_rt", "kb_jrows_rt",
      "kb_jprefix_rt").foreach(dropTable)
    // pairs on id_a (the subgraph-selection join key), scores and
    // assignment on doc_id, the Jaccard store on the shingle
    Sinks.writeBucketed(kSt.pairs, "kb_pairs_rt", "id_a", 8)
    Sinks.writeBucketed(kSt.scores, "kb_scores_rt", "doc_id", 8)
    Sinks.writeBucketed(kSt.assignment, "kb_asn_rt", "doc_id", 8)
    Sinks.writeBucketed(jSt.rows, "kb_jrows_rt", "s", 8)
    Sinks.writeBucketed(jSt.prefix, "kb_jprefix_rt", "s", 8)
    val deltaPairsT = Dedup.ngramJaccardDelta(
      Dedup.ShingleStore(spark.table("kb_jrows_rt"),
        spark.table("kb_jprefix_rt"), 3, 0.8), delta, 0.8).pairs
    val fromTable = Dedup.keepBestDelta(
      Dedup.KeepBestStore(spark.table("kb_pairs_rt"),
        spark.table("kb_scores_rt"), spark.table("kb_asn_rt"), score),
      delta, deltaPairsT)
    def res(r: Dedup.AssignmentDelta[Dedup.KeepBestStore]) =
      r.assignment.as[(Long, Long, Int)].collect().toSet
    assert(res(fromTable) == res(inMem) && res(inMem).nonEmpty)
    Seq("kb_pairs_rt", "kb_scores_rt", "kb_asn_rt", "kb_jrows_rt",
      "kb_jprefix_rt").foreach(dropTable)
  }

  test("retraction over bucketed keeper+member tables: results identical, " +
      "assignment join co-partitioned shuffle-free on BOTH sides") {
    val docs = Tables.documents(spark, d)
    val retract = docs.filter(col("doc_id") % 20 === 7).select("doc_id")
    val store = Dedup.exactStore(docs)
    val inMem = Dedup.exactRetract(store, retract)
    Seq("rt_keepers", "rt_members").foreach(dropTable)
    Sinks.writeBucketed(store.keepers, "rt_keepers", "fp", 8)
    Sinks.writeBucketed(store.members, "rt_members", "fp", 8)
    def readBack = Dedup.ExactStore(spark.table("rt_keepers"),
      spark.table("rt_members"), Nil)
    val fromTable = Dedup.exactRetract(readBack, retract)
    def asn(df: DataFrame) = df.as[(Long, Long, Int)].collect().toSet
    def kp(df: DataFrame) = df.as[(String, Long)].collect().toSet
    assert(asn(fromTable.assignment) == asn(inMem.assignment))
    assert(asn(inMem.assignment).nonEmpty)
    assert(kp(fromTable.updatedStore.keepers) == kp(inMem.updatedStore.keepers))
    // the survivor-assignment join reads the two fp-bucketed tables
    // DIRECTLY (the affected groups' keeper override rides a
    // broadcast coalesce, not a union that would cost the keeper
    // table its bucketing): with the broadcast fallback disabled for
    // un-hinted joins, the sort-merge join must shuffle NEITHER side
    // — co-partitioned storage is the whole point of the layout
    withConf("spark.sql.adaptive.enabled" -> "false",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = Dedup.exactRetract(readBack, retract)
        .assignment.queryExecution.executedPlan
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty,
        s"no sort-merge join over the bucketed stores:\n$plan")
      smjs.foreach { j =>
        Seq(j.left, j.right).foreach { side =>
          assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
            s"a store side shuffles despite the bucketed layout:\n$side")
        }
      }
    }
    Seq("rt_keepers", "rt_members").foreach(dropTable)
  }
}
