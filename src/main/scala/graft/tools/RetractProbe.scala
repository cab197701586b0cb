package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{CacheTracker, Dedup}

/** SURVEY §6 evidence for the r16 RETRACTION path's scaling story
  * (VERDICT r15 task #6: the full gate discipline for the new rows
  * includes a retract-heavy probe): scales the sf0.1 embeddings
  * `mult`× (SemBestDeltaProbe's deterministic perturbation recipe),
  * builds the semantic-best store ONCE to parquet — a takedown
  * presupposes a store that already exists — then for EACH rmod in
  * the sweep times the retraction of a hash-scattered 1/rmod slice
  * against that one store, beside ONE full semanticKeepersBest
  * rebuild over the survivors of the FIRST rmod (the number
  * retraction exists to avoid):
  *
  *   sbt "runMain graft.tools.RetractProbe <mult> <rmod[,rmod…]>"
  *
  * The sweep separates the takedown-size-DEPENDENT stages (affected
  * top-k re-ranks ≈ 1-(1-p)^k of probes at slice fraction p,
  * touched-component re-pairing) from the global linear floor
  * (pagerank + election): if the wall barely moves between a 2% and
  * a 20% takedown, the wall IS the floor. SPARK_GRAFT_STAGE_DEBUG=1
  * decomposes a pass (bestRetract.tPairs / bestRetract.rescored).
  * The exact family rides the same corpus: exactRetract over the
  * mult×-duplicated documents table (byte-copies make every fp group
  * mult-deep — the takedown-hits-a-keeper worst case). Not part of
  * the graded surface. */
object RetractProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val rmods = (if (args.length > 1) args(1) else "50,20,5")
      .split(",").toSeq.map(_.toInt)
    // optional third arg: which families to probe (default all) —
    // "best" (semanticBestRetract), "exact" (exactRetract), "minid"
    // (r17 semanticRetract, the affected-cluster rebuild), "quotient"
    // (r19, NOT in the default set: the QuotientEdgeCap fallback's
    // wall-clock class — the same delta ingest driven through the
    // driver union-find and through the distributed-closure fallback
    // a lowered cap forces)
    val fams = (if (args.length > 2) args(2) else "best,exact,minid")
      .split(",").toSet
    // optional fourth arg: tau override. The minid family's cost is
    // affected-cluster MASS, which τ controls end to end: the graded
    // τ=0.35 closure over the perturbed corpus forms a giant
    // component (any takedown touches ~everything), a tight τ keeps
    // clusters at copy-family depth (affected ≈ 1-(1-p)^mult) — probe
    // both to see the two regimes the scaladoc boundary documents.
    val tauOverride = if (args.length > 3) Some(args(3).toDouble) else None
    val tau = tauOverride.getOrElse(graft.registry.DedupRegistry.CosineTau)
    val k = graft.registry.SimilarityRegistry.K
    val spark = GraftSession.local("graft-retract-probe")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = java.nio.file.Files.createTempDirectory("graft_rp").toString
    val emb = graft.sources.Tables.embeddings(spark, src)
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until mult).map { i =>
      val shifted =
        if (i == 0) emb
        else emb.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === lit(i % dim), x + lit((i * 1e-4).toFloat))
              .otherwise(x)))
      shifted.withColumn("vec_id", col("vec_id") + lit(i.toLong * maxVec))
    }.reduce(_ union _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    val all = spark.read.parquet(s"$out/embeddings.parquet")
    val c = col("vec_id")
    val nAll = all.count()
    println(s"""{"probe_vectors":$nAll,"mult":$mult}""")
    // the comparison corpus every family's rebuild uses: survivors of
    // the FIRST rmod's hash slice
    val surv = all.filter(
      pmod(xxhash64(c), lit(rmods.head.toLong)) =!= 0)
    val BestTables = Seq("bits", "graph", "assignment", "pairs")
    if (fams("best")) {
    // ONE store for the whole sweep — retraction reads, never
    // rebuilds. Persisted through the atomic multi-table seam (r18,
    // VERDICT r17 #2): all four tables land in one vNNNNN version and
    // publish with one pointer move — a crash mid-write leaves no
    // torn four-table store, which for THIS store (the takedown
    // target) is the difference between a retryable failure and a
    // store serving half-forgotten content.
    val t0 = System.nanoTime()
    CacheTracker.scoped {
      val st = Dedup.semanticBestStore(all, tau, k)
      graft.sources.VersionedStore.write(s"$out/best_store",
        BestTables.zip(Seq(st.bits, st.graph, st.assignment, st.pairs)))
      ()
    }
    println(f"""{"stage":"store_build","sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
    def store() = {
      val Seq(bits, graph, asg, pairs) = graft.sources.VersionedStore
        .read(spark, s"$out/best_store", BestTables)
        .getOrElse(sys.error("best_store has no live version"))
      Dedup.SemanticBestStore(bits, graph, asg, pairs, tau, k)
    }
    rmods.foreach { rmod =>
      // HASH-scattered slice, not a mod slice: the scaled corpus's
      // copies sit at base + i*2000, so vec_id % rmod picks WHOLE
      // copy-families whenever rmod divides 2000 — the first probe
      // cut did exactly that and measured rescored = 0 rows (no
      // surviving probe ever lost a stored top-k dst, because its
      // dsts were its own family and families died together); the
      // hash slice retracts across families so the promote-displaced
      // re-rank path carries real work
      val rIds = all.filter(pmod(xxhash64(c), lit(rmod.toLong)) === 0)
        .select("vec_id")
      val nR = rIds.count()
      def pass(): Double = CacheTracker.scoped {
        val t = System.nanoTime()
        Dedup.semanticBestRetract(store(), rIds, tau, k)
          .assignment.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      val rows = CacheTracker.scoped {
        Dedup.semanticBestRetract(store(), rIds, tau, k).assignment.count()
      }
      pass() // warm
      println(f"""{"stage":"retract_pass","rmod":$rmod,"retracted":$nR,""" +
        f""""sec":${pass()}%.3f,"rows":$rows}""")
      if (rows == 0L || rows != nAll - nR)
        System.err.println("[graft] RetractProbe: assignment row count " +
          s"$rows != survivors ${nAll - nR} — not evidence of anything")
    }
    // the EMPTY takedown: affected/touched are empty, kept = the whole
    // graph — what remains is the honestly-global linear tail
    // (pagerank + election + store reads), the floor every takedown
    // size pays before its delta-proportional work
    def emptyPass(): Double = CacheTracker.scoped {
      val t = System.nanoTime()
      Dedup.semanticBestRetract(store(), all.limit(0).select("vec_id"),
        tau, k).assignment.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    emptyPass() // warm
    println(f"""{"stage":"global_floor","sec":${emptyPass()}%.3f}""")
    // the comparison retraction exists to beat: a full rebuild over
    // the first rmod's survivors
    def fullPass(): Double = CacheTracker.scoped {
      val t = System.nanoTime()
      Dedup.semanticKeepersBest(surv, tau, k)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    fullPass() // warm
    println(f"""{"stage":"full_rebuild","rmod":${rmods.head},""" +
      f""""sec":${fullPass()}%.3f}""")
    // the DURABLE takedown (r18): retract + atomic four-table
    // write-back through the shared versioned seam — what a legal
    // erasure queue actually runs per batch (the in-memory pass above
    // prices the compute; this prices compute + all-or-nothing
    // publish). The new version's tables replace the live store only
    // at the pointer move, so a crash anywhere in this pass leaves
    // the pre-takedown store fully live and the batch retryable.
    def writeBackPass(): Double = CacheTracker.scoped {
      val rIds = all.filter(pmod(xxhash64(c), lit(rmods.head.toLong)) === 0)
        .select("vec_id")
      val t = System.nanoTime()
      val r = Dedup.semanticBestRetract(store(), rIds, tau, k)
      graft.sources.VersionedStore.write(s"$out/best_store_wb",
        BestTables.zip(Seq(r.updatedStore.bits, r.updatedStore.graph,
          r.updatedStore.assignment, r.updatedStore.pairs)))
      (System.nanoTime() - t) / 1e9
    }
    writeBackPass() // warm
    println(f"""{"stage":"retract_writeback","rmod":${rmods.head},""" +
      f""""sec":${writeBackPass()}%.3f}""")
    }
    if (fams("minid")) {
    // ---- min-id semantic store (r17, semanticRetract): the one
    // retraction whose cost is an AFFECTED-CLUSTER REBUILD — the
    // store holds neither a pair table nor member embeddings, so
    // touched clusters re-pair from a corpus-table slice. The number
    // to watch is affected_share (fraction of corpus members living
    // in touched clusters, ≈ 1-(1-p)^depth for copy-family depth):
    // the pass's pair work is proportional to IT, not to the corpus,
    // and the wall should sit between the floor and the full rebuild
    // by roughly that ratio.
    val t1 = System.nanoTime()
    CacheTracker.scoped {
      val st = Dedup.semanticStore(all, tau)
      graft.sources.VersionedStore.write(s"$out/minid_store",
        Seq("lsh" -> st.lsh.bucketed, "assignment" -> st.assignment))
      ()
    }
    println(f"""{"stage":"minid_store_build","sec":${(System.nanoTime() - t1) / 1e9}%.3f}""")
    def mstore() = {
      val Seq(lsh, asg) = graft.sources.VersionedStore
        .read(spark, s"$out/minid_store", Seq("lsh", "assignment"))
        .getOrElse(sys.error("minid_store has no live version"))
      // explicit read-back geometry (ADVICE r18): built with defaults
      Dedup.SemanticStore(Dedup.embeddingLshStoreReadBack(lsh,
        nTables = 6, planesPerTable = 4, dim = 64), asg)
    }
    rmods.foreach { rmod =>
      val rIds = all.filter(pmod(xxhash64(c), lit(rmod.toLong)) === 0)
        .select("vec_id")
      val nR = rIds.count()
      val affectedShare = CacheTracker.scoped {
        val asg = mstore().assignment
        val aff = asg.join(rIds, Seq("vec_id"))
          .select(col("cluster_id")).distinct()
        asg.join(aff, Seq("cluster_id")).count().toDouble / nAll
      }
      def mpass(): Double = CacheTracker.scoped {
        val t = System.nanoTime()
        Dedup.semanticRetract(mstore(), rIds, all, tau)
          .assignment.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      mpass() // warm
      println(f"""{"stage":"minid_retract","rmod":$rmod,"retracted":$nR,""" +
        f""""affected_share":$affectedShare%.4f,"sec":${mpass()}%.3f}""")
    }
    def mrebuild(): Double = CacheTracker.scoped {
      val t = System.nanoTime()
      Dedup.semanticKeepersDedup(surv, tau)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    mrebuild() // warm
    println(f"""{"stage":"minid_full_rebuild","rmod":${rmods.head},""" +
      f""""sec":${mrebuild()}%.3f}""")
    }
    if (fams("quotient")) {
    // ---- the QuotientEdgeCap FALLBACK at probe scale (r19, VERDICT
    // r18 item #6): semanticKeepersDelta closes its ingest-bounded
    // quotient with a driver union-find when the edge set fits the
    // cap, else falls back to the distributed clusters() loop —
    // logged, spec-covered at toy size, but never before driven over
    // a real corpus. Price BOTH paths on the SAME ingest: one pass at
    // the default cap (driver path) and one with the cap forced to 0
    // (every quotient goes distributed), so the §6 anatomy can name
    // the fallback's cost class before a 100 TB deployment meets it.
    val dmod = 5L
    val oldC = all.filter(pmod(xxhash64(c), lit(dmod)) =!= 0)
    val delta = all.filter(pmod(xxhash64(c), lit(dmod)) === 0)
      .select(col("vec_id"), col("embedding"))
    val nD = delta.count()
    val t3 = System.nanoTime()
    CacheTracker.scoped {
      val st = Dedup.semanticStore(oldC, tau)
      graft.sources.VersionedStore.write(s"$out/q_store",
        Seq("lsh" -> st.lsh.bucketed, "assignment" -> st.assignment))
      ()
    }
    println(f"""{"stage":"quotient_store_build","sec":${(System.nanoTime() - t3) / 1e9}%.3f}""")
    def qstore() = {
      val Seq(lsh, asg) = graft.sources.VersionedStore
        .read(spark, s"$out/q_store", Seq("lsh", "assignment"))
        .getOrElse(sys.error("q_store has no live version"))
      Dedup.SemanticStore(Dedup.embeddingLshStoreReadBack(lsh,
        nTables = 6, planesPerTable = 4, dim = 64), asg)
    }
    def qpass(cap: Option[Int]): Double = CacheTracker.scoped {
      cap.foreach(v => sys.props("graft.quotient.edge.cap") = v.toString)
      try {
        val t = System.nanoTime()
        Dedup.semanticKeepersDelta(qstore(), delta, tau)
          .assignment.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      } finally cap.foreach(_ => sys.props.remove("graft.quotient.edge.cap"))
    }
    qpass(None) // warm
    println(f"""{"stage":"quotient_driver","delta":$nD,""" +
      f""""sec":${qpass(None)}%.3f}""")
    qpass(Some(0)) // warm (the fallback path logs once per pass)
    println(f"""{"stage":"quotient_fallback","delta":$nD,""" +
      f""""sec":${qpass(Some(0))}%.3f}""")
    }
    if (fams("exact")) {
    // the exact family on the mult×-duplicated documents table: every
    // fp group is mult deep, so a takedown that hits keepers forces
    // the re-election path on every affected group
    val docs0 = graft.sources.Tables.documents(spark, src)
    val maxId = docs0.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (0 until mult).map(i =>
        docs0.withColumn("doc_id", col("doc_id") + lit(i.toLong * maxId)))
      .reduce(_ union _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val d = col("doc_id")
    // keepers are the base copy's ids (min of each group) — retract
    // every 20th BASE id so ~5% of groups lose their keeper
    val rDocs = docs.filter(d < maxId && d % 20 === 7).select("doc_id")
    val nRD = rDocs.count()
    def exactPass(): Double = CacheTracker.scoped {
      val t = System.nanoTime()
      Dedup.exactRetract(Dedup.keeperStore(docs), Dedup.memberStore(docs),
        rDocs).assignment.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    val eRows = CacheTracker.scoped {
      Dedup.exactRetract(Dedup.keeperStore(docs), Dedup.memberStore(docs),
        rDocs).assignment.count()
    }
    exactPass() // warm
    println(f"""{"stage":"exact_retract","retracted":$nRD,""" +
      f""""sec":${exactPass()}%.3f,"rows":$eRows}""")
    }
    spark.stop()
  }
}
