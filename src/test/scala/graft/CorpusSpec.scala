package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Corpus

/** H-family behavior: sampling must be deterministic and
  * partitioning-independent, decontamination must flag exactly the
  * docs sharing an n-gram with the eval set, and the PII scrub must
  * redact what it counts. */
class CorpusSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  test("sampling is deterministic, partitioning-independent, near-rate") {
    val docs = (0L until 2000L).map(i => (i, s"doc $i", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val once = Corpus.sample(docs, 30).select("doc_id").as[Long].collect().toSet
    val again = Corpus.sample(docs.repartition(13), 30)
      .select("doc_id").as[Long].collect().toSet
    assert(once == again && once.nonEmpty) // same subset, any partitioning
    val rate = once.size.toDouble / 2000
    assert(rate > 0.2 && rate < 0.4, s"rate $rate far from 30%")
    // stats agree with the subset
    val stats = Corpus.sampleStats(docs, 30)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats.values.map(_._1).sum == 2000)
    assert(stats.values.map(_._2).sum == once.size)
  }

  test("weighted sampling applies per-source rates, default elsewhere") {
    val docs = (0L until 3000L).map(i => (i, s"doc $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val rates = Seq("src0" -> 0, "src1" -> 100)
    val stats = Corpus.sampleWeightedStats(docs, rates, 30)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats("src0") == ((1000L, 0L)))      // rate 0: nothing kept
    assert(stats("src1") == ((1000L, 1000L)))   // rate 100: everything
    val (n2, k2) = stats("src2")                // default 30%
    assert(n2 == 1000L && k2 > 200L && k2 < 400L)
    // the kept subset equals filtering the flat sample by source rate
    val viaFilter = Corpus.sampleWeighted(docs, rates, 30)
      .select("doc_id").as[Long].collect().toSet
    val flat30 = Corpus.sample(docs, 30).select("doc_id").as[Long].collect().toSet
    assert(viaFilter.filter(_ % 3 == 2) == flat30.filter(_ % 3 == 2))
    assert(!viaFilter.exists(_ % 3 == 0) && viaFilter.count(_ % 3 == 1) == 1000)
  }

  test("decontamination flags exactly the docs sharing an n-gram with eval") {
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "eval"),
    ).toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "he saw the quick brown fox jumps far away", "s"), // shares 4-grams
      (2L, "a completely clean training document here", "s"),
      (3L, "quick brown fox walks", "s"), // no shared 4-gram (walks ≠ jumps)
    ).toDF("doc_id", "text", "source")
    val out = Corpus.decontaminate(train, evalDocs, 4)
      .as[(Long, Long, Long)].collect().toList
    // doc 1 shares "the quick brown fox" and "quick brown fox jumps"
    assert(out == List((1L, 2L, 100L)))
  }

  test("pipeline report: funnel counts match hand-computed stages") {
    val docs = Seq(
      (0L, "evaluation question about the quick brown fox jumps", "src0"), // eval (0 % 97 == 0)
      (1L, "the quick brown fox jumps over a lazy dog", "src0"), // contaminated
      (2L, "dup text body here completely", "src1"),
      (3L, "dup text body here completely", "src1"), // exact dup of 2
      (4L, "clean unique training document number four", "src1"),
    ).toDF("doc_id", "text", "source")
    val report = Corpus.pipelineReport(
        docs, docs.filter($"doc_id" % 97 === 0), n = 4, keepPct = 100)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // src0: eval doc self-contaminates, doc 1 shares a 4-gram → both
    // keepers, neither clean; src1: dup collapsed, both keepers clean
    // and (at keepPct=100) sampled
    assert(report("src0") == ((2L, 2L, 0L, 0L)))
    assert(report("src1") == ((3L, 2L, 2L, 2L)))
  }

  test("quality gate: each gate trips on exactly its own failure mode") {
    // English filler that passes every gate (30 distinct-ish tokens,
    // stopwords present, no repetition)
    val good = "the quick brown fox jumps over a lazy dog while the old " +
      "miller walks his long road past green fields and quiet rivers " +
      "toward that small town where friends wait"
    val docs = Seq(
      (1L, good, "en", "s"),                          // passes all gates
      (2L, "the tiny text is here", "en", "s"),       // fails ONLY the token floor
      (3L, ("lorem ipsum dolor sit amet " * 6).trim, "en", "s"), // no stopwords + repeated 3-grams (+ lang vote collapses)
      (4L, good, "de", "s"),                          // langid mismatch (English text, de label)
    ).toDF("doc_id", "text", "lang", "source")
    val r = Corpus.qualityGate(docs, minTokens = 20, minStopRatio = 0.01,
        maxDupGram = 0.05, maxTopWord = 0.15)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(r.length == 1)
    val (_, nDocs, lenOk, stopOk, repOk, langOk, kept) = r.head
    assert(nDocs == 4)
    assert(lenOk == 3)  // doc 2 too short
    assert(stopOk == 3) // doc 3 has no function words
    assert(repOk == 2)  // doc 3's repeated phrase trips the 3-gram cap;
                        // doc 2 is so short its top word is 1/5 = 0.2
                        // of it (the token floor drops such docs anyway)
    assert(langOk == 2) // doc 4 votes en but is labeled de; doc 3's
                        // zero-vote tie falls to the first-listed lang
    assert(kept == 1)   // only doc 1 survives every gate
  }

  test("PII scrub redacts what it counts; scrubbed text is PII-free") {
    val docs = Seq(
      (1L, "mail me at alice@example.com or bob.smith@corp.co today", "s"),
      (2L, "see https://example.com/a?q=1 and host 10.0.0.1 now", "s"),
      (3L, "no pii here at all", "s"),
      (4L, null.asInstanceOf[String], "s"),
    ).toDF("doc_id", "text", "source")
    val counts = Corpus.piiScrub(docs)
      .select("doc_id", "n_urls", "n_emails", "n_ips")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1),
         if (r.isNullAt(2)) -1 else r.getInt(2),
         if (r.isNullAt(3)) -1 else r.getInt(3))).toMap
    assert(counts(1L) == ((0, 2, 0)))
    assert(counts(2L) == ((1, 0, 1)))
    assert(counts(3L) == ((0, 0, 0)))
    assert(counts(4L) == ((-1, -1, -1))) // null text stays null
    val scrubbed = Corpus.scrubbedText(docs).as[(Long, String, String)]
      .collect().map(r => r._1 -> r._2).toMap
    assert(scrubbed(1L) == "mail me at <EMAIL> or <EMAIL> today")
    assert(scrubbed(2L) == "see <URL> and host <IP> now")
    assert(scrubbed(3L) == "no pii here at all")
  }

  test("tokenBudgetStaged equals the one-window reference on real data") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long)].collect().toSet
    // several budgets, including one that cuts mid-source and one
    // below every doc (empty result) — staged must match exactly
    for (budget <- Seq(0L, 60L, 300L, 1000000L)) {
      val ref = rows(Corpus.tokenBudget(docs, budget))
      for (coarse <- Seq(1, 4, 1024))
        assert(rows(Corpus.tokenBudgetStaged(docs, budget, coarse)) == ref,
          s"budget=$budget coarse=$coarse")
    }
  }

  test("tokenBudget keeps the deterministic prefix, zero-token docs included") {
    // one source; priority order is (mixBucket, doc_id). Chosen ids'
    // buckets: establish order by computing mixBucket directly.
    val texts = Map(
      1L -> "one two three",        // 3 tokens
      2L -> "four five",            // 2 tokens
      3L -> "...",                  // 0 tokens (punctuation only)
      4L -> "six seven eight nine") // 4 tokens
    val docs = texts.toSeq.map { case (i, t) => (i, t, "s") }
      .toDF("doc_id", "text", "source")
    val order = docs
      .select($"doc_id", Corpus.mixBucket($"doc_id").as("mb"))
      .as[(Long, Long)].collect().sortBy(x => (x._2, x._1)).map(_._1)
    val sizes = Map(1L -> 3L, 2L -> 2L, 3L -> 0L, 4L -> 4L)
    val cums = order.scanLeft(0L)((acc, id) => acc + sizes(id)).tail
    // pick a budget that lands exactly ON a prefix boundary: the
    // boundary doc stays (<=), the next is cut
    val budget = cums(1)
    val expect = order.zip(cums).takeWhile(_._2 <= budget).map(_._1).toSet
    val kept = Corpus.tokenBudget(docs, budget)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expect)
    assert(Corpus.tokenBudgetStaged(docs, budget)
      .select("doc_id").as[Long].collect().toSet == expect)
  }

  test("interleaveStaged equals the one-window reference on real data") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Long)].collect().toSet
    val weights = Seq("src0" -> 1, "src1" -> 3)
    val ref = rows(Corpus.interleave(docs, weights, defaultWeight = 2))
    for (coarse <- Seq(1, 4, 1024))
      assert(rows(Corpus.interleaveStaged(docs, weights, 2, coarse)) == ref,
        s"coarse=$coarse")
  }

  test("interleave order serves sources proportionally to their weights") {
    // 30 docs each from a weight-3 and a weight-1 source: sorting by
    // (vt, source, doc_id) must serve A thrice per B in every prefix —
    // stride scheduling's invariant, here as the exact merged pattern.
    val docs = (0 until 30).flatMap(i =>
      Seq((i * 2L, "w3w3w3", "A"), (i * 2L + 1L, "w1w1", "B")))
      .toDF("doc_id", "text", "source")
    val order = Corpus.interleave(docs, Seq("A" -> 3, "B" -> 1), 1)
      .orderBy($"vt", $"source", $"doc_id")
      .select($"source").as[String].collect()
    val firstTwelve = order.take(12)
    assert(firstTwelve.count(_ == "A") == 9, firstTwelve.mkString(","))
    assert(firstTwelve.count(_ == "B") == 3, firstTwelve.mkString(","))
    // every prefix stays within one stride of the 3:1 ratio
    val counts = order.scanLeft((0, 0)) {
      case ((a, b), "A") => (a + 1, b)
      case ((a, b), _) => (a, b + 1)
    }.tail
    counts.filter { case (a, b) => a + b <= 40 }.foreach { case (a, b) =>
      assert(math.abs(a - 3 * b) <= 3, s"prefix drifted: a=$a b=$b")
    }
  }

  test("stratified sample: exactly n per source, heap == window selection") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = 3
    val got = Corpus.stratifiedSample(docs, n)
      .as[(Long, String)].collect()
    // exactly n per source (every synthetic source holds more than n)
    got.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length == n, s"$src: ${rows.length}")
    }
    // identical selection to the windowed spelling
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(Corpus.mixBucket($"doc_id").asc, $"doc_id".asc)
    val ref = docs.select($"doc_id", $"source")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn" <= n).select($"doc_id", $"source")
      .as[(Long, String)].collect().toSet
    assert(got.toSet == ref)
    // a source smaller than n yields all of it, not an error
    val tiny = Seq((1L, "t", "only")).toDF("doc_id", "text", "source")
    assert(Corpus.stratifiedSample(tiny, 5).count() == 1)
  }

  test("epoch upsampling: whole epochs plus a deterministic fractional share") {
    val docs = (1L to 40L).map(i => (i, "t", if (i <= 20) "hi" else "lo"))
      .toDF("doc_id", "text", "source")
    val out = Corpus.epochs(docs, Seq("hi" -> 250, "lo" -> 0), 100)
      .as[(Long, String, Long)].collect()
    assert(!out.exists(_._2 == "lo")) // 0 epochs drops the source
    val byDoc = out.filter(_._2 == "hi").groupBy(_._1)
      .view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(byDoc.size == 20)
    // 2.5 epochs: every doc twice, the mix-bucket half a third time
    val frac = (1L to 20L).filter(i =>
      i % Corpus.MixP * Corpus.MixA % Corpus.MixBuckets * 100L
        < 50L * Corpus.MixBuckets).toSet
    assert(frac.nonEmpty && frac.size < 20) // the fraction really splits
    byDoc.foreach { case (id, eps) =>
      val expect = if (frac(id)) Seq(0L, 1L, 2L) else Seq(0L, 1L)
      assert(eps == expect, s"doc $id")
    }
    // default 100: exactly one epoch-0 row per doc
    val one = Corpus.epochs(docs, Nil, 100).as[(Long, String, Long)].collect()
    assert(one.length == 40 && one.forall(_._3 == 0L))
  }

  test("training mix == the one-window reference chain, budget and order kept") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rates = Seq("src0" -> 5, "src1" -> 80)
    val weights = Seq("src0" -> 1, "src1" -> 3)
    val budget = 400L
    // independent reference: every stage in its UNstaged one-window form
    val refRows = Corpus.cached {
      val sampled = Corpus.sampleWeighted(docs, rates, 30)
      val kept = Corpus.tokenBudget(sampled, budget)
      Corpus.interleave(kept, weights, 2)
        .join(kept.select($"doc_id", $"n_tokens", $"cum_tokens"), "doc_id")
        .select($"doc_id", $"source", $"n_tokens", $"cum_tokens",
          $"src_rank", $"vt")
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    }
    val mix = Corpus.cached {
      Corpus.trainingMix(docs, rates, 30, budget, weights, 2)
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    }
    assert(mix == refRows && mix.nonEmpty)
    // manifest invariants: budget respected per source, ranks dense
    val bySource = mix.groupBy(_._2)
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_._4).max <= budget, s"$src over budget")
      assert(rows.map(_._5).toSeq.sorted == (1L to rows.size).toSeq,
        s"$src ranks not dense")
    }
  }

  test("shard assignment is deterministic, total, and roughly balanced") {
    val docs = (0L until 4096L).map(i => (i, s"w$i x y", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val n = 16
    val a = Corpus.shardAssignment(docs, n)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    val b = Corpus.shardAssignment(docs.repartition(13), n)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(a == b)                       // partitioning-independent
    assert(a.size == 4096)               // total: every doc sharded
    assert(a.values.forall(s => s >= 0 && s < n))
    val counts = a.values.groupBy(identity).view.mapValues(_.size)
    assert(counts.size == n)             // every shard populated
    assert(counts.values.max < 2 * counts.values.min,
      s"shard skew: $counts")            // multiplicative hash spreads
    val report = Corpus.shardReport(docs, n)
      .as[(Int, Long, Long, Long)].collect()
    assert(report.map(_._2).sum == 4096L)
    assert(report.forall(_._4 == 4L))    // every source in every shard
  }

  test("fuzzy decontamination flags near-copies, not one-shingle brushes") {
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog", "eval"),
    ).toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s"), // exact copy
      (2L, "the quick brown cat sleeps here right now ok", "s"), // 1 shared trigram
      (3L, "completely unrelated clean training text words", "s"),
    ).toDF("doc_id", "text", "source")
    val out = Corpus.decontaminateFuzzy(train, evalDocs, 3, 0.8)
      .as[(Long, Long, Double, Long)].collect().toList
    assert(out == List((1L, 1L, 1.0, 100L)))
    // the exact pass WOULD flag doc 2 — that contrast is the operator
    val exact = Corpus.decontaminate(train, evalDocs, 3)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L))
  }

  test("source overlap censuses shared shingles and set jaccard per pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta eps", "srcA"),  // 4-grams: ABGD, BGDE
      (2L, "alpha beta gamma delta zeta", "srcB"), // 4-grams: ABGD, BGDZ
      (3L, "alpha beta gamma delta eps", "srcB"),  // dup within B: no double count
      (4L, "tiny", "srcC"),                        // too short: no shingles
    ).toDF("doc_id", "text", "source")
    val out = Corpus.sourceOverlap(docs, 4)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    // B holds {ABGD, BGDZ, BGDE}: doc 3 adds B's copy of BGDE
    assert(out == List(("srcA", "srcB", 2L, 2L, 3L, 2.0 / 3.0)))
  }

  test("delta-maintained source overlap == full census; re-ingest adds nothing") {
    // fuzzed corpus with heavy cross-source shingle sharing, incl. a
    // source that exists ONLY in the delta split
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0 until 60).map { i =>
      val len = 6 + rnd.nextInt(18)
      val src = if (i % 3 == 0 && i % 2 == 1) "srcNew" else s"src${i % 4}"
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "), src)
    }.toDF("doc_id", "text", "source")
    import org.apache.spark.sql.functions.col
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Long, Long, Double)].collect().toSet
    val full = rows(Corpus.sourceOverlap(docs, 3))
    val store = Corpus.sourceOverlapStore(old, 3)
    val d1 = Corpus.sourceOverlapDelta(store, delta)
    assert(rows(d1.census) == full)
    // idempotent: replaying the same delta changes nothing
    val d2 = Corpus.sourceOverlapDelta(d1.updatedStore, delta)
    assert(rows(d2.census) == full)
    assert(d2.updatedStore.rows.count() == d1.updatedStore.rows.count())
  }

  test("packReport equals the one-window in-memory reference on real data") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions.{coalesce, col, lit, size}
    val nShards = 4
    // independent reference: collect (mb, id, n_tokens), sort per
    // shard, exact sequential prefix sum, spans from the scan
    val sized = docs.select(col("doc_id"),
        coalesce(size(graft.functions.Text.tokens(col("text"))).cast("long"),
          lit(0L)).as("n"),
        Corpus.mixBucket(col("doc_id")).as("mb"))
      .as[(Long, Long, Long)].collect()
    def reference(seqLen: Long) = sized
      .groupBy { case (_, _, mb) => (mb * nShards / Corpus.MixBuckets).toInt }
      .iterator.flatMap { case (shard, ds) =>
        var off = 0L
        ds.sortBy { case (id, _, mb) => (mb, id) }.map { case (id, n, _) =>
          val first = off / seqLen
          val last = (off + math.max(n, 1L) - 1L) / seqLen
          val r = (id, shard, n, off, first, last,
            if (first != last) 1 else 0)
          off += n; r
        }
      }.toSet
    def staged(seqLen: Long, coarse: Int) =
      Corpus.packReport(docs, seqLen, nShards, coarse)
        .as[(Long, Int, Long, Long, Long, Long, Int)].collect().toSet
    // seqLen 37 forces many splits; 512 is the registered binding
    for (seqLen <- Seq(37L, 512L); coarse <- Seq(1, 4, 1024))
      assert(staged(seqLen, coarse) == reference(seqLen),
        s"seqLen=$seqLen coarse=$coarse")
    // splits actually occur at the small seqLen (the test has teeth)
    assert(reference(37L).exists(_._7 == 1))
  }

  test("packReport split semantics: boundary crossing, zero-token point span") {
    // one shard → the pack order is just (mixBucket, id); derive it
    val texts = Map(
      1L -> Seq.fill(5)("w").mkString(" "),  // 5 tokens
      2L -> "...",                            // 0 tokens
      3L -> Seq.fill(4)("w").mkString(" "),  // 4 tokens
      4L -> Seq.fill(3)("w").mkString(" "))  // 3 tokens
    val docs = texts.toSeq.map { case (i, t) => (i, t, "s") }
      .toDF("doc_id", "text", "source")
    val order = docs
      .select($"doc_id", Corpus.mixBucket($"doc_id").as("mb"))
      .as[(Long, Long)].collect().sortBy(x => (x._2, x._1)).map(_._1)
    val sizes = Map(1L -> 5L, 2L -> 0L, 3L -> 4L, 4L -> 3L)
    val offs = order.scanLeft(0L)((acc, id) => acc + sizes(id))
    val byDoc = Corpus.packReport(docs, seqLen = 4L, nShards = 1)
      .as[(Long, Int, Long, Long, Long, Long, Int)]
      .collect().map(r => r._1 -> r).toMap
    order.zip(offs).foreach { case (id, off) =>
      val (_, shard, n, o, first, last, isSplit) = byDoc(id)
      assert(shard == 0 && n == sizes(id) && o == off, s"doc $id")
      assert(first == off / 4 && last == (off + math.max(n, 1L) - 1) / 4)
      assert(isSplit == (if (first != last) 1 else 0))
      // a zero-token doc occupies a point span and never splits
      if (n == 0L) assert(first == last && isSplit == 0)
    }
    // total tokens 12 over seqLen 4: docs at offsets that cross a
    // multiple-of-4 boundary must be flagged; at least one is
    assert(byDoc.values.exists(_._7 == 1))
  }
}
