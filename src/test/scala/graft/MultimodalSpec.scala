package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** r20 (VERDICT r19 item #6): a STATEFUL, non-lambda decoder — a
  * Serializable case class parsing a synthetic "GVID" video container
  * (magic, u8 width/height/fps header, raw frame bytes) — exercising
  * the [[Multimodal.BatchDecoder]] seam's two contracts beyond the
  * JDK default and beyond the lambda the r15 seam test uses: the
  * INSTANCE (with its config fields) ships inside the task closure
  * across executors, and per-batch work amortizes (one "codec init"
  * per batchSize group, counted via the accumulator — a real
  * javacv/ffmpeg binding's native context setup is exactly the cost
  * this batching exists to amortize). Rows that don't match the magic
  * delegate to [[Multimodal.decodeBatch]], the composition the seam
  * scaladoc recommends for a deployment's real codec. Top-level, so
  * serialization can't silently capture the suite instance. */
final case class SyntheticVideoDecoder(
    magic: Array[Byte], batches: org.apache.spark.util.LongAccumulator)
  extends (Seq[(Long, Array[Byte])] => Seq[(Long, Int, Array[Float])]) {
  def apply(batch: Seq[(Long, Array[Byte])]): Seq[(Long, Int, Array[Float])] = {
    batches.add(1) // one codec init per BATCH, not per row
    val (vid, rest) = batch.partition(_._2.startsWith(magic))
    val decoded = vid.map { case (id, b) =>
      val w = b(magic.length) & 0xFF
      val h = b(magic.length + 1) & 0xFF
      val fps = b(magic.length + 2) & 0xFF
      val frames = (b.length - magic.length - 3) / math.max(w * h, 1)
      (id, b.length,
        Array(w.toFloat, h.toFloat, fps.toFloat, frames.toFloat))
    }
    decoded ++ (if (rest.nonEmpty) Multimodal.decodeBatch(rest) else Nil)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  def docs = Seq(
    (1L, "a" * 200, "s"),
    (2L, "short", "s"),
    (3L, "%PDF-1.4 fake pdf header content", "s"),
  ).toDF("doc_id", "text", "source")

  test("metadata sniffs kind and hashes payload bytes") {
    val m = Multimodal.metadata(docs).as[(Long, Int, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(m(1L)._2 == 200 && m(1L)._4 == "text/plain")
    assert(m(3L)._4 == "application/pdf")
  }

  test("frame sampling: full windows only, correct stride arithmetic") {
    val f = Multimodal.frames(docs, frameLen = 64, stride = 48)
      .as[(Long, Long, Int, String)].collect()
    val byDoc = f.groupBy(_._1)
    assert(byDoc(1L).length == (200 - 64) / 48 + 1) // = 3
    assert(byDoc(1L).forall(_._3 == 64)) // every frame full length
    assert(!byDoc.contains(2L)) // shorter than one frame → no rows
    // all frames of doc 1 are identical bytes → identical hashes
    assert(byDoc(1L).map(_._4).distinct.length == 1)
  }

  test("kind census counts payloads, distinct content, and bytes per kind") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 1, 2)
    val txt = "hello world".getBytes("UTF-8")
    val payloads = Seq(
      (1L, png), (2L, png),                                // duplicated image
      (3L, txt), (4L, txt), (5L, "other".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val r = Multimodal.kindCensusOf(payloads)
      .as[(String, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r.size == 2)
    assert(r("image/png") == (("image/png", 2L, 1L, 20L)))
    assert(r("text/plain") == (("text/plain", 3L, 2L, 27L)))
  }

  test("payload dedup elects the min-id keeper per byte-identical payload") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 1, 2)
    val txt = "hello world".getBytes("UTF-8")
    val payloads = Seq(
      (5L, png), (2L, png),                                // duplicated image
      (3L, txt), (4L, txt), (1L, "other".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val r = Multimodal.payloadDedupOf(payloads)
      .as[(Long, String, Long, Int)].collect().map(x => x._1 -> x).toMap
    assert(r.size == 5)
    assert(r(2L) == ((2L, "image/png", 2L, 0)))  // min id keeps
    assert(r(5L) == ((5L, "image/png", 2L, 1)))  // larger id is the dup
    assert(r(3L)._4 == 0 && r(4L) == ((4L, "text/plain", 3L, 1)))
    assert(r(1L)._4 == 0 && r(1L)._3 == 1L)      // unique content keeps itself
    // on the documents adapter the payload is the text's UTF-8 bytes, so
    // the keeper map must equal exact TEXT dedup's on the same corpus.
    // The corpus needs an actual duplicate (doc 4 repeats doc 2's text)
    // — on all-distinct rows every doc is its own keeper and the check
    // couldn't see keeper-election divergence between the operators.
    val dupDocs = docs.union(Seq((4L, "short", "s"))
      .toDF("doc_id", "text", "source"))
    val viaPayload = Multimodal.payloadDedup(dupDocs)
      .select("doc_id", "keep_id", "is_dup")
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    val viaText = graft.operators.Dedup.exact(dupDocs)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(viaPayload.sameElements(viaText))
    // and the duplicate really is non-trivial: doc 4 maps to keeper 2
    assert(viaPayload.find(_._1 == 4L).get == ((4L, 2L, 1)))
  }

  test("payload delta: sticky keepers, append-only ingest == full rescan") {
    // store corpus: docs 1-3; append-only delta: docs 4-6, where doc 4
    // repeats doc 2's bytes (must inherit the STORED keeper), docs 5+6
    // duplicate each other (new digest: delta-min election), and the
    // kind column rides the assignment
    val delta = Seq(
      (4L, "short", "s"), (5L, "%PDF-1.4 brand new", "s"),
      (6L, "%PDF-1.4 brand new", "s")).toDF("doc_id", "text", "source")
    val store = Multimodal.payloadStore(docs)
    val r = Multimodal.payloadDedupDelta(store, delta)
    val asg = r.assignment.as[(Long, String, Long, Int)].collect()
      .map(x => x._1 -> x).toMap
    assert(asg.size == 3)
    assert(asg(4L) == ((4L, "text/plain", 2L, 1)))        // sticky store keeper
    assert(asg(5L) == ((5L, "application/pdf", 5L, 0)))   // delta-min keeps
    assert(asg(6L) == ((6L, "application/pdf", 5L, 1)))
    // append-only ingest reproduces the full rescan exactly
    val full = Multimodal.payloadDedup(docs.union(delta))
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 4L)
      .select("doc_id", "kind", "keep_id", "is_dup")
      .as[(Long, String, Long, Int)].collect().map(x => x._1 -> x).toMap
    assert(asg == full)
    // the updated store has exactly one row per distinct digest and
    // feeds the next ingest: a re-ingest of doc 6 is a no-op dup
    assert(r.updatedStore.keepers.count() == 4) // 3 store digests + 1 new
    val again = Multimodal.payloadDedupDelta(r.updatedStore,
      Seq((6L, "%PDF-1.4 brand new", "s")).toDF("doc_id", "text", "source"))
    assert(again.assignment.as[(Long, String, Long, Int)].collect()
      .toSeq == Seq((6L, "application/pdf", 5L, 1)))
    assert(again.updatedStore.keepers.count() == 4)
  }

  test("payload near-dup delta == full run restricted to delta-touching pairs, idempotent") {
    // frames are 64-byte windows every 48 bytes, so a doc sharing a
    // long prefix shares its aligned frames: base (200 chars) yields
    // frames at 0/48/96; base+tail (214) adds a 4th at 144 — J = 3/4.
    val base = ("the quick brown fox jumps over the lazy dog again and " +
      "again and again while the crawler records every byte it sees " +
      "for the media near dup fixture corpus of this spec today " * 2)
      .take(200)
    val other = ("completely different content with no shared windows " +
      "anywhere in the byte stream of this second store document " * 4)
      .take(220)
    val tailed = base + " tail-variant!"
    val store0 = Seq((1L, base, "s"), (2L, other, "s"))
      .toDF("doc_id", "text", "source")
    val delta = Seq((9L, tailed, "s"), (12L, tailed, "s"))
      .toDF("doc_id", "text", "source")
    val tau = 0.5
    val st = Multimodal.payloadNearDupStore(store0, tau)
    val r = Multimodal.payloadNearDupDelta(st, delta, tau)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // delta == the full run restricted to delta-touching pairs: the
    // cross-boundary pair (1,9), the delta-internal byte-copy (9,12),
    // and (1,12); the store-internal non-pair (1,2) stays absent
    val full = Multimodal.payloadNearDup(store0.union(delta), tau)
    val fullTouching = pairSet(full)
      .filter { case (a, b) => a >= 9L || b >= 9L }
    assert(pairSet(r.pairs) == fullTouching)
    assert(fullTouching == Set((1L, 9L), (1L, 12L), (9L, 12L)))
    // jaccard values ride the pairs (the (1,9) pair shares 3 of 4)
    import org.apache.spark.sql.functions.col
    val j19 = r.pairs.filter(col("id_a") === 1L && col("id_b") === 9L)
      .select("jaccard").as[Double].collect().head
    assert(j19 == 0.75)
    // re-ingest of doc 12 against the grown store is idempotent: its
    // stored rows are replaced, its touching pairs re-emit identically
    val again = Multimodal.payloadNearDupDelta(r.updatedStore,
      Seq((12L, tailed, "s")).toDF("doc_id", "text", "source"), tau)
    assert(pairSet(again.pairs) == Set((1L, 12L), (9L, 12L)))
    assert(again.updatedStore.store.rows.count() ==
      r.updatedStore.store.rows.count())
  }

  test("payloadRetract: takedown equals payloadDedup over the survivors") {
    // keeper takedown (doc 2 keeps the duplicated text's digest in the
    // dupDocs fixture below), non-keeper takedown, and an emptied
    // digest — the exactRetract quartet on the payload seam, with the
    // sniffed kind riding the re-elected assignment
    val dupDocs = docs.union(Seq((4L, "short", "s"))
      .toDF("doc_id", "text", "source"))
    val rIds = Seq(2L).toDF("doc_id") // the (2,4) digest group's keeper
    val r = Multimodal.payloadRetract(Multimodal.payloadStore(dupDocs), rIds)
    val surv = dupDocs.filter($"doc_id" =!= 2L)
    def asg(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "kind", "keep_id", "is_dup")
        .as[(Long, String, Long, Int)].collect().toSet
    assert(asg(r.assignment) == asg(Multimodal.payloadDedup(surv)))
    // doc 4 re-elected itself as the digest's keeper
    assert(asg(r.assignment).contains((4L, "text/plain", 4L, 0)))
    val keeperRows = r.updatedStore.keepers.as[(String, Long)].collect().toSet
    assert(keeperRows == Multimodal.payloadStore(surv).keepers
      .as[(String, Long)].collect().toSet)
    // the shrunk stores feed the next ingest: re-admitting doc 2's
    // bytes under a fresh id inherits the RE-ELECTED keeper
    val again = Multimodal.payloadDedupDelta(r.updatedStore,
      Seq((9L, "short", "s")).toDF("doc_id", "text", "source"))
    assert(again.assignment.as[(Long, String, Long, Int)].collect()
      .toSeq == Seq((9L, "text/plain", 4L, 1)))
  }

  test("payloadNearDupRetract: the shrunk frame store equals a fresh survivor store through a delta") {
    val base = ("the quick brown fox jumps over the lazy dog again and " +
      "again and again while the crawler records every byte it sees " +
      "for the media near dup fixture corpus of this spec today " * 2)
      .take(200)
    val other = ("completely different content with no shared windows " +
      "anywhere in the byte stream of this second store document " * 4)
      .take(220)
    val tailed = base + " tail-variant!"
    val store0 = Seq((1L, base, "s"), (2L, other, "s"), (3L, base, "s"))
      .toDF("doc_id", "text", "source")
    val tau = 0.5
    // retract doc 1 (a pair-capable payload), then ingest the tailed
    // variant: pairs must come from the SURVIVORS only — a stale frame
    // row would resurrect the (1, 9) pair
    val ret = Multimodal.payloadNearDupRetract(
      Multimodal.payloadNearDupStore(store0, tau), Seq(1L).toDF("doc_id"))
    val delta = Seq((9L, tailed, "s")).toDF("doc_id", "text", "source")
    val d1 = Multimodal.payloadNearDupDelta(ret, delta, tau)
    val fresh = Multimodal.payloadNearDupStore(
      store0.filter($"doc_id" =!= 1L), tau)
    val d2 = Multimodal.payloadNearDupDelta(fresh, delta, tau)
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairSet(d1.pairs) == pairSet(d2.pairs))
    assert(pairSet(d1.pairs) == Set((3L, 9L))) // 1 is gone, 3 pairs
    assert(ret.store.rows.collect().toSet == fresh.store.rows.collect().toSet)
  }

  test("batched decode is batch-size- and partition-independent") {
    val a = Multimodal.features(docs.repartition(1), batchSize = 2)
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    val b = Multimodal.features(docs.repartition(3), batchSize = 64)
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    assert(a.length == 3 && a.map(_._1).sameElements(b.map(_._1)))
    a.zip(b).foreach { case (x, y) =>
      assert(x._2 == y._2 && x._3.sameElements(y._3))
    }
    assert(a.forall(_._3.length == 16)) // fixed-length feature vector
    // L1 normalization: histogram sums to ~1
    assert(math.abs(a.head._3.sum - 1f) < 1e-5)
  }

  test("decoder seam: a caller-supplied batch decoder replaces the JDK routing") {
    // r15 (VERDICT r14 forward gap #1): the batching/schema/partition
    // plumbing is features()'s; the codec is a pluggable function, so
    // a deployment wires javacv/ffmpeg without forking the operator.
    // The custom decoder here marks every row with a recognizable
    // constant histogram and doubles n_bytes — both must surface.
    val marker: Multimodal.BatchDecoder = batch =>
      batch.map { case (id, bytes) =>
        (id, bytes.length * 2, Array.tabulate(16)(i => if (i == 0) 1f else 0f))
      }
    val rows = Multimodal.features(docs, batchSize = 2, decoder = marker)
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    assert(rows.length == 3)
    assert(rows.forall(r => r._3(0) == 1f && r._3.drop(1).forall(_ == 0f)))
    val lens = docs.as[(Long, String, String)].collect()
      .map(d => d._1 -> d._2.length).toMap
    assert(rows.forall(r => r._2 == lens(r._1) * 2))
    // and the default decoder's routing is untouched by the seam
    val dflt = Multimodal.features(docs).as[(Long, Int, Array[Float])]
      .collect().sortBy(_._1)
    assert(dflt.forall(r => r._2 == lens(r._1)))
  }

  test("decoder seam: a stateful Serializable decoder (synthetic video) " +
    "round-trips tasks and amortizes init per batch (r20, VERDICT r19 #6)") {
    import org.apache.spark.sql.functions.col
    val magic = "GVID".getBytes("US-ASCII")
    def vid(id: Long, w: Int, h: Int, fps: Int,
            frames: Int): (Long, Array[Byte]) =
      (id, magic ++ Array(w.toByte, h.toByte, fps.toByte) ++
        Array.fill(w * h * frames)(0x7F.toByte))
    val raw = Seq(
      vid(1L, 4, 3, 24, 5), vid(2L, 8, 2, 30, 2),
      (3L, "plain text payload".getBytes("US-ASCII")),
      vid(4L, 2, 2, 12, 7),
      (5L, "another non-video".getBytes("US-ASCII")),
      (6L, "x".getBytes("US-ASCII")))
    val payloads = raw.toDF("doc_id", "payload")
    val acc = spark.sparkContext.longAccumulator("decoder_batches")
    val dec = SyntheticVideoDecoder(magic, acc)
    val rows = Multimodal
      .featuresOf(payloads.repartition(1), batchSize = 2, decoder = dec)
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    // amortization: 6 rows at batchSize 2 on one partition = exactly
    // 3 decoder invocations — the per-batch codec init ran once per
    // GROUP, never once per row
    assert(acc.value == 3L,
      s"expected 3 per-batch codec inits for 6 rows @ batchSize=2, " +
        s"got ${acc.value}")
    // header-derived features surface verbatim
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._3.sameElements(Array(4f, 3f, 24f, 5f)))
    assert(byId(2L)._3.sameElements(Array(8f, 2f, 30f, 2f)))
    assert(byId(4L)._3.sameElements(Array(2f, 2f, 12f, 7f)))
    assert(byId(1L)._2 == magic.length + 3 + 4 * 3 * 5)
    // non-video rows delegate to the default routing byte-for-byte
    val dflt = Multimodal
      .featuresOf(payloads.filter(col("doc_id").isin(3L, 5L, 6L)))
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    dflt.foreach { d =>
      assert(byId(d._1)._2 == d._2 && byId(d._1)._3.sameElements(d._3),
        s"non-video row ${d._1} must match the default decoder exactly")
    }
    // the INSTANCE serializes into multi-task closures and the result
    // is partition-independent (3 tasks, each ≤1 batch at size 64)
    acc.reset()
    val rows3 = Multimodal
      .featuresOf(payloads.repartition(3), batchSize = 64, decoder = dec)
      .as[(Long, Int, Array[Float])].collect().sortBy(_._1)
    assert(rows3.map(_._1).sameElements(rows.map(_._1)))
    rows.zip(rows3).foreach { case (x, y) =>
      assert(x._2 == y._2 && x._3.sameElements(y._3))
    }
    assert(acc.value <= 3L, "one batch per non-empty partition at most")
  }

  // The F-family oracles slice `documents.text` with CHARACTER-indexed
  // substr()/length()/ord() while the Spark side frames UTF-8 BYTES —
  // equivalent only while the corpus is pure ASCII (one byte per char).
  // This gate makes that assumption fail LOUDLY on a driver data regen
  // that introduces any multi-byte character, instead of surfacing as
  // an unexplained mm_* hash mismatch (the failure mode the round-10
  // parquet-encoding regen showed is possible). octet_length == char
  // length under UTF-8 ⇔ every char is one byte ⇔ ASCII.
  test("GATE: documents.text is pure ASCII (F-family byte==char oracle assumption)") {
    import org.apache.spark.sql.functions.{col, length, octet_length}
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val dir = s"/root/testdata/$sf/documents.parquet"
      if (new java.io.File(dir).exists()) {
        val nonAscii = spark.read.parquet(dir)
          .filter(col("text").isNotNull &&
            octet_length(col("text")) =!= length(col("text"))).count()
        assert(nonAscii == 0L,
          s"$sf documents.text has $nonAscii non-ASCII rows: the " +
            "MultimodalRegistry oracles' char-indexed substr/length/ord " +
            "no longer equal the Spark side's byte framing — rewrite " +
            "those oracles over encode(text) BLOB byte offsets")
      }
    }
  }
}
