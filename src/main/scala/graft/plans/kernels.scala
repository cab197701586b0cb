package graft.plans

import java.util.Locale

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row kernels invoked from generated code (static forwarders make
  * them callable as plain Java statics from Janino-compiled stages).
  * Semantics are pinned to the column-function compositions they
  * replace — the DuckDB oracles don't change.
  */
object TextKernels {

  /** Letter-run tokens, lowercased after the split — identical to
    * `filter(transform(split(c, "[^\p{L}]+"), lower), _ != "")`
    * (reference main.go:141-151 order) but one virtual call per row
    * instead of an interpreted lambda per token.
    *
    * One pass over the row's UTF-8 bytes: each code point is decoded,
    * tested with `Character.isLetter` (a range check for ASCII),
    * lowercased with `Character.toLowerCase` (`| 0x20` for ASCII) and
    * encoded into one per-row buffer; each token is a view into it.
    * Per-code-point lowercasing equals `UTF8String.toLowerCase` (that
    * is `String.toLowerCase()` in the default locale) except in three
    * cases, where the whole row takes the String path instead:
    *  - malformed UTF-8 (Java's decoder would insert U+FFFD);
    *  - U+0130 or U+03A3, which `String.toLowerCase` maps with its
    *    multi-char and final-sigma rules;
    *  - a tr/az/lt default locale, whose casing rules are contextual. */
  def tokens(s: UTF8String): ArrayData = tokens(s, Locale.getDefault)

  /** [[tokens]] as it runs under default locale `locale`, so specs can
    * take the tr/az/lt fallback without changing the JVM-wide default. */
  private[graft] def tokens(s: UTF8String, locale: Locale): ArrayData = {
    val lang = locale.getLanguage
    val out = if (lang == "tr" || lang == "az" || lang == "lt") null else tokensUtf8(s)
    if (out != null) out else tokensUnicode(s, locale)
  }

  /** The byte pass of [[tokens]]; null where the row needs the String
    * path. */
  private def tokensUtf8(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    // lowercasing can lengthen a code point's encoding (U+023A → U+2C65)
    var buf = new Array[Byte](n)
    var len = 0
    var ends = new Array[Int](16)
    var nTok = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i)
      var lc = -1 // the lowercased letter, or -1 at a separator
      if (b0 >= 0) {
        val l = b0 | 0x20
        if (l >= 'a' && l <= 'z') lc = l
        i += 1
      } else {
        val b = b0 & 0xFF
        var cp = 0
        if (b < 0xC2 || b > 0xF4) return null // stray continuation, overlong lead, > U+10FFFF
        else if (b < 0xE0) {
          val c1 = cont(s, i + 1, n, 0x80, 0xBF)
          if (c1 < 0) return null
          cp = ((b & 0x1F) << 6) | c1
          i += 2
        } else if (b < 0xF0) {
          // E0 excludes overlongs, ED excludes encoded surrogates
          val c1 = cont(s, i + 1, n, if (b == 0xE0) 0xA0 else 0x80, if (b == 0xED) 0x9F else 0xBF)
          val c2 = cont(s, i + 2, n, 0x80, 0xBF)
          if (c1 < 0 || c2 < 0) return null
          cp = ((b & 0x0F) << 12) | (c1 << 6) | c2
          i += 3
        } else {
          // F0 excludes overlongs, F4 caps at U+10FFFF
          val c1 = cont(s, i + 1, n, if (b == 0xF0) 0x90 else 0x80, if (b == 0xF4) 0x8F else 0xBF)
          val c2 = cont(s, i + 2, n, 0x80, 0xBF)
          val c3 = cont(s, i + 3, n, 0x80, 0xBF)
          if (c1 < 0 || c2 < 0 || c3 < 0) return null
          cp = ((b & 0x07) << 18) | (c1 << 12) | (c2 << 6) | c3
          i += 4
        }
        if (cp == 0x0130 || cp == 0x03A3) return null
        if (Character.isLetter(cp)) lc = Character.toLowerCase(cp)
      }
      if (lc >= 0) {
        inTok = true
        if (len + 4 > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, len + 4))
        len = encode(lc, buf, len)
      }
      if (inTok && (lc < 0 || i == n)) {
        if (nTok == ends.length) ends = java.util.Arrays.copyOf(ends, 2 * nTok)
        ends(nTok) = len; nTok += 1
        inTok = false
      }
    }
    val out = new Array[Any](nTok)
    var t = 0
    var start = 0
    while (t < nTok) {
      out(t) = UTF8String.fromBytes(buf, start, ends(t) - start)
      start = ends(t)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** The continuation byte at `j` as its 6 payload bits, or -1 when it
    * is past the end or outside [lo, hi]. */
  @inline private def cont(s: UTF8String, j: Int, n: Int, lo: Int, hi: Int): Int =
    if (j >= n) -1
    else {
      val c = s.getByte(j) & 0xFF
      if (c < lo || c > hi) -1 else c & 0x3F
    }

  /** UTF-8 encodes `cp` at `buf(at)`; returns the end offset. */
  @inline private def encode(cp: Int, buf: Array[Byte], at: Int): Int =
    if (cp < 0x80) { buf(at) = cp.toByte; at + 1 }
    else if (cp < 0x800) {
      buf(at) = (0xC0 | (cp >> 6)).toByte
      buf(at + 1) = (0x80 | (cp & 0x3F)).toByte
      at + 2
    } else if (cp < 0x10000) {
      buf(at) = (0xE0 | (cp >> 12)).toByte
      buf(at + 1) = (0x80 | ((cp >> 6) & 0x3F)).toByte
      buf(at + 2) = (0x80 | (cp & 0x3F)).toByte
      at + 3
    } else {
      buf(at) = (0xF0 | (cp >> 18)).toByte
      buf(at + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
      buf(at + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
      buf(at + 3) = (0x80 | (cp & 0x3F)).toByte
      at + 4
    }

  /** The String path of [[tokens]]: each letter run lowercased as
    * `UTF8String.toLowerCase` does under default locale `locale` (an
    * all-ASCII run by ASCII rules, any other by `String.toLowerCase`). */
  private def tokensUnicode(s: UTF8String, locale: Locale): ArrayData = {
    val str = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val n = str.length
    var i = 0
    while (i < n) {
      // skip separator run
      while (i < n && !Character.isLetter(str.codePointAt(i))) i += Character.charCount(str.codePointAt(i))
      val start = i
      while (i < n && Character.isLetter(str.codePointAt(i))) i += Character.charCount(str.codePointAt(i))
      if (i > start) {
        val tok = str.substring(start, i)
        out += UTF8String.fromString(
          if (tok.forall(_ < 0x80)) tok.toLowerCase(Locale.ROOT) else tok.toLowerCase(locale))
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Word n-grams with multiplicity: each run of `n` consecutive
    * elements joined by one space — identical to
    * `flatten(transform(array(toks), ts => transform(sequence(0,
    * size(ts) - n), i => concat_ws(" ", ts[i], …, ts[i+n-1]))))`,
    * including `concat_ws`'s skipping of null elements. A null array or
    * one shorter than `n` gives `[]`. Every n-gram's bytes are copied
    * once into one per-row buffer; the n-grams are views into it. */
  def ngrams(toks: ArrayData, n: Int): ArrayData = {
    val cnt = if (toks == null) 0 else toks.numElements()
    val m = cnt - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val ts = new Array[UTF8String](cnt)
    var j = 0
    while (j < cnt) {
      if (!toks.isNullAt(j)) ts(j) = toks.getUTF8String(j)
      j += 1
    }
    // the buffer holds every n-gram: its non-null elements' bytes plus
    // one space between each pair, summed by a sliding window
    var winBytes = 0L
    var winElems = 0
    var total = 0L
    j = 0
    while (j < cnt) {
      if (ts(j) != null) { winBytes += ts(j).numBytes; winElems += 1 }
      if (j >= n && ts(j - n) != null) { winBytes -= ts(j - n).numBytes; winElems -= 1 }
      if (j >= n - 1) total += winBytes + math.max(winElems - 1, 0)
      j += 1
    }
    val buf = new Array[Byte](Math.toIntExact(total))
    val out = new Array[Any](m)
    var pos = 0
    var g = 0
    while (g < m) {
      val start = pos
      var first = true
      var k = 0
      while (k < n) {
        val t = ts(g + k)
        if (t != null) {
          if (!first) { buf(pos) = ' '; pos += 1 }
          first = false
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t.numBytes
        }
        k += 1
      }
      out(g) = UTF8String.fromBytes(buf, start, pos - start)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Unsegmented scripts (Han/Hiragana/Katakana/Hangul) have no
    * whitespace word boundaries, so the letter-run tokenizer above
    * returns a CJK sentence as ONE giant token — fine for reference
    * parity, wrong for per-token statistics. */
  private def isCjk(cp: Int): Boolean = {
    val sc = Character.UnicodeScript.of(cp)
    sc == Character.UnicodeScript.HAN ||
      sc == Character.UnicodeScript.HIRAGANA ||
      sc == Character.UnicodeScript.KATAKANA ||
      sc == Character.UnicodeScript.HANGUL
  }

  /** CJK-aware tokenization: non-CJK letter runs tokenize exactly as
    * [[tokens]] (split on non-letters, lowercase after), while runs of
    * unsegmented-script characters emit overlapping character BIGRAMS
    * (a single-character run emits that character) — the standard
    * char-n-gram fallback for scripts without whitespace boundaries.
    * Mixed text needs no gating: each run takes its script's path. */
  def tokensCjk(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val n = str.length
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      if (isCjk(cp)) {
        // CJK run → overlapping char bigrams
        var prevStart = i
        i += Character.charCount(cp)
        var emitted = false
        while (i < n && isCjk(str.codePointAt(i))) {
          val next = i + Character.charCount(str.codePointAt(i))
          out += UTF8String.fromString(str.substring(prevStart, next))
          prevStart = i
          i = next
          emitted = true
        }
        if (!emitted) out += UTF8String.fromString(str.substring(prevStart, i))
      } else if (Character.isLetter(cp)) {
        // non-CJK letter run, lowercased after the split ([[tokens]])
        val start = i
        while (i < n && {
          val c = str.codePointAt(i); Character.isLetter(c) && !isCjk(c)
        }) i += Character.charCount(str.codePointAt(i))
        out += UTF8String.fromString(str.substring(start, i)).toLowerCase
      } else i += Character.charCount(cp)
    }
    new GenericArrayData(out.toArray)
  }
}

/** Dense-vector kernels: strict left-to-right double accumulation,
  * bit-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` over
  * double-cast inputs (and to DuckDB's `list_reduce`). One tight loop
  * per row; elements promoted exactly as SQL CAST would. */
object VecKernels {
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    acc
  }
  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
}

/** IVF coarse-quantization kernel: per-row nearest-cells selection over
  * a broadcast codebook. Replaces the crossJoin + row_number argmax
  * (which materialized and shuffled n x n_centroids rows) with a plain
  * projection — zero row blowup, no exchange between scan and cell
  * assignment. Centroids arrive L2-normalized, so ranking by
  * dot(v, unit_c) is exactly ranking by cosine (norm(v) > 0 scales all
  * candidates equally); ties break on the smaller centroid id. */
object IvfKernels {

  /** Top-`nProbe` centroid ids for `v` (float vector) against aligned
    * arrays `cids` (bigint) and `units` (L2-normalized double vectors),
    * best-first. */
  def nearestCells(v: ArrayData, cids: ArrayData, units: ArrayData,
                   nProbe: Int): ArrayData = {
    val nC = math.min(cids.numElements(), units.numElements())
    val n = math.min(nProbe, nC)
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    // sorted best-first insertion lists (n is tiny: 1-4)
    val bestS = new Array[Double](n)
    val bestI = new Array[Long](n)
    var count = 0
    var c = 0
    while (c < nC) {
      val u = units.getArray(c)
      val dim = math.min(v.numElements(), u.numElements())
      var acc = 0.0; var j = 0
      while (j < dim) { acc += v.getFloat(j).toDouble * u.getDouble(j); j += 1 }
      val cid = cids.getLong(c)
      // find insert position: first slot this candidate beats
      var pos = count
      while (pos > 0 && better(acc, cid, bestS(pos - 1), bestI(pos - 1))) pos -= 1
      if (pos < n) {
        val last = math.min(count, n - 1)
        var m = last
        while (m > pos) { bestS(m) = bestS(m - 1); bestI(m) = bestI(m - 1); m -= 1 }
        bestS(pos) = acc; bestI(pos) = cid
        if (count < n) count += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestI, count))
  }

  // SQL double ordering (-0.0 == 0.0, NaN greatest); ties on smaller id.
  @inline private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val cmp = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
    if (cmp != 0) cmp > 0 else i1 < i2
  }
}

/** Per-row MinHash signature: for each permutation i, the minimum of
  * `xxhash64(i, xxhash64(s))` over the row's shingle set — the exact
  * chain Spark's XxHash64 expression evaluates (seed 42; children
  * folded as hash = compute(child, prevHash)), so this kernel is
  * bit-identical to the 128-column min-aggregate it replaces while
  * needing NO shuffle: signatures become a scan-side projection
  * instead of a hash-partitioned aggregation of the exploded shingle
  * table (one full exchange removed from the MinHash pipeline).
  */
object MinHashKernels {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  private val Seed = 42L

  /** Empty input → empty signature (callers filter empty shingle sets
    * out before signing, same as the aggregate path which never saw a
    * row for them). Null elements are skipped — `graft_minhash_sig` is
    * a registered SQL function, so the input array may carry nulls a
    * set semantics treats as absent (the operators themselves never
    * produce them). */
  def sig(shingles: ArrayData, perms: Int): ArrayData = {
    val nIn = shingles.numElements()
    val hs = new Array[Long](nIn)
    var n = 0
    var j = 0
    while (j < nIn) {
      if (!shingles.isNullAt(j)) {
        val s = shingles.getUTF8String(j)
        hs(n) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, Seed)
        n += 1
      }
      j += 1
    }
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](perms)
    var i = 0
    while (i < perms) {
      val permSeed = XXH64.hashInt(i, Seed)
      var m = Long.MaxValue
      var k = 0
      while (k < n) {
        val v = XXH64.hashLong(hs(k), permSeed)
        if (v < m) m = v
        k += 1
      }
      out(i) = m
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-row 64-bit SimHash: per-token xxhash64 bit votes (one vote per
  * OCCURRENCE — identical to the tf-weighted ±cnt sums of the r4
  * two-aggregate shape, since Σ_distinct ±cnt ≡ Σ_occurrences ±1 and
  * long addition is order-independent), sign → bit. Replaces BOTH
  * sketch-stage shuffles (the (doc, word) tf aggregate and the 64-vote
  * aggregate) with a scan-side projection.
  */
object SimHashKernels {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  private val Seed = 42L

  /** Empty token array → all votes negative → sketch 0L (same as the
    * aggregate path never emitting a row; callers pre-filter). Null
    * tokens are skipped — `graft_simhash` is SQL-callable, so the array
    * may carry nulls even though the operators never produce them. */
  def simhash(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Long](64)
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val s = tokens.getUTF8String(t)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

/** Per-row top-token count: the occurrence count of a document's most
  * frequent token — the numerator of the Gopher top-word-fraction
  * repetition filter. Identical to `max(c)` over a (doc, word)
  * count-aggregate (occurrence counting is order-independent), but as
  * a scan-side projection: the two shuffles that aggregate pipeline
  * costs (every (doc, token) row exchanged, then a per-doc max/sum)
  * are gone. Null elements are skipped; empty/all-null input → 0
  * (callers guard the 0-token ratio the same way the aggregate path's
  * missing row did).
  */
object TopTokenKernels {
  def topTokenCount(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var best = 0
    if (n > 0) {
      val m = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
      var i = 0
      while (i < n) {
        if (!tokens.isNullAt(i)) {
          val t = tokens.getUTF8String(i)
          var c = m.get(t)
          if (c == null) { c = new Array[Int](1); m.put(t, c) }
          c(0) += 1
          if (c(0) > best) best = c(0)
        }
        i += 1
      }
    }
    best.toLong
  }
}

/** Product-quantization kernels: encode a unit vector into one
  * centroid code per subspace, precompute a probe's (subspace ×
  * centroid) dot-product lookup table, and score a (probe, code) pair
  * with M table adds — the asymmetric-distance-computation trio that
  * turns 64-float vectors into (M × log2 k)-bit codes a 100 TB corpus
  * can keep RAM-resident. All float math is strict left-to-right
  * double accumulation, matching the oracle's sequential
  * `list_reduce` spellings bit-for-bit; argmin ties keep the FIRST
  * (lowest-index) centroid, matching `list_position(d, list_min(d))`.
  */
object PqKernels {

  /** codes[j] = first argmin over centroids c of
    * Σ_t (u[j·sub+t] − seeds[c][j·sub+t])², j = 0..m−1 (sub = dim/m,
    * seeds = id-sorted full-dim unit centroid vectors). */
  def encode(u: ArrayData, seeds: ArrayData, m: Int): ArrayData = {
    val k = seeds.numElements()
    val sub = u.numElements() / m
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val cv = seeds.getArray(c)
        var d = 0.0
        var t = 0
        while (t < sub) {
          val diff = u.getDouble(j * sub + t) - cv.getDouble(j * sub + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** lut[j·k + c] = Σ_t pu[j·sub+t] · seeds[c][j·sub+t] — every
    * (subspace, centroid) partial dot product for one probe, computed
    * ONCE per probe so pair scoring is table adds, not vector math. */
  def lut(pu: ArrayData, seeds: ArrayData, m: Int): ArrayData = {
    val k = seeds.numElements()
    val sub = pu.numElements() / m
    val out = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < k) {
        val cv = seeds.getArray(c)
        var d = 0.0
        var t = 0
        while (t < sub) {
          d += pu.getDouble(j * sub + t) * cv.getDouble(j * sub + t)
          t += 1
        }
        out(j * k + c) = d
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_j lut[j·k + codes[j]], j ascending — M adds per scored pair
    * (k inferred from the table and code lengths). An empty LUT (the
    * quantizer saw zero seed vectors — a corpus whose ids contain no
    * seedMod multiple) scores 0.0 instead of indexing past the end:
    * encode's first-argmin over zero centroids emits code 0 per
    * subspace, which would otherwise read lut[0] of an empty table. */
  def adc(lutArr: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0 || lutArr.numElements() == 0) return 0.0
    val k = lutArr.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lutArr.getDouble(j * k + codes.getInt(j))
      j += 1
    }
    s
  }
}

/** Per-row MULTI-LIST stopword hit counting: every gate family that
  * votes per language (quality gate, language ID, stop-ratio) needs
  * "how many of this row's tokens are in list i" for SEVERAL lists at
  * once. The column-function spelling — one
  * `filter(toks, isInCollection(list))` per list — walks the token
  * array |lists| times through an interpreted lambda (higher-order
  * functions are CodegenFallback), which made the quality gate the
  * most expensive benched query. This kernel walks the tokens ONCE:
  * each stopword maps to a BITMASK of the lists containing it, so a
  * token costs one hash probe + one popcount loop over its mask,
  * regardless of how many lists it belongs to. Counts are identical
  * to `size(filter(toks, isInCollection(list)))` per list (occurrence
  * counting, exact byte equality) — the DuckDB oracles don't change.
  */
object StopHitsKernels {

  /** word → bitmask of the lists containing it. Built once on the
    * driver per plan (shipped to generated code via the references
    * array); at most 32 lists so masks fit an Int. */
  def buildMasks(wordLists: Seq[Seq[String]]): java.util.HashMap[UTF8String, Integer] = {
    require(wordLists.nonEmpty && wordLists.length <= 32,
      "multi_stop_hits takes between 1 and 32 word lists")
    val m = new java.util.HashMap[UTF8String, Integer]()
    wordLists.zipWithIndex.foreach { case (ws, i) =>
      ws.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, Integer.valueOf(
          (if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  /** hits[i] = occurrences of tokens contained in list i. Null tokens
    * are skipped (the filter path's `isInCollection(null)` is null,
    * which filter drops — same outcome). */
  def multiHits(tokens: ArrayData,
                masks: java.util.HashMap[UTF8String, Integer],
                nLists: Int): ArrayData = {
    val out = new Array[Int](nLists)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val msk = masks.get(tokens.getUTF8String(i))
        if (msk != null) {
          var b = msk.intValue()
          while (b != 0) {
            out(java.lang.Integer.numberOfTrailingZeros(b)) += 1
            b &= b - 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-row sum of squared token-occurrence counts — Σ c_w² over the
  * row's token multiset, the numerator of the Gini–Simpson lexical
  * diversity index 1 − Σ c_w²/n². Identical to `sum(c*c)` over a
  * (doc, word) count-aggregate (occurrence counting and long addition
  * are order-independent), but as a scan-side projection: the exchange
  * of every (doc, token) row plus the per-doc aggregate are gone. Null
  * elements are skipped; empty/all-null input → 0 (callers guard the
  * 0-token ratio the same way the aggregate path's missing row did).
  */
object TokenStatsKernels {
  def sumSqTokenCounts(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var ss = 0L
    if (n > 0) {
      val m = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
      var i = 0
      while (i < n) {
        if (!tokens.isNullAt(i)) {
          val t = tokens.getUTF8String(i)
          var c = m.get(t)
          if (c == null) { c = new Array[Int](1); m.put(t, c) }
          // incremental square update: (c+1)² − c² = 2c + 1, so the
          // running Σc² needs no second pass over the map
          ss += 2L * c(0) + 1L
          c(0) += 1
        }
        i += 1
      }
    }
    ss
  }
}

/** Bit-interleaved Z-order value for N keys: bit i of key j lands at
  * position i·N + j, so sorting by the result walks the N-dimensional
  * Z space-filling curve — rows close in ALL keys land in the same
  * files, and a range predicate on ANY key prunes files (unlike a
  * single-column sort, which clusters one key and scatters the rest).
  * Callers normalize every key into `bits` bits (bits·N ≤ 64) —
  * interleaving raw widths would let the widest key dominate the
  * curve. A null key element contributes zero bits (sorts first on
  * that dimension).
  */
object ZOrderKernels {
  def interleaveN(keys: ArrayData, bits: Int): Long = {
    val n = keys.numElements()
    var out = 0L
    var i = 0
    while (i < bits) {
      var j = 0
      while (j < n) {
        if (!keys.isNullAt(j))
          out |= ((keys.getLong(j) >>> i) & 1L) << (i * n + j)
        j += 1
      }
      i += 1
    }
    out
  }
}
