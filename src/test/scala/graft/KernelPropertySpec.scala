package graft

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Exprs, TextKernels}

/** Seeded fuzz parity: for arbitrary strings (heavy on Unicode case
  * edge cases, including surrogate pairs) and arbitrary float
  * vectors, the native kernels must equal the interpreted
  * compositions they replaced, bit for bit. */
class KernelPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  // ASCII, punctuation, digits, case-interesting letters (İ ı ß Σ ς),
  // CJK (letters without case), zero-width space, emoji (surrogates)
  private val alphabet: IndexedSeq[String] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).map(_.toString) ++
      Seq(" ", "\t", "\n", ",", ".", "!", "-", "'", "  ",
        "İ", "ı", "ß", "Σ", "ς", "Ä", "é", "Œ", "œ", "ǅ",
        "北", "京", "あ", "Ω", "​", "🙂", "𐐀")

  private def randomText(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString

  /** The interpreted composition [[graft.plans.TokenizeExpr]] replaces. */
  private def refTokens(c: Column): Column =
    filter(transform(split(c, "[^\\p{L}]+"), w => lower(w)), w => w =!= lit(""))

  /** The interpreted composition [[graft.plans.NgramsExpr]] replaces. */
  private def refNgrams(toks: Column, n: Int): Column =
    flatten(transform(array(toks), ts => {
      val idx = when(size(ts) >= n, sequence(lit(0), size(ts) - n))
        .otherwise(array().cast("array<int>"))
      transform(idx, i => concat_ws(" ", (0 until n).map(k => get(ts, i + k)): _*))
    }))

  /** `(fast, ref)` per row of `df` (an `id` column plus inputs), with
    * `fast` run twice: as built — the optimizer folds a projection over
    * local rows, so the kernel runs interpreted — and after a shuffle,
    * in a generated stage that may not fall back to interpretation. */
  private def bothPaths(df: DataFrame, fast: Column,
                        ref: Column): Seq[(Seq[String], Seq[String])] = {
    def run(d: DataFrame, c: Column) = {
      val q = d.select(col("id"), c.as("v")).orderBy("id")
      (q.collect().map(_.getSeq[String](1)).toSeq, q.queryExecution.executedPlan.toString)
    }
    val (refs, _) = run(df, ref)
    val (interpreted, _) = run(df, fast)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val (generated, plan) = run(df.repartition(3), fast)
      assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan)
      interpreted.zip(refs) ++ generated.zip(refs)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  private def assertTokensMatch(texts: Seq[String]): Unit = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    bothPaths(df, Exprs.tokens(col("text")), refTokens(col("text")))
      .zip(texts ++ texts).foreach { case ((fast, ref), t) =>
        assert(fast == ref, s"mismatch on ${t.map(c => f"\\u${c.toInt}%04x").mkString}")
      }
  }

  test("TokenizeExpr == split-then-lower composition on 2000 fuzzed strings") {
    val rnd = new scala.util.Random(20260812L)
    assertTokensMatch(Seq.fill(2000)(randomText(rnd)))
  }

  test("TokenizeExpr == split-then-lower on raw bytes, malformed UTF-8 included") {
    // valid letters and separators beside truncated sequences, overlongs,
    // UTF-8-encoded surrogates and bytes above 0xF4
    val valid = Seq("ab", "Q", " ", ".", "é", "Σ", "ß", "北", "🙂", "Ⱥ")
      .map(_.getBytes("UTF-8")).toIndexedSeq
    val invalid: IndexedSeq[Array[Byte]] =
        Seq(Array(0xE2, 0x82), Array(0xF0, 0x9F, 0x99), Array(0xC3), // truncated
          Array(0xC0, 0xAF), Array(0xC1, 0x81), Array(0xE0, 0x80, 0xAF), // overlong
          Array(0xF0, 0x80, 0x80, 0xAF),
          Array(0xED, 0xA0, 0x80), Array(0xED, 0xBF, 0xBF), // surrogates
          Array(0xF4, 0x90, 0x80, 0x80), Array(0xF5), Array(0xFF), // > U+10FFFF
          Array(0x80), Array(0xBF)) // stray continuation
          .map(_.map(_.toByte)).toIndexedSeq
    val rnd = new scala.util.Random(7741L)
    def piece() =
      if (rnd.nextInt(30) == 0) invalid(rnd.nextInt(invalid.length))
      else valid(rnd.nextInt(valid.length))
    val rows = Seq.fill(3000) {
      if (rnd.nextInt(4) == 0) Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
      else Array.concat(Seq.fill(rnd.nextInt(20))(piece()): _*)
    }
    val malformed = rows.count(b => !UTF8String.fromBytes(b).isValid)
    assert(malformed > 500 && malformed < rows.length - 500, s"$malformed malformed rows")
    import spark.implicits._
    val df = rows.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bytes")
      .select(col("id"), col("bytes").cast("string").as("text"))
    // the cast keeps the bytes as they are, malformed or not
    assert(df.orderBy("id").select(col("text").cast("binary")).as[Array[Byte]].collect()
      .toSeq.map(_.toSeq) == rows.map(_.toSeq))
    bothPaths(df, Exprs.tokens(col("text")), refTokens(col("text")))
      .zip(rows ++ rows).foreach { case ((fast, ref), b) =>
        assert(fast == ref, s"mismatch on bytes ${b.map(x => f"${x & 0xFF}%02x").mkString(" ")}")
      }
  }

  test("TokenizeExpr == split-then-lower on long tokens, ASCII rows and İ Σ ς rows") {
    val rnd = new scala.util.Random(99017L)
    def word(chars: IndexedSeq[String], len: Int) =
      Seq.fill(len)(chars(rnd.nextInt(chars.length))).mkString
    val ascii = (('a' to 'z') ++ ('A' to 'Z')).map(_.toString)
    // the byte buffer starts at the row's length; Ⱥ and Ⱦ lowercase to a
    // longer encoding, so rows of them outgrow it
    val growing = IndexedSeq("Ⱥ", "Ⱦ", "Ⱥ", "a", "É")
    val longTokens = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(3))(
      word(if (rnd.nextBoolean()) growing else ascii, 1 + rnd.nextInt(3000))).mkString(" "))
    val asciiChars = ascii ++ Seq(" ", " ", ",", ".", "0", "9", "-", "'", "\t", "@", "[", "`", "{")
    val asciiRows = Seq.fill(1000)(word(asciiChars, rnd.nextInt(80)))
    val sigma = IndexedSeq("İ", "Σ", "ς", "σ", "ΑΣ", "i", "I", "ı", " ", ".", "Ö", "x")
    val sigmaRows = Seq.fill(1000)(word(sigma, rnd.nextInt(30))) ++
      Seq("ΟΔΟΣ", "ΟΔΟΣ ΟΔΟΣ.", "Σ", "ΣΑΣ", "İSTANBUL", "İ", "aİb", "ὈΔΥΣΣΕΎΣ")
    assert(longTokens.exists(_.length > 2000))
    assertTokensMatch(longTokens ++ asciiRows ++ sigmaRows)
  }

  test("tokens under a tr/az/lt default locale take the String path") {
    val rnd = new scala.util.Random(5150L)
    val chars = IndexedSeq("I", "İ", "ı", "i", "Ş", "a", "J", "̇", "Į", " ", "Ì")
    val texts = Seq.fill(500)(Seq.fill(rnd.nextInt(20))(chars(rnd.nextInt(chars.length))).mkString) ++
      Seq("Iş", "DİYARBAKIR ISPARTA", "I", "IJ̇")
    def toks(t: String, l: Locale) =
      TextKernels.tokens(UTF8String.fromString(t), l).toSeq[UTF8String](StringType).map(_.toString)
    var differs = 0
    for (lang <- Seq("tr", "az", "lt"); t <- texts) {
      val l = new Locale(lang)
      // `UTF8String.toLowerCase` under default locale l: an all-ASCII
      // token by ASCII rules, any other by String.toLowerCase(l)
      val ref = t.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)
        .map(w => if (w.forall(_ < 0x80)) w.toLowerCase(Locale.ROOT) else w.toLowerCase(l))
      assert(toks(t, l) == ref, s"$lang: $t")
      if (toks(t, Locale.ROOT) != ref) differs += 1
    }
    assert(differs > 100, s"only $differs rows where the locale matters")
  }

  test("NgramsExpr == flatten(transform(...)) composition on fuzzed token arrays") {
    val words = IndexedSeq("a", "bc", "straße", "北京", "🙂", "", "Σς", "x y")
    val rnd = new scala.util.Random(31337L)
    // null arrays, empty arrays, arrays shorter than n and null elements
    val arrays: Seq[Seq[String]] = Seq.fill(1500) {
      rnd.nextInt(10) match {
        case 0 => null
        case 1 => Seq.empty[String]
        case k => Seq.fill(rnd.nextInt(if (k == 2) 4 else 40))(
          if (rnd.nextInt(15) == 0) null else words(rnd.nextInt(words.length)))
      }
    }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("toks", ArrayType(StringType, containsNull = true))))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      arrays.zipWithIndex.map { case (a, i) => Row(i.toLong, a) }.asJava, schema)
    for (n <- Seq(1, 2, 3, 5)) {
      val got = bothPaths(df, Exprs.ngrams(col("toks"), n), refNgrams(col("toks"), n))
      assert(got.count(_._1.nonEmpty) > 500)
      got.zip(arrays ++ arrays).foreach { case ((fast, ref), a) =>
        assert(fast == ref, s"n=$n on $a")
      }
    }
  }

  test("DotExpr == zip_with fold on 500 fuzzed float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    def vec() = Array.fill(16)((rnd.nextFloat() - 0.5f) * 2e6f)
    val pairs = Seq.fill(500)((vec(), vec()))
    val rows = pairs.toDF("a", "b")
      .select(Exprs.dot(col("a"), col("b")).as("fast"),
        aggregate(zip_with(transform(col("a"), _.cast("double")),
          transform(col("b"), _.cast("double")), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("ref"))
      .as[(Double, Double)].collect()
    rows.foreach { case (fast, ref) =>
      assert(fast == ref || (fast.isNaN && ref.isNaN))
    }
  }
}
