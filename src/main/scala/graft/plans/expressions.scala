package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for graft's hottest scalar paths.
  *
  * Spark's higher-order functions (transform/filter/aggregate/zip_with)
  * are CodegenFallback: each lambda application is an interpreted
  * `Expression.eval` tree walk. For per-token and per-vector-element
  * loops that interpretation dominates the query (measured ~10x on the
  * word-count path, ~40x on cosine). These expressions participate in
  * whole-stage codegen via `doGenCode` — the generated stage calls one
  * static kernel per row. The text kernels work on UTF-8 bytes:
  * [[TokenizeExpr]] decodes each row once (its String fallback rules are
  * on [[TextKernels.tokens]]) and [[NgramsExpr]] copies each n-gram's
  * bytes once, both returning views into one per-row buffer.
  */

/** `tokens(text)`: letter-run tokens, lowercased after the split. */
case class TokenizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens() needs a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

/** `ngrams(tokens, n)`: word n-grams with multiplicity, each run of `n`
  * consecutive tokens joined by one space. A null array or one shorter
  * than `n` gives `[]`, so the result is never null. See
  * [[TextKernels.ngrams]]. */
case class NgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngrams needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ngrams() needs array<string>, got ${t.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    TextKernels.ngrams(
      child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.plans.TextKernels.ngrams(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramsExpr =
    copy(child = newChild)
}

/** `tokens_cjk(text)`: CJK-aware tokens — letter runs as
  * [[TokenizeExpr]], unsegmented-script runs as char bigrams. See
  * [[TextKernels.tokensCjk]]. */
case class CjkTokenizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens_cjk() needs a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokensCjk(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.tokensCjk($c)")

  override protected def withNewChildInternal(newChild: Expression): CjkTokenizeExpr =
    copy(child = newChild)
}

/** `dot(a, b)`: Σ aᵢ·bᵢ, strict left-to-right double accumulation over
  * float/double array columns (promotion exactly as SQL CAST). */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elem(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left), elem(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot() needs float/double array inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  private def kernel: String = (elem(left).get, elem(right).get) match {
    case (FloatType, FloatType) => "dotFF"
    case (FloatType, DoubleType) => "dotFD"
    case (DoubleType, FloatType) => "dotDF"
    case (DoubleType, DoubleType) => "dotDD"
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    kernel match {
      case "dotFF" => VecKernels.dotFF(x, y)
      case "dotFD" => VecKernels.dotFD(x, y)
      case "dotDF" => VecKernels.dotDF(x, y)
      case "dotDD" => VecKernels.dotDD(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.VecKernels.$kernel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

/** `nearest_cells(v, cids, units, nProbe)`: the IVF cell-assignment
  * argmax as a scalar projection over the broadcast codebook — the
  * top-nProbe centroid ids for a float vector, best-first. See
  * [[IvfKernels.nearestCells]] for why this shape (vs crossJoin +
  * window) is the one that survives 100x scale. */
case class NearestCellsExpr(first: Expression, second: Expression,
                            third: Expression, nProbe: Int)
  extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "nearest_cells() needs (array<float>, array<bigint>, " +
          s"array<array<double>>), got ${a.catalogString} / " +
          s"${b.catalogString} / ${c.catalogString}")
    }

  override def nullSafeEval(v: Any, cids: Any, units: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    IvfKernels.nearestCells(v.asInstanceOf[ArrayData],
      cids.asInstanceOf[ArrayData], units.asInstanceOf[ArrayData], nProbe)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.plans.IvfKernels.nearestCells($a, $b, $c, $nProbe)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): NearestCellsExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `minhash_sig(shingles, perms)`: the per-row MinHash signature —
  * see [[MinHashKernels.sig]] for the exact hash chain and why a
  * projection beats the wide min-aggregate at scale. */
case class MinHashSigExpr(child: Expression, perms: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig() needs array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashKernels.sig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], perms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashKernels.sig($c, $perms)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** `simhash(tokens)`: the per-row 64-bit SimHash sketch — see
  * [[SimHashKernels.simhash]] for vote semantics and the two shuffles
  * this projection removes. */
case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash() needs array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashKernels.simhash(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** `top_token_count(tokens)`: occurrence count of the row's most
  * frequent token — see [[TopTokenKernels.topTokenCount]] for the two
  * shuffles this projection replaces. */
case class TopTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"top_token_count() needs array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    TopTokenKernels.topTokenCount(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TopTokenKernels.topTokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TopTokenCountExpr =
    copy(child = newChild)
}

/** `pq_encode(u, seeds)`: product-quantization codes for a unit
  * vector — the first-argmin centroid per subspace. See
  * [[PqKernels.encode]]. */
case class PqEncodeExpr(left: Expression, right: Expression, m: Int)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"pq_encode() needs (array<double>, array<array<double>>), got " +
          s"${a.catalogString} / ${b.catalogString}")
    }

  override def nullSafeEval(u: Any, seeds: Any): Any =
    PqKernels.encode(u.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      seeds.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, s) => s"graft.plans.PqKernels.encode($u, $s, $m)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeExpr =
    copy(left = newLeft, right = newRight)
}

/** `pq_lut(pu, seeds)`: a probe's (subspace × centroid) partial-dot
  * lookup table. See [[PqKernels.lut]]. */
case class PqLutExpr(left: Expression, right: Expression, m: Int)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"pq_lut() needs (array<double>, array<array<double>>), got " +
          s"${a.catalogString} / ${b.catalogString}")
    }

  override def nullSafeEval(pu: Any, seeds: Any): Any =
    PqKernels.lut(pu.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      seeds.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, s) => s"graft.plans.PqKernels.lut($p, $s, $m)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqLutExpr =
    copy(left = newLeft, right = newRight)
}

/** `pq_adc(lut, codes)`: asymmetric-distance score — M table adds per
  * pair. See [[PqKernels.adc]]. */
case class PqAdcExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc() needs (array<double>, array<int>), got " +
          s"${a.catalogString} / ${b.catalogString}")
    }

  override def nullSafeEval(lut: Any, codes: Any): Any =
    PqKernels.adc(lut.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, c) => s"graft.plans.PqKernels.adc($l, $c)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

/** `multi_stop_hits(tokens, lists)`: per-list stopword hit counts in
  * ONE token walk — hits[i] ≡ `size(filter(toks, isInCollection(
  * lists(i))))`. See [[StopHitsKernels]] for the bitmask design and
  * the |lists| interpreted filter passes this projection replaces.
  * `wordLists` is a plan constant (the stopword lists), carried on the
  * node like `perms`/`nProbe` on the other kernel expressions. */
case class MultiStopHitsExpr(child: Expression, wordLists: Seq[Seq[String]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"multi_stop_hits() needs array<string>, got ${t.catalogString}")
  }

  // built once per task (driver for interpreted eval; shipped through
  // the codegen references array for generated stages)
  @transient private lazy val masks = StopHitsKernels.buildMasks(wordLists)

  override def nullSafeEval(input: Any): Any =
    StopHitsKernels.multiHits(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      masks, wordLists.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopMasks", masks, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      c => s"graft.plans.StopHitsKernels.multiHits($c, $ref, ${wordLists.length})")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiStopHitsExpr =
    copy(child = newChild)
}

/** `sum_sq_token_counts(tokens)`: Σ c_w² over the row's token
  * multiset — see [[TokenStatsKernels.sumSqTokenCounts]] for the two
  * shuffles this projection replaces. */
case class SumSqTokenCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sum_sq_token_counts() needs array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenStatsKernels.sumSqTokenCounts(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.TokenStatsKernels.sumSqTokenCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): SumSqTokenCountsExpr =
    copy(child = newChild)
}

/** `zorder(array(k0..kN-1), bits)`: bit-interleaved Z-curve value of N
  * long keys, each normalized by the caller into `bits` bits — see
  * [[ZOrderKernels.interleaveN]]. */
case class ZOrderNExpr(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"zorder() needs array<bigint>, got ${t.catalogString}")
  }

  override def nullSafeEval(keys: Any): Any =
    ZOrderKernels.interleaveN(
      keys.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ZOrderKernels.interleaveN($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): ZOrderNExpr =
    copy(child = newChild)
}

object Exprs {
  /** Column wrapper for [[TokenizeExpr]]. */
  def tokens(c: Column): Column =
    ColumnBridge.column(TokenizeExpr(ColumnBridge.expression(c)))

  /** Column wrapper for [[NgramsExpr]]. */
  def ngrams(tokens: Column, n: Int): Column =
    ColumnBridge.column(NgramsExpr(ColumnBridge.expression(tokens), n))

  /** Column wrapper for [[CjkTokenizeExpr]]. */
  def tokensCjk(c: Column): Column =
    ColumnBridge.column(CjkTokenizeExpr(ColumnBridge.expression(c)))

  /** Column wrapper for [[DotExpr]]. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column wrapper for [[NearestCellsExpr]]. */
  def nearestCells(v: Column, cids: Column, units: Column, nProbe: Int): Column =
    ColumnBridge.column(NearestCellsExpr(ColumnBridge.expression(v),
      ColumnBridge.expression(cids), ColumnBridge.expression(units), nProbe))

  /** Column wrapper for [[MinHashSigExpr]]. */
  def minhashSig(shingles: Column, perms: Int): Column =
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(shingles), perms))

  /** Column wrapper for [[SimHashExpr]]. */
  def simhash(tokens: Column): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(tokens)))

  /** Column wrapper for [[TopTokenCountExpr]]. */
  def topTokenCount(tokens: Column): Column =
    ColumnBridge.column(TopTokenCountExpr(ColumnBridge.expression(tokens)))

  /** Column wrapper for [[PqEncodeExpr]]. */
  def pqEncode(u: Column, seeds: Column, m: Int): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(u),
      ColumnBridge.expression(seeds), m))

  /** Column wrapper for [[PqLutExpr]]. */
  def pqLut(pu: Column, seeds: Column, m: Int): Column =
    ColumnBridge.column(PqLutExpr(ColumnBridge.expression(pu),
      ColumnBridge.expression(seeds), m))

  /** Column wrapper for [[PqAdcExpr]]. */
  def pqAdc(lut: Column, codes: Column): Column =
    ColumnBridge.column(PqAdcExpr(ColumnBridge.expression(lut),
      ColumnBridge.expression(codes)))

  /** Column wrapper for [[MultiStopHitsExpr]]. */
  def multiStopHits(tokens: Column, wordLists: Seq[Seq[String]]): Column =
    ColumnBridge.column(MultiStopHitsExpr(
      ColumnBridge.expression(tokens), wordLists))

  /** Column wrapper for [[SumSqTokenCountsExpr]]. */
  def sumSqTokenCounts(tokens: Column): Column =
    ColumnBridge.column(SumSqTokenCountsExpr(ColumnBridge.expression(tokens)))

  /** Column wrapper for [[ZOrderNExpr]]: N normalized bigint keys,
    * `bits` bits each (bits·N ≤ 64). */
  def zorder(keys: Seq[Column], bits: Int): Column =
    ColumnBridge.column(ZOrderNExpr(ColumnBridge.expression(
      org.apache.spark.sql.functions.array(keys: _*)), bits))

  /** Column wrapper for [[TopKByScore]] (as an aggregate). */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKByScore(ColumnBridge.expression(score),
      ColumnBridge.expression(id), k).toAggregateExpression())
}
