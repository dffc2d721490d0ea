package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types._

/** Codegen'd dot product over two numeric array columns.
  *
  * The `zip_with` + `aggregate` fold form of a dot product is
  * `CodegenFallback`: interpreted, allocating an intermediate array per row
  * per pair — the dominant cost of round 1's similarity path. This native
  * Catalyst expression participates in whole-stage codegen: one fused
  * primitive loop, no allocation, no virtual calls per element.
  *
  * Semantics match the fold `aggregate(zip_with(a, b, (x, y) =>
  * x.cast(double) * y.cast(double)), 0.0, _+_)` exactly:
  *  - null input array, length mismatch (zip_with pads with null) or any
  *    null element → null;
  *  - accumulation is left-to-right IEEE double addition, so results are
  *    bit-identical to the fold (and to the DuckDB oracle's list_sum of an
  *    ordered list_transform).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l: NumericType, _), ArrayType(r: NumericType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two numeric arrays, got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def toDouble(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => arr.getDouble(i)
    case FloatType  => arr.getFloat(i).toDouble
    case LongType   => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case ShortType  => arr.getShort(i).toDouble
    case ByteType   => arr.getByte(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += toDouble(x, i, lt) * toDouble(y, i, rt)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val hasNull = ctx.freshName("hasNull")
      // Decimal elements surface as o.a.s.sql.types.Decimal objects — a
      // bare (double) cast is invalid Java and would fail codegen compile
      // (silently falling back to interpreted eval); call .toDouble() there.
      def asDouble(code: String, t: DataType): String = t match {
        case _: DecimalType => s"($code).toDouble()"
        case _ => s"((double)($code))"
      }
      val leftGet = asDouble(CodeGenerator.getValue(a, elemType(left), i), elemType(left))
      val rightGet = asDouble(CodeGenerator.getValue(b, elemType(right), i), elemType(right))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  boolean $hasNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $hasNull = true; break; }
         |    $acc += $leftGet * $rightGet;
         |  }
         |  if ($hasNull) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd product-quantization ADC table: dot products of one window of a
  * numeric array column against every row of a literal codebook.
  *
  * `codebook` is the flattened codes × d0 matrix (row-major); the window is
  * `vec[offset, offset + d0)`, zero-based. Output entry `i` is bit-identical
  * (same left-to-right IEEE double adds) to
  * `DotProduct(Slice(vec, offset + 1, d0), Literal(codebook.slice(i*d0, i*d0+d0)))`
  * — the unrolled form this kernel replaces. The unrolled form is `codes`
  * separate expression trees, which past ~100 codes overflows Janino's 64 KB
  * method limit and silently drops the whole stage to interpreted eval; here
  * the codebook is a referenced `double[]` and the generated code is one
  * nested loop regardless of `codes`.
  *
  * Null semantics: null array → null; a window element that is null or out of
  * range (vector shorter than offset + d0 — where the unrolled `slice` + dot
  * yields a length mismatch) → every output entry null, matching the per-dot
  * nulls of the unrolled form entry-for-entry.
  */
case class PqAdcTable(
    child: Expression,
    codebook: IndexedSeq[Double],
    offset: Int,
    d0: Int) extends UnaryExpression {
  // a codebook whose length is not a multiple of d0 would silently
  // truncate the last centroid's tail — fail at construction, not with
  // wrong ADC scores mid-job
  require(d0 >= 1, "d0 must be positive")
  require(codebook.nonEmpty && codebook.length % d0 == 0,
    s"codebook length ${codebook.length} must be a positive multiple of d0=$d0")

  private def codes: Int = codebook.length / d0

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"
  // the plan-time arguments are part of the call: Spark names an
  // unaliased column by its `sql`, so two calls that differ only in the
  // codebook (printed as a content digest) or the window must not print alike
  override def sql: String = s"$prettyName(${child.sql}, ${ArgDigest(codebook)}, $offset, $d0)"

  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric array, got ${other.sql}")
  }

  private def windowOk(arr: ArrayData): Boolean = {
    if (arr.numElements() < offset + d0) return false
    var j = 0
    while (j < d0) {
      if (arr.isNullAt(offset + j)) return false
      j += 1
    }
    true
  }

  private def toDouble(arr: ArrayData, i: Int): Double = elemType match {
    case DoubleType => arr.getDouble(i)
    case FloatType  => arr.getFloat(i).toDouble
    case LongType   => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case ShortType  => arr.getShort(i).toDouble
    case ByteType   => arr.getByte(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (!windowOk(arr))
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](codes))
    val out = new Array[Any](codes)
    var c = 0
    while (c < codes) {
      var acc = 0.0
      var j = 0
      while (j < d0) {
        acc += toDouble(arr, offset + j) * codebook(c * d0 + j)
        j += 1
      }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("cb", codebook.toArray, "double[]")
      val out = ctx.freshName("out")
      val ok = ctx.freshName("ok")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val get = CodeGenerator.getValue(a, elemType, s"($offset + $j)")
      val asDouble = elemType match {
        case _: DecimalType => s"($get).toDouble()"
        case _ => s"((double)($get))"
      }
      s"""
         |Object[] $out = new Object[$codes];
         |boolean $ok = $a.numElements() >= ${offset + d0};
         |if ($ok) {
         |  for (int $j = 0; $j < $d0; $j++) {
         |    if ($a.isNullAt($offset + $j)) { $ok = false; break; }
         |  }
         |}
         |if ($ok) {
         |  for (int $c = 0; $c < $codes; $c++) {
         |    double $acc = 0.0;
         |    for (int $j = 0; $j < $d0; $j++) {
         |      $acc += $asDouble * $cb[$c * $d0 + $j];
         |    }
         |    $out[$c] = $acc;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/** Codegen'd product-quantization code assignment: the code index `i`
  * maximizing `2 · dot(window, codebook(i)) − norms2(i)` (the L2-nearest
  * code, by the expanded-square identity), over the same literal codebook
  * layout as [[PqAdcTable]].
  *
  * Tie and order semantics replicate the unrolled
  * `array_max(array(struct(score_i, i))).getField("i")` form exactly: scores
  * compare via `java.lang.Double.compare` — Spark's total ordering, which
  * ranks NaN above every double (so a NaN subspace score, e.g. from an
  * Inf/NaN vector component, wins exactly as it would under `array_max`) —
  * and equal scores resolve to the larger code index (ascending scan with
  * `>= 0` replacement).
  *
  * Null semantics: null array, short array, or null window element → null —
  * where the unrolled form's per-dot nulls make every struct score null and
  * the array_max result degenerate; no well-formed corpus hits either path,
  * and the kernel picks the defensible one (null, not an arbitrary code).
  */
case class PqArgBest(
    child: Expression,
    codebook: IndexedSeq[Double],
    norms2: IndexedSeq[Double],
    offset: Int,
    d0: Int) extends UnaryExpression {
  // shape guard: a codebook/norms2 mismatch would read past the
  // codebook mid-job (per-row AIOOBE in executor codegen, far from the
  // construction bug) and an empty norms2 would return -1 as a
  // valid-looking "nearest code"
  require(d0 >= 1, "d0 must be positive")
  require(norms2.nonEmpty && codebook.length == norms2.length * d0,
    s"codebook length ${codebook.length} != ${norms2.length} codes x d0=$d0")

  private def codes: Int = norms2.length

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_argbest"
  // plan-time arguments printed as in [[PqAdcTable]]
  override def sql: String =
    s"$prettyName(${child.sql}, ${ArgDigest(codebook)}, ${ArgDigest(norms2)}, $offset, $d0)"

  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric array, got ${other.sql}")
  }

  private def toDouble(arr: ArrayData, i: Int): Double = elemType match {
    case DoubleType => arr.getDouble(i)
    case FloatType  => arr.getFloat(i).toDouble
    case LongType   => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case ShortType  => arr.getShort(i).toDouble
    case ByteType   => arr.getByte(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() < offset + d0) return null
    var j = 0
    while (j < d0) {
      if (arr.isNullAt(offset + j)) return null
      j += 1
    }
    var best = Double.NegativeInfinity
    var bi = -1
    var c = 0
    while (c < codes) {
      var acc = 0.0
      j = 0
      while (j < d0) {
        acc += toDouble(arr, offset + j) * codebook(c * d0 + j)
        j += 1
      }
      val score = 2.0 * acc - norms2(c)
      if (java.lang.Double.compare(score, best) >= 0) { best = score; bi = c }
      c += 1
    }
    bi
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("cb", codebook.toArray, "double[]")
      val n2 = ctx.addReferenceObj("n2", norms2.toArray, "double[]")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val score = ctx.freshName("score")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val get = CodeGenerator.getValue(a, elemType, s"($offset + $j)")
      val asDouble = elemType match {
        case _: DecimalType => s"($get).toDouble()"
        case _ => s"((double)($get))"
      }
      s"""
         |if ($a.numElements() < ${offset + d0}) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean ${bi}_null = false;
         |  for (int $j = 0; $j < $d0; $j++) {
         |    if ($a.isNullAt($offset + $j)) { ${bi}_null = true; break; }
         |  }
         |  if (${bi}_null) {
         |    ${ev.isNull} = true;
         |  } else {
         |    double $best = Double.NEGATIVE_INFINITY;
         |    int $bi = -1;
         |    for (int $c = 0; $c < $codes; $c++) {
         |      double $acc = 0.0;
         |      for (int $j = 0; $j < $d0; $j++) {
         |        $acc += $asDouble * $cb[$c * $d0 + $j];
         |      }
         |      double $score = 2.0 * $acc - $n2[$c];
         |      if (java.lang.Double.compare($score, $best) >= 0) { $best = $score; $bi = $c; }
         |    }
         |    ${ev.value} = $bi;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqArgBest =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column wrapper: codegen'd dot product of two numeric arrays. */
  def dotProduct(a: Column, b: Column): Column =
    CatalystBridge.column(DotProduct(
      CatalystBridge.expression(a), CatalystBridge.expression(b)))

  /** Column wrapper: [[PqAdcTable]] — per-code dots of a vector window
    * against a flattened codes × d0 codebook. */
  def pqAdcTable(vec: Column, codebook: IndexedSeq[Double], offset: Int, d0: Int): Column =
    CatalystBridge.column(PqAdcTable(CatalystBridge.expression(vec), codebook, offset, d0))

  /** Column wrapper: [[PqArgBest]] — nearest-code index for a vector window
    * by maximized 2·dot − |code|². */
  def pqArgBest(vec: Column, codebook: IndexedSeq[Double], norms2: IndexedSeq[Double],
      offset: Int, d0: Int): Column =
    CatalystBridge.column(PqArgBest(
      CatalystBridge.expression(vec), codebook, norms2, offset, d0))
}
