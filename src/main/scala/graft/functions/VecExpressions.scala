package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Packed-vector kernel for the embedding operators.
  *
  * Rationale (measured, round 2→3): carrying a 64-dim vector as 64 flat
  * DOUBLE columns keeps the per-pair cosine inside whole-stage codegen,
  * but the ~130-column join plans cost seconds of janino COMPILE each and
  * dominated the bench (dedup_embed_verify alone = 51% of total). Packing
  * the vector into one BinaryType column (8 bytes per dimension,
  * little-endian via Platform) shrinks every plan to ~3 columns; the dot
  * product is a single static-call expression — codegen'd like Crc64Expr,
  * and equally fast interpreted (one tight primitive loop, no per-element
  * boxing), so it is safe even inside a nested-loop join condition.
  * Summation is left-to-right, identical to the unrolled flat-column form,
  * so results are bit-equal to the previous implementation. */
object VecOps {

  /** array<double> (ArrayData) → packed 8-byte-per-element binary. */
  def pack(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val out = new Array[Byte](n * 8)
    var i = 0
    while (i < n) {
      org.apache.spark.unsafe.Platform.putLong(out,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i,
        java.lang.Double.doubleToLongBits(arr.getDouble(i)))
      i += 1
    }
    out
  }

  /** Dot product of two packed vectors (left-to-right accumulation). */
  def dot(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length) / 8
    var s = 0.0
    var i = 0
    while (i < n) {
      val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i
      s += java.lang.Double.longBitsToDouble(
        org.apache.spark.unsafe.Platform.getLong(a, off)) *
        java.lang.Double.longBitsToDouble(
          org.apache.spark.unsafe.Platform.getLong(b, off))
      i += 1
    }
    s
  }

  /** Element-wise difference of two packed vectors (a − b). Lengths must
    * match exactly: a silent min-length walk would return a residual of
    * the wrong dimension and poison a PQ codebook downstream. */
  def sub(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length && a.length % 8 == 0,
      s"packed_sub: lengths ${a.length} / ${b.length} must match (8-byte elems)")
    val n = a.length / 8
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < n) {
      val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i
      org.apache.spark.unsafe.Platform.putLong(out, off,
        java.lang.Double.doubleToLongBits(
          java.lang.Double.longBitsToDouble(
            org.apache.spark.unsafe.Platform.getLong(a, off)) -
          java.lang.Double.longBitsToDouble(
            org.apache.spark.unsafe.Platform.getLong(b, off))))
      i += 1
    }
    out
  }

  /** Driver-side unpack of a packed binary back to doubles (codebook
    * export for the cross-engine gates). */
  def unpackDoubles(packed: Array[Byte]): Array[Double] = {
    require(packed.length % 8 == 0, s"not a packed vector: ${packed.length} B")
    val out = new Array[Double](packed.length / 8)
    var i = 0
    while (i < out.length) {
      out(i) = java.lang.Double.longBitsToDouble(
        org.apache.spark.unsafe.Platform.getLong(packed,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i))
      i += 1
    }
    out
  }

  /** Driver-side pack of a plain double array (query vectors). */
  def packDoubles(arr: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](arr.length * 8)
    var i = 0
    while (i < arr.length) {
      org.apache.spark.unsafe.Platform.putLong(out,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i,
        java.lang.Double.doubleToLongBits(arr(i)))
      i += 1
    }
    out
  }

  /** L2-normalise an array<double> and pack the result: the squares are
    * summed left to right from 0.0, the norm is `sqrt` of that sum, and
    * each element is divided by the norm — the IEEE operations, in the
    * order, of `transform(v, x -> x / sqrt(aggregate(transform(v, x ->
    * x * x), 0.0, +)))`, so the bytes equal `pack` of that lambda form.
    * Returns null for a null element and for a norm that is not finite
    * and positive (zero, NaN or ±Inf elements): no direction, no vector. */
  def normalize(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val x = arr.getDouble(i)
      s += x * x
      i += 1
    }
    val norm = math.sqrt(s)
    if (!(norm > 0.0 && norm < Double.PositiveInfinity)) return null
    val out = new Array[Byte](n * 8)
    i = 0
    while (i < n) {
      org.apache.spark.unsafe.Platform.putLong(out,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i,
        java.lang.Double.doubleToLongBits(arr.getDouble(i) / norm))
      i += 1
    }
    out
  }

  /** Whether [[arrayDot]] is defined: equal lengths, no null element —
    * the rows on which `aggregate(zip_with(a, b, *), 0.0, +)` is not NULL
    * (zip_with pads the shorter side with nulls). */
  def dotDefined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (b.numElements() != n) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Dot product of two array<double> values, accumulated left to right
    * from 0.0. Callers check [[dotDefined]] first. */
  def arrayDot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** Random-hyperplane sketch over a packed vector. It reproduces an
    * `aggregate`/`zip_with` Column form (kept in the tests as the oracle)
    * with one static call per row.
    * BIT-IDENTICAL by construction: plane p's component for dimension i is
    * ±1 from the same xxhash64 the Column form evaluates — Spark's
    * XxHash64 over two INT inputs folds XXH64.hashInt(i, hashInt(p +
    * seed*planes, 42)) with the default seed 42, and pmod(h,2)==0 is
    * exactly (h & 1) == 0 — with the same ascending-i summation order and
    * the same acc*2+bit packing (plane 0 = MSB), so buckets are equal and
    * the recall floors asserted by the verify gates carry over unchanged. */
  def hyperplaneSketch(v: Array[Byte], planes: Int, seed: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = v.length / 8
    var acc = 0L
    var p = 0
    while (p < planes) {
      val planeSeed = XXH64.hashInt(p + seed * planes, 42L)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = java.lang.Double.longBitsToDouble(
          org.apache.spark.unsafe.Platform.getLong(v,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L * i))
        s += (if ((XXH64.hashInt(i, planeSeed) & 1L) == 0L) x else -x)
        i += 1
      }
      acc = acc * 2 + (if (s >= 0) 1L else 0L)
      p += 1
    }
    acc
  }
}

/** `pack_vec(array<double>) -> binary` — see VecOps. */
case class PackVec(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pack_vec requires ARRAY<DOUBLE>, got ${t.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    VecOps.pack(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.pack($c)")
  override protected def withNewChildInternal(newChild: Expression): PackVec =
    copy(child = newChild)
  override def prettyName: String = "pack_vec"
}

/** `packed_dot(binary, binary) -> double` — see VecOps. */
case class PackedDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"packed_dot requires (BINARY, BINARY), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dot($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PackedDot = copy(left = newLeft, right = newRight)
  override def prettyName: String = "packed_dot"
}

/** `packed_sub(binary, binary) -> binary` — element-wise a − b over packed
  * doubles; the residual kernel for IVF-PQ (v − centroid(cell)). */
case class PackedSub(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"packed_sub requires (BINARY, BINARY), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.sub(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.sub($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PackedSub = copy(left = newLeft, right = newRight)
  override def prettyName: String = "packed_sub"
}

/** `packed_sketch(binary) -> bigint` — see VecOps.hyperplaneSketch. */
case class PackedSketch(child: Expression, planes: Int, seed: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"packed_sketch requires BINARY, got ${t.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    VecOps.hyperplaneSketch(input.asInstanceOf[Array[Byte]], planes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecOps.hyperplaneSketch($c, $planes, $seed)")
  override protected def withNewChildInternal(newChild: Expression): PackedSketch =
    copy(child = newChild)
  override def prettyName: String = "packed_sketch"
}

/** `normalize_vec(array<double>) -> binary`: the packed L2-normalised
  * vector, or NULL — see VecOps.normalize. */
case class NormalizeVec(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"normalize_vec requires ARRAY<DOUBLE>, got ${t.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    VecOps.normalize(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.VecOps.normalize($c);
      |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): NormalizeVec =
    copy(child = newChild)
  override def prettyName: String = "normalize_vec"
}

/** `vec_dot(array<double>, array<double>) -> double`, NULL on a null
  * element or unequal lengths — see VecOps.arrayDot. */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (VecOps.dotDefined(x, y)) VecOps.arrayDot(x, y) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.VecOps.dotDefined($a, $b)) {
      |  ${ev.value} = graft.functions.VecOps.arrayDot($a, $b);
      |} else {
      |  ${ev.isNull} = true;
      |}""".stripMargin)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDot = copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

object VecExpressions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Pack an array<double> column (cast float arrays first). */
  def packVec(c: Column): Column = column(PackVec(expression(c)))

  /** Dot product of two packed-binary vector columns. */
  def packedDot(a: Column, b: Column): Column =
    column(PackedDot(expression(a), expression(b)))

  /** Element-wise difference (a − b) of two packed-binary vector columns. */
  def packedSub(a: Column, b: Column): Column =
    column(PackedSub(expression(a), expression(b)))

  /** The packed L2-normalised vector of an array<double> column, NULL
    * where it has no direction (see VecOps.normalize). */
  def normalizeVec(c: Column): Column = column(NormalizeVec(expression(c)))

  /** Dot product of two array<double> columns (see VecOps.arrayDot). */
  def arrayDot(a: Column, b: Column): Column =
    column(ArrayDot(expression(a), expression(b)))

  /** Hyperplane sketch of a packed-binary vector column. */
  def packedSketch(c: Column, planes: Int, seed: Int = 0): Column =
    column(PackedSketch(expression(c), planes, seed))
}
