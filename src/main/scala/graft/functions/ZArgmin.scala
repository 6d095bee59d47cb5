package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ONE-PASS integer-exact argmin / LSH-bucket kernels (optimization
  * r19) for the cross-engine `_md5` twin gates.
  *
  * The twins' Spark side used pure `functions._` trees so DuckDB could
  * replay the identical integer arithmetic:
  *  - PQ encode / cell assign: per subspace a
  *    `least(struct(aggregate(zip_with(slice(_q,…), cb_literal, (a,b) ⇒
  *    (a−b)²), 0, +)) …)` over k candidates — m×k lambda subtrees whose
  *    janino compile alone costs ~seconds per plan, plus one allocated
  *    zipped array per candidate per row;
  *  - `dedup_embed_md5`'s and `ann_lsh_md5`'s LSH buckets: per (table,
  *    plane) a projection whose SIGN was recomputed per element per row
  *    as `conv(substring(md5('t_p_' || i), 1, 1), 16, 10) % 2` (or
  *    `md5('p_' || i)` for ann_lsh_md5's single table) — one md5
  *    invocation per plane per vector element per row for a value that
  *    depends only on (t, p, i).
  *
  * These expressions compute the IDENTICAL values in one kernel call:
  * straight long arithmetic over the codebook / a memoized sign table
  * (the md5 is evaluated once per (t, p, i) per JVM, not per row). The
  * DuckDB oracle SQL is untouched — it replays the original formulas —
  * and the legacy Column trees remain below (ann_lsh_md5's in
  * `ZArgminSpec`) as the in-tree spec reference; `ZArgminSpec` locks
  * bit-equivalence on the fixture corpus plus adversarial vectors.
  *
  * NULL/shape contract (matches the legacy trees exactly, pinned by the
  * spec): a NULL vector, a NULL element, or a window the input cannot
  * fill makes every candidate distance NULL in the legacy tree, and
  * `least` over `struct(null, j)` sorts nulls first — code/cell 0. The
  * zip_with (cell) shape additionally degenerates on ANY length
  * mismatch (zip_with pads the shorter side with nulls), while the
  * slice (PQ) shape ignores trailing extra elements. LSH buckets fold
  * NULL/empty/null-element vectors to bucket 0 per table (the
  * `when(null ≥ 0).otherwise(0)` fall-through). All three expressions
  * are therefore non-nullable.
  *
  * Overflow contract: distances and projections are plain `long`
  * arithmetic, which WRAPS on overflow (Java semantics) — the non-ANSI
  * assumption. The legacy trees under ANSI mode (Spark 4's default)
  * would raise an overflow error on the same inputs instead; the gates'
  * `floor(v*1000)` quantized vectors stay orders of magnitude below
  * that range. `ZArgminSpec` pins the wrap. */
object ZOps {

  /** argmin codes, one per subspace. `cb` is the flattened codebook
    * laid out as [(m0·k + j)·sub + i]. `exactLen = true` replays the
    * whole-vector zip_with shape (any length mismatch → all codes 0);
    * `false` replays the slice shape (per-subspace window must fit). */
  def pqCodesZ(q: ArrayData, cb: Array[Long], m: Int, k: Int, sub: Int,
      exactLen: Boolean): ArrayData = {
    val n = if (q == null) -1 else q.numElements()
    val degenerateAll = q == null || (exactLen && n != m * sub)
    val codes = new Array[Int](m)
    var m0 = 0
    while (m0 < m) {
      var code = 0
      if (!degenerateAll && (m0 + 1) * sub <= n) {
        var hasNull = false
        var i = 0
        while (i < sub && !hasNull) {
          if (q.isNullAt(m0 * sub + i)) hasNull = true
          i += 1
        }
        if (!hasNull) {
          var best = Long.MaxValue
          var first = true
          var j = 0
          while (j < k) {
            var d = 0L
            val base = (m0 * k + j) * sub
            var i2 = 0
            while (i2 < sub) {
              val x = q.getLong(m0 * sub + i2) - cb(base + i2)
              d += x * x
              i2 += 1
            }
            if (first || d < best) { best = d; code = j; first = false }
            j += 1
          }
        }
      }
      codes(m0) = code
      m0 += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** Memoized hyperplane sign tables: sign(t, p, i) = +1 iff the first
    * hex digit of md5("t_p_i") is even — exactly the legacy
    * `conv(substring(md5(concat('t_p_', i)), 1, 1), 16, 10) % 2 = 0`.
    * `t = -1` is the table-less family md5("p_i") of ann_lsh_md5. The
    * first hex digit is the high nibble of digest byte 0. */
  private val signTables =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Byte]]()

  private def signs(t: Int, p: Int, n: Int): Array[Byte] = {
    val key = (t.toLong << 32) | p
    val cur = signTables.get(key)
    if (cur != null && cur.length >= n) cur
    else signTables.synchronized {
      val again = signTables.get(key)
      if (again != null && again.length >= n) again
      else {
        val size = math.max(n,
          math.max(if (again == null) 0 else again.length * 2, 64))
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = new Array[Byte](size)
        var i = 0
        while (i < size) {
          md.reset()
          val text = if (t < 0) s"${p}_$i" else s"${t}_${p}_$i"
          val d = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out(i) = if (((d(0) >> 4) & 1) == 0) 1 else -1
          i += 1
        }
        signTables.put(key, out)
        out
      }
    }
  }

  /** All `tables` LSH buckets of a quantized vector in one pass:
    * bucket_t = Σ_p (1<<p)·[Σ_i q_i·sign(t,p,i) ≥ 0] (plane 0 = LSB).
    * With `tablePrefix = false` the single table signs by md5("p_i").
    * NULL vector, empty vector (the legacy sequence(0, −1) descends and
    * zip_with nulls out) or any NULL element → every projection NULL →
    * all buckets 0. */
  def lshBucketsZ(q: ArrayData, tables: Int, planes: Int,
      tablePrefix: Boolean): ArrayData = {
    val buckets = new Array[Long](tables)
    var degenerate = q == null || q.numElements() == 0
    val n = if (q == null) 0 else q.numElements()
    if (!degenerate) {
      var i = 0
      while (i < n && !degenerate) {
        if (q.isNullAt(i)) degenerate = true
        i += 1
      }
    }
    if (!degenerate) {
      val proj = new Array[Long](tables * planes)
      val sgn = Array.tabulate(tables, planes)((t, p) =>
        signs(if (tablePrefix) t else -1, p, n))
      var i = 0
      while (i < n) {
        val x = q.getLong(i)
        var t = 0
        while (t < tables) {
          var p = 0
          while (p < planes) {
            proj(t * planes + p) += x * sgn(t)(p)(i)
            p += 1
          }
          t += 1
        }
        i += 1
      }
      var t = 0
      while (t < tables) {
        var b = 0L
        var p = 0
        while (p < planes) {
          if (proj(t * planes + p) >= 0) b += (1L << p)
          p += 1
        }
        buckets(t) = b
        t += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(buckets)
  }
}

/** `pq_codes_z(q) -> array<int>` of the m per-subspace argmin codes —
  * see [[ZOps.pqCodesZ]]. Non-nullable: degenerate inputs fold to code
  * 0 exactly like the legacy least-of-structs trees. */
case class PqCodesZExpr(child: Expression, cb: Array[Long], m: Int,
    k: Int, sub: Int, exactLen: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_codes_z requires ARRAY<BIGINT> input, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    ZOps.pqCodesZ(child.eval(input).asInstanceOf[ArrayData], cb, m, k, sub,
      exactLen)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cbz", cb, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.functions.ZOps.pqCodesZ(
          ${c.isNull} ? null : ${c.value}, $cbRef, $m, $k, $sub, $exactLen);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqCodesZExpr = copy(child = newChild)

  override def prettyName: String = "pq_codes_z"
}

/** `lsh_buckets_z(q) -> array<bigint>` of the per-table LSH buckets —
  * see [[ZOps.lshBucketsZ]]. Non-nullable (degenerate → bucket 0). */
case class LshBucketsZExpr(child: Expression, tables: Int, planes: Int,
    tablePrefix: Boolean = true) extends UnaryExpression {
  // a bucket is a Long bitmask over the planes: `1L << p` wraps at 64
  if (planes < 1 || planes > 63) throw new IllegalArgumentException(
    s"lsh_buckets_z planes must be in 1..63 (one bit each of a BIGINT " +
      s"bucket), got $planes")
  // without the table prefix every table would sign identically
  if (!tablePrefix && tables != 1) throw new IllegalArgumentException(
    s"lsh_buckets_z without a table prefix has one table, got $tables")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets_z requires ARRAY<BIGINT> input, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    ZOps.lshBucketsZ(child.eval(input).asInstanceOf[ArrayData], tables, planes,
      tablePrefix)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.functions.ZOps.lshBucketsZ(
          ${c.isNull} ? null : ${c.value}, $tables, $planes, $tablePrefix);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): LshBucketsZExpr = copy(child = newChild)

  override def prettyName: String = "lsh_buckets_z"
}

object ZExpressions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** PQ encode: array of m argmin codes over the per-subspace slices
    * (the slice shape — trailing extra elements are ignored). */
  def pqCodesZ(q: Column, cbz: Seq[Seq[Seq[Long]]]): Column = {
    val m = cbz.size; val k = cbz.head.size; val sub = cbz.head.head.size
    column(PqCodesZExpr(expression(q), cbz.flatten.flatten.toArray, m, k,
      sub, exactLen = false))
  }

  /** Cell assignment: argmin over the full-vector centroid distances
    * (the zip_with shape — any length mismatch degenerates to 0). */
  def cellZ(q: Column, cz: Seq[Seq[Long]]): Column =
    column(PqCodesZExpr(expression(q), cz.flatten.toArray, 1, cz.size,
      cz.head.size, exactLen = true)).getItem(0)

  /** All LSH table buckets in one pass. */
  def lshBucketsZ(q: Column, tables: Int, planes: Int): Column =
    column(LshBucketsZExpr(expression(q), tables, planes))

  /** The one bucket of ann_lsh_md5's table-less md5("p_i") sign family. */
  def lshBucketZ(q: Column, planes: Int): Column =
    column(LshBucketsZExpr(expression(q), 1, planes, tablePrefix = false))
      .getItem(0)

  // ------------------------------------------------------------------
  // Legacy Column trees — the exact formulas the kernels replace and
  // the DuckDB oracle replays. Kept as the ZArgminSpec bit-equivalence
  // reference and the PlanDump "before" shapes.
  // ------------------------------------------------------------------

  /** The m per-subspace `least(struct(aggregate(zip_with(slice…))))`
    * code columns (ann_pq_md5 / ann_ivfpq_md5's pre-r19 inline form). */
  def legacyPqCodeCols(q: Column, cbz: Seq[Seq[Seq[Long]]]): Seq[Column] = {
    val m = cbz.size; val k = cbz.head.size; val sub = cbz.head.head.size
    (0 until m).map { m0 =>
      val cands = (0 until k).map { j =>
        struct(aggregate(zip_with(slice(q, m0 * sub + 1, sub),
            typedlit(cbz(m0)(j)), (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _).as("d"), lit(j).as("j"))
      }
      least(cands: _*).getField("j")
    }
  }

  /** The whole-vector centroid argmin (quantizedCells' pre-r19 form). */
  def legacyCellCol(q: Column, cz: Seq[Seq[Long]]): Column = {
    val candidates = cz.zipWithIndex.map { case (c, j) =>
      struct(aggregate(zip_with(q, typedlit(c),
          (a, b) => (a - b) * (a - b)), lit(0L), _ + _).as("d"),
        lit(j).as("j"))
    }
    least(candidates: _*).getField("j")
  }

  /** The per-table md5-sign LSH bucket columns (dedup_embed_md5's
    * pre-r19 inline form: the sign md5 re-evaluated per element). */
  def legacyLshBucketCols(q: Column, tables: Int, planes: Int): Seq[Column] = {
    def sgn(t: Int, p: Int)(i: Column): Column =
      when(conv(substring(md5(concat(lit(s"${t}_${p}_"), i.cast("string"))),
        1, 1), 16, 10).cast("int") % 2 === 0, lit(1L)).otherwise(lit(-1L))
    (0 until tables).map { t =>
      (0 until planes).map { p =>
        when(aggregate(zip_with(q,
            sequence(lit(0), size(q) - 1),
            (x, i) => x * sgn(t, p)(i)), lit(0L), _ + _) >= 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
  }
}
