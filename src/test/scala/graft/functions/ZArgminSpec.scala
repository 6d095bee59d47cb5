package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Equivalence lock for the r19 integer-exact kernels: the one-pass
  * [[ZOps]] argmin/LSH expressions must be BIT-IDENTICAL to the legacy
  * `functions._` trees (which are still what the DuckDB oracle replays
  * through the md5-twin SQL) on the real fixture embeddings AND on
  * adversarial vectors exercising every degenerate shape the kernels
  * re-implement: NULL vector, empty vector, NULL elements, too-short /
  * too-long vectors (zip_with pads with nulls; slice truncates), exact
  * argmin ties (lowest candidate wins), negatives and large values. */
class ZArgminSpec extends SparkSpec {

  private val qType = ArrayType(LongType, containsNull = true)

  private def adversarialFrame: DataFrame = {
    def v(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    val rows: Seq[Seq[java.lang.Long]] = Seq(
      null,
      Seq.empty,
      v(1L, 2L, 3L, 4L, 5L, 6L),
      v(0L, 0L, 0L, 0L, 0L, 0L),
      v(-1000L, 1000L, -1000L, 1000L, -1000L, 1000L),
      v(1L, null, 3L, 4L, 5L, 6L),          // null element
      v(null, null, null, null, null, null), // all-null elements
      v(1L, 2L, 3L),                          // too short
      v(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),     // too long
      v(999999L, -999999L, 123456L, -654321L, 0L, 42L),
      v(7L, 7L, 7L, 7L, 7L, 7L))              // equidistant tie bait
    val rdd = spark.sparkContext.parallelize(rows.map(r =>
      Row(if (r == null) null else r)))
    spark.createDataFrame(rdd, StructType(Seq(StructField("_q", qType))))
  }

  /** Fixture embeddings quantized exactly as the md5-twin gates do. */
  private def fixtureFrame: DataFrame =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(transform(col("embedding").cast("array<double>"),
        x => floor(x * 1000).cast("long")).as("_q"))

  private def fixtureDim: Int =
    fixtureFrame.select(size(col("_q"))).head().getInt(0)

  private def assertColsEqual(df: DataFrame, neo: Seq[org.apache.spark.sql.Column],
      legacy: Seq[org.apache.spark.sql.Column]): Unit = {
    val n = neo.size
    val rows = df.select(neo ++ legacy :+ col("_q"): _*).collect()
    val bad = rows.filter(r => (0 until n).exists(i => r.get(i) != r.get(n + i)))
    assert(bad.isEmpty, bad.take(5).map { r =>
      val got = (0 until n).map(r.get).mkString(",")
      val want = (0 until n).map(i => r.get(n + i)).mkString(",")
      s"neo=[$got] legacy=[$want] q=${r.get(2 * n)}"
    }.mkString("; "))
  }

  // deterministic non-trivial centroid/codebook literals of a given shape
  private def czOf(k: Int, dim: Int): Seq[Seq[Long]] =
    (0 until k).map(j => (0 until dim).map(i =>
      (((i * 31 + j * 17 + 7) % 2000) - 1000).toLong))
  private def cbzOf(m: Int, k: Int, sub: Int): Seq[Seq[Seq[Long]]] =
    (0 until m).map(m0 => (0 until k).map(j => (0 until sub).map(i =>
      (((i * 13 + j * 29 + m0 * 41 + 3) % 2000) - 1000).toLong)))

  test("cell_z kernel is bit-identical to the legacy zip_with argmin tree") {
    // adversarial: 6-dim centroids so the 6-element vectors match and
    // every other shape degenerates; plus a tie table (all-equal
    // centroids -> lowest j wins in both forms)
    for (cz <- Seq(czOf(5, 6), Seq.fill(4)(Seq.fill(6)(7L)))) {
      assertColsEqual(adversarialFrame,
        Seq(ZExpressions.cellZ(col("_q"), cz)),
        Seq(ZExpressions.legacyCellCol(col("_q"), cz)))
    }
    val czFix = czOf(16, fixtureDim)
    assertColsEqual(fixtureFrame,
      Seq(ZExpressions.cellZ(col("_q"), czFix)),
      Seq(ZExpressions.legacyCellCol(col("_q"), czFix)))
  }

  test("pq_codes_z kernel is bit-identical to the legacy slice argmin trees") {
    val cbz = cbzOf(2, 3, 3) // m=2, sub=3: 6-element vectors fit exactly
    val neo = ZExpressions.pqCodesZ(col("_q"), cbz)
    assertColsEqual(adversarialFrame,
      (0 until 2).map(m0 => neo.getItem(m0)),
      ZExpressions.legacyPqCodeCols(col("_q"), cbz))
    val dim = fixtureDim
    val sub = dim / 2
    val cbzFix = cbzOf(2, 4, sub) // trailing dim-2*sub elements ignored
    val neoFix = ZExpressions.pqCodesZ(col("_q"), cbzFix)
    assertColsEqual(fixtureFrame,
      (0 until 2).map(m0 => neoFix.getItem(m0)),
      ZExpressions.legacyPqCodeCols(col("_q"), cbzFix))
  }

  test("lsh_buckets_z kernel is bit-identical to the legacy md5-sign trees") {
    val neo = ZExpressions.lshBucketsZ(col("_q"), 2, 3)
    assertColsEqual(adversarialFrame,
      (0 until 2).map(t => neo.getItem(t)),
      ZExpressions.legacyLshBucketCols(col("_q"), 2, 3))
    assertColsEqual(fixtureFrame,
      (0 until 2).map(t => neo.getItem(t)),
      ZExpressions.legacyLshBucketCols(col("_q"), 2, 3))
  }

  /** ann_lsh_md5's inline bucket tree before the kernel: plane p signs
    * dimension i by the parity of md5("p_i")'s first hex digit, and the
    * bucket packs plane p at bit p. The oracle of `lshBucketZ`. */
  private def annLshMd5Bucket(q: org.apache.spark.sql.Column,
      planes: Int): org.apache.spark.sql.Column = {
    def sgn(p: Int)(i: org.apache.spark.sql.Column) =
      when(conv(substring(md5(concat(lit(s"${p}_"), i.cast("string"))), 1, 1),
        16, 10).cast("int") % 2 === 0, lit(1L)).otherwise(lit(-1L))
    (0 until planes).map { p =>
      when(aggregate(zip_with(q, sequence(lit(0), size(q) - 1),
          (x, i) => x * sgn(p)(i)), lit(0L), _ + _) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  test("ann_lsh_md5's table-less bucket kernel is bit-identical to its md5-sign tree") {
    for (planes <- Seq(1, 4, 7)) {
      val neo = Seq(ZExpressions.lshBucketZ(col("_q"), planes))
      val legacy = Seq(annLshMd5Bucket(col("_q"), planes))
      assertColsEqual(adversarialFrame, neo, legacy)
      assertColsEqual(fixtureFrame, neo, legacy)
    }
    // without the table prefix there is one sign family, so one table
    intercept[IllegalArgumentException](LshBucketsZExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null,
        ArrayType(LongType)), 2, 4, tablePrefix = false))
  }

  test("overflow regime: the argmin kernels' long arithmetic wraps, it never throws") {
    // |q - c| = 3037000500 squares past Long.MaxValue, so the far
    // candidate's wrapped distance is negative and beats the exact
    // match (distance 0): code 0, not 1 — the non-ANSI contract ZOps
    // documents (an ANSI legacy tree would raise instead)
    val far = 3037000500L
    assert(far * far < 0L)
    val q = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(far))
    for (exactLen <- Seq(true, false))
      assert(ZOps.pqCodesZ(q, Array(0L, far), m = 1, k = 2, sub = 1,
        exactLen).toIntArray().toSeq === Seq(0), s"exactLen=$exactLen")
    // the same through the expression (codegen path)
    val one = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(Seq[java.lang.Long](far)))),
      StructType(Seq(StructField("_q", qType))))
    assert(one.select(ZExpressions.cellZ(col("_q"), Seq(Seq(0L), Seq(far))))
      .head().getInt(0) === 0)
  }

  test("lsh_buckets_z refuses planes outside 1..63: a bucket is one BIGINT bitmask") {
    val q = org.apache.spark.sql.catalyst.expressions.Literal.create(null,
      ArrayType(LongType))
    Seq(0, 64, 65).foreach { planes =>
      val e = intercept[IllegalArgumentException](
        LshBucketsZExpr(q, 2, planes))
      assert(e.getMessage.contains("planes"), e.getMessage)
    }
    val row = adversarialFrame.select(ZExpressions.lshBucketsZ(col("_q"), 2, 63))
      .collect()(2).getSeq[Long](0)
    // 63 planes fill bits 0..62: every bucket is a non-negative BIGINT
    assert(row.size === 2 && row.forall(_ >= 0L))
  }
}
