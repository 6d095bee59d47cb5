package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VecExpressions.{normalizeVec, packVec, packedDot}
import graft.operators.Similarity

class VecExpressionsSpec extends SparkSpec {

  /** Runs `body` once whole-stage codegen'd and once fully interpreted
    * (no generated projections or predicates). */
  private def codegenAndInterpreted(body: String => Unit): Unit =
    for ((mode, wsc, factory) <- Seq(("codegen", "true", "CODEGEN_ONLY"),
        ("interpreted", "false", "NO_CODEGEN"))) {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val old = keys.map(k => spark.conf.getOption(k))
      spark.conf.set(keys(0), wsc)
      spark.conf.set(keys(1), factory)
      try body(mode)
      finally keys.zip(old).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private val vecType = ArrayType(FloatType, containsNull = true)

  private def frame(rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, v) => Row(id, v) }, 3),
      StructType(Seq(StructField("id", LongType), StructField("v", vecType))))

  private def randomVec(r: java.util.Random, dim: Int): Seq[java.lang.Float] =
    Seq.fill(dim)(java.lang.Float.valueOf(
      (r.nextGaussian() * math.pow(10, r.nextInt(7) - 3)).toFloat))

  private def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)

  /** The edge rows: ids 1000–1006 have no direction and must drop. */
  private val edgeRows: Seq[(Long, Seq[java.lang.Float])] = Seq(
    1000L -> f(0f, 0f, 0f, 0f),
    1001L -> f(1f, Float.NaN, 2f, 3f),
    1002L -> f(1f, Float.PositiveInfinity, 2f, 3f),
    1003L -> f(1f, 2f, Float.NegativeInfinity, 3f),
    1004L -> Seq[java.lang.Float](1f, null, 2f, 3f),
    1005L -> Seq.empty,
    1006L -> null,
    1007L -> f(1e-30f, 1e-30f, -1e-30f, 1e-30f),
    1008L -> f(3e38f, 1f, -2f, 0.5f),
    1009L -> f(-3e38f, 3e38f, 3e38f, -3e38f),
    1010L -> f(1e-30f, 3e38f, 0f, -0f),
    1011L -> f(-0f, -0f, 5f, 0f))

  test("normalize_vec equals the lambda normalisation bit for bit") {
    val r = new java.util.Random(4242L)
    val df = frame((0L until 200L).map(i => i -> randomVec(r, 16)) ++ edgeRows)
    val want = VecOracles.lambdaNormalized(df, "v", "id").collect()
      .map(x => x.getLong(0) -> x.getAs[Array[Byte]](1).toSeq).toMap
    assert(want.keySet === ((0L until 200L) ++ (1007L to 1011L)).toSet)
    codegenAndInterpreted { mode =>
      val got = df.select(col("id"),
          normalizeVec(col("v").cast("array<double>")).as("_p"))
        .collect().map(x => x.getLong(0) ->
          Option(x.getAs[Array[Byte]](1)).map(_.toSeq)).toMap
      assert(got.collect { case (id, None) => id }.toSet === (1000L to 1006L).toSet,
        s"$mode: NULL rows")
      want.foreach { case (id, bytes) =>
        assert(got(id).contains(bytes), s"$mode: row $id differs") }
      // the unpacked doubles equal the plain double math, left to right
      val x = edgeRows.find(_._1 == 1010L).get._2.map(_.toDouble)
      val n = math.sqrt(x.foldLeft(0.0)((s, v) => s + v * v))
      assert(VecOps.unpackDoubles(got(1010L).get.toArray).toSeq === x.map(_ / n))
    }
  }

  test("vec_dot equals the lambda dot bit for bit, NULL law included") {
    val r = new java.util.Random(777L)
    val rows = (0 until 100).map { i =>
      Row(i.toLong, randomVec(r, 8), randomVec(r, 8)) } ++ Seq(
      Row(100L, f(1f, 2f), Seq[java.lang.Float](1f, null)),
      Row(101L, f(1f, 2f, 3f), f(1f, 2f)),
      Row(102L, null, f(1f, 2f)),
      Row(103L, Seq.empty, Seq.empty),
      Row(104L, f(Float.NaN, 1f), f(1f, 1f)),
      Row(105L, f(Float.PositiveInfinity, 1f), f(0f, 1f)),
      Row(106L, f(3e38f, 3e38f), f(3e38f, 3e38f)),
      Row(107L, f(0f, 0f), f(1f, 2f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType),
        StructField("a", vecType), StructField("b", vecType))))
    def bits(x: Row, i: Int): Option[Long] =
      if (x.isNullAt(i)) None
      else Some(java.lang.Double.doubleToLongBits(x.getDouble(i)))
    codegenAndInterpreted { mode =>
      val out = df.select(col("id"),
          Similarity.dot(col("a"), col("b")),
          VecOracles.lambdaDot(col("a"), col("b")))
        .collect()
      assert(out.length === rows.length)
      out.foreach(x => assert(bits(x, 1) === bits(x, 2), s"$mode: row ${x.getLong(0)}"))
      assert(out.filter(_.isNullAt(1)).map(_.getLong(0)).toSet === Set(100L, 101L, 102L))
      // cosine keeps Catalyst's sqrt and divide: a zero norm (row 107)
      // fails or yields the same value exactly as the lambda form does
      for (ansi <- Seq("true", "false")) {
        val prev = spark.conf.getOption("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try {
          def run(c: org.apache.spark.sql.Column) = scala.util.Try(
            df.orderBy("id").select(c).collect().map(bits(_, 0)).toSeq)
          val got = run(Similarity.cosine(col("a"), col("b")))
          val want = run(VecOracles.lambdaCosine(col("a"), col("b")))
          assert(got.isSuccess === want.isSuccess, s"$mode ansi=$ansi: $got vs $want")
          if (want.isSuccess) assert(got.get === want.get, s"$mode ansi=$ansi")
        } finally prev match {
          case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
          case None => spark.conf.unset("spark.sql.ansi.enabled")
        }
      }
    }
  }

  test("VecOps pack/dot equals plain double math, left-to-right order") {
    val a = Array(1.5, -2.0, 0.25, 1e-3)
    val b = Array(0.5, 4.0, -8.0, 1e3)
    val pa = VecOps.pack(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a))
    val pb = VecOps.pack(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
    assert(pa.length === 32)
    val expected = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    assert(VecOps.dot(pa, pb) === expected) // bit-exact: same fold order
  }

  test("packed cosine equals the unrolled flat-column cosine bit-for-bit") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Seq(-1.0f, 0.5f, 3.25f, 0.0f)),
      (3L, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("id", "v")
    val packed = vecs.select(col("id"),
      packVec(col("v").cast("array<double>")).as("p"))
    val l = packed.select(col("id").as("ia"), col("p").as("pa"))
    val r = packed.select(col("id").as("ib"), col("p").as("pb"))
    val got = l.join(r, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (packedDot(col("pa"), col("pb")) /
          (sqrt(packedDot(col("pa"), col("pa"))) *
           sqrt(packedDot(col("pb"), col("pb"))))).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap

    val lf = vecs.select(col("id").as("ia"), col("v").as("va"))
    val rf = vecs.select(col("id").as("ib"), col("v").as("vb"))
    val want = lf.join(rf, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        VecOracles.cosineUnrolled(col("va"), col("vb"), 4).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(got.keySet === want.keySet && got.nonEmpty)
    got.foreach { case (k, v) => assert(v === want(k), s"pair $k differs") }
  }

  test("packed hyperplane sketch equals the interpreted Column form bit-for-bit") {
    import spark.implicits._
    import graft.functions.VecExpressions.packedSketch
    // float vectors, like the embeddings corpus — the cast-to-double must
    // happen before packing for the sketch sums to match exactly
    val vecs = Seq(
      (1L, Seq(1.0f, -2.0f, 3.5f, 0.25f, -0.125f, 7.0f, -1e-3f, 2.5f)),
      (2L, Seq(-1.0f, 0.5f, 3.25f, 0.0f, 1.0f, -4.0f, 0.75f, -0.5f)),
      (3L, (1 to 8).map(i => (i * 0.37f - 1.3f)))).toDF("id", "v")
    for (seed <- 0 to 2; planes <- Seq(3, 4, 6)) {
      val got = vecs.select(col("id"),
        packedSketch(packVec(col("v").cast("array<double>")), planes, seed).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = vecs.select(col("id"),
        VecOracles.hyperplaneSketch(col("v"), planes, seed).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"sketch mismatch at planes=$planes seed=$seed")
      // driver-side static call agrees too (lshTopK's query-bucket path)
      val local = vecs.collect().map(r => r.getLong(0) ->
        VecOps.hyperplaneSketch(
          VecOps.packDoubles(r.getSeq[Float](1).map(_.toDouble).toArray),
          planes, seed)).toMap
      assert(local === want, s"driver-side sketch mismatch at planes=$planes seed=$seed")
    }
  }

  test("null inputs propagate, empty vectors dot to 0") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq(1.0, 2.0))), (2L, None)).toDF("id", "v")
    val out = df.select(packVec(col("v")).as("p"))
      .select(packedDot(col("p"), col("p")).as("d"))
      .collect()
    assert(out.exists(r => !r.isNullAt(0) && r.getDouble(0) === 5.0))
    assert(out.exists(_.isNullAt(0)))
    assert(VecOps.dot(Array.empty[Byte], Array.empty[Byte]) === 0.0)
  }
}
