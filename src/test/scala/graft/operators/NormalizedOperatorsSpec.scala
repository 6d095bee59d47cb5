package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The operators built on `Similarity.normalizedFrame` — SemDeDup, PQ and
  * IVF-PQ — must keep their outputs byte for byte across changes to the
  * normalisation. `golden/normalized_operators.txt` holds them as
  * rendered by the `aggregate`/`transform` lambda normalisation (the form
  * `VecOracles.lambdaNormalized` keeps), on a fixed corpus that carries
  * every edge row the kernel must drop or keep. */
class NormalizedOperatorsSpec extends SparkSpec {

  test("SemDeDup, IVF-PQ and PQ outputs are byte-identical to the lambda form") {
    val src = scala.io.Source.fromFile(fixture("golden/normalized_operators.txt"))
    val want = try src.getLines().filterNot(_.startsWith("#")).toVector
      finally src.close()
    val got = NormalizedOperatorsSpec.render(spark)
    val diff = got.zipAll(want, "<none>", "<none>").zipWithIndex
      .filter { case ((g, w), _) => g != w }
    assert(diff.isEmpty, s"${diff.size} lines differ; first: " + diff.take(3)
      .map { case ((g, w), i) => s"line $i got [$g] want [$w]" }.mkString("; "))
    // the corpus exercises the pair miner and every code path
    assert(got.count(_.startsWith("sem ")) > 10)
    assert(got.count(_.startsWith("ivfpq.code ")) === 244)
  }
}

object NormalizedOperatorsSpec {

  private val vecType = ArrayType(FloatType, containsNull = true)

  /** 200 vectors around 8 centres, 40 near-duplicates of every fifth,
    * then the edge rows: zero, NaN, ±Inf, null element, empty and null
    * (dropped), tiny and huge elements (kept). */
  def corpus(spark: SparkSession): DataFrame = {
    val r = new java.util.Random(31337L)
    val dim = 16
    val centres = Array.fill(8, dim)(r.nextGaussian())
    val base = (0 until 200).map(i =>
      centres(i % 8).map(c => (c + 0.35 * r.nextGaussian()).toFloat))
    val near = (0 until 40).map(j =>
      base(j * 5).map(x => (x + 0.01 * r.nextGaussian()).toFloat))
    def boxed(xs: Seq[Float]): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)
    def edge(at: Int, x: java.lang.Float): Seq[java.lang.Float] =
      boxed(base(at).toSeq).updated(3, x)
    val edges: Seq[Seq[java.lang.Float]] = Seq(
      boxed(Seq.fill(dim)(0f)),
      edge(1, Float.NaN),
      edge(2, Float.PositiveInfinity),
      edge(3, Float.NegativeInfinity),
      edge(4, null),
      Seq.empty,
      null,
      boxed(Seq.tabulate(dim)(i => if (i % 3 == 0) -1e-30f else 1e-30f)),
      edge(5, 3e38f),
      boxed(Seq.tabulate(dim)(i => if (i % 2 == 0) 3e38f else -3e38f)),
      edge(6, 1e-30f))
    val rows = (base.map(v => boxed(v.toSeq)) ++ near.map(v => boxed(v.toSeq)) ++ edges)
      .zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("v", vecType))))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
  private def hex(d: Double): String =
    f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  /** Every output of the three operators on [[corpus]], one fact a line. */
  def render(spark: SparkSession): Seq[String] = {
    import graft.functions.VecOps
    val df = corpus(spark)
    val sem = Similarity.semDedupPairs(df, "v", "id", tau = 0.95, nlist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      .map { case (a, b, c) => s"sem $a $b ${hex(c)}" }
    val ivf = Similarity.ivfPqIndex(df, "v", "id", nlist = 8, m = 4, k = 16)
    val ivfLines =
      ivf.centroids.zipWithIndex.map { case (c, i) =>
        s"ivfpq.centroid $i ${c.map(hex).mkString(" ")}" } ++
      VecOps.unpackDoubles(ivf.codebook).grouped(4).zipWithIndex.map {
        case (c, i) => s"ivfpq.codebook $i ${c.map(hex).mkString(" ")}" } ++
      ivf.coded.collect().map(r =>
        (r.getLong(0), r.getInt(1), hex(r.getAs[Array[Byte]](2)))).sorted
        .map { case (id, cell, codes) => s"ivfpq.code $id $cell $codes" }
    val pq = Similarity.pqIndex(df, "v", "id", m = 4, k = 16)
    val pqLines =
      VecOps.unpackDoubles(pq.codebook).grouped(4).zipWithIndex.map {
        case (c, i) => s"pq.codebook $i ${c.map(hex).mkString(" ")}" } ++
      pq.encoded.collect().map(r => (r.getLong(0), hex(r.getAs[Array[Byte]](1))))
        .sorted.map { case (id, codes) => s"pq.code $id $codes" }
    sem.toSeq ++ ivfLines ++ pqLines
  }
}
