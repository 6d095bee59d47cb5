package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `functions._` Column forms the packed/array kernels replace, kept
  * as the bit-equality oracles of [[VecExpressionsSpec]]. Each evaluates
  * the same IEEE operations in the same order as its kernel, but through
  * interpreted higher-order functions (or, for the unrolled forms, one
  * element_at term per dimension). */
object VecOracles {

  /** `Similarity.dot` before the `vec_dot` kernel. */
  def lambdaDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** `Similarity.cosine` on [[lambdaDot]]. */
  def lambdaCosine(a: Column, b: Column): Column =
    lambdaDot(a, b) / (sqrt(lambdaDot(a, a)) * sqrt(lambdaDot(b, b)))

  /** `Similarity.normalizedFrame` before the `normalize_vec` kernel, with
    * the packed vector the operators build from its `_nv`: (idCol, _p),
    * rows without a finite positive norm dropped. */
  def lambdaNormalized(df: DataFrame, vecCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).cast("array<double>").as("_v0"))
      .withColumn("_n",
        sqrt(aggregate(transform(col("_v0"), x => x * x), lit(0.0), _ + _)))
      .filter(col("_n") > 0 && !isnan(col("_n")) &&
        col("_n") < Double.PositiveInfinity)
      .select(col(idCol), VecExpressions.packVec(
        transform(col("_v0"), x => x / col("_n"))).as("_p"))

  /** Fixed-dimension dot product as an unrolled `dim`-term expression,
    * summed left to right like `dot`. */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  def cosineUnrolled(a: Column, b: Column, dim: Int): Column =
    dotUnrolled(a, b, dim) /
      (sqrt(dotUnrolled(a, a, dim)) * sqrt(dotUnrolled(b, b, dim)))

  /** Random-hyperplane sketch: `planes` sign bits packed into a long
    * (plane 0 = MSB). Hyperplane p's component for dimension i is ±1 from
    * the parity of xxhash64(p + seed·planes, i); `seed` selects an
    * independent plane family. The oracle of `VecOps.hyperplaneSketch`. */
  def hyperplaneSketch(vec: Column, planes: Int = 8, seed: Int = 0): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p => {
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
            x.cast("double") *
              when(pmod(xxhash64(p + lit(seed * planes), i), lit(2)) === 0,
                lit(1.0)).otherwise(lit(-1.0))),
          lit(0.0), (acc, v) => acc + v)
        when(proj >= 0, lit(1L)).otherwise(lit(0L))
      }),
      lit(0L), (acc, bit) => acc * 2 + bit)
}
