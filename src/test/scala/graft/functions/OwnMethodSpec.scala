package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec

class OwnMethodSpec extends SparkSpec {
  // a range, not a local Seq: a projection over local rows is folded into
  // the relation and never reaches codegen
  private def df = spark.range(3).select(
    when(col("id") =!= 1, (col("id") + 1).cast("int")).as("i"),
    when(col("id") =!= 2, repeat(lit("b"), (col("id") + 1).cast("int"))).as("s"),
    concat(lit("x"), col("id").cast("string")).as("t"))

  /** Expressions over deferred (read-once) and shared inputs, nullable and
    * not, of primitive and object types. */
  private val exprs = Seq(
    when(col("i") > 1, col("i") * 2).otherwise(length(col("s"))),
    coalesce(col("s"), col("t")),
    concat(col("t"), col("t")),
    col("i").isNull,
    lit(7))

  private def rows(wrap: Boolean) = df.select(exprs.zipWithIndex.map {
    case (e, i) => (if (wrap) OwnMethod(e) else e).as(s"c$i") }: _*)

  test("wrapped expressions evaluate like unwrapped, fused or not") {
    val fused = rows(wrap = true)
    assert(fused.queryExecution.executedPlan
      .collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty)
    assert(fused.collect().toSeq === rows(wrap = false).collect().toSeq)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(rows(wrap = true).collect().toSeq ===
      rows(wrap = false).collect().toSeq)
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("each wrapped expression is a generated method of its own") {
    val w = rows(wrap = true).queryExecution.executedPlan
      .collectFirst { case w: WholeStageCodegenExec => w }.get
    val (_, code) = w.doCodeGen()
    assert("private \\w+ \\w*ownMethod_\\d+\\(".r
      .findAllIn(code.body).size === exprs.size - 1) // lit(7) folds away
  }
}
