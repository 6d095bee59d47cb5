package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** The dedup kernels' pre-kernel spread fires on a narrow input only
  * when its MEASURED size says the single-threaded kernel would
  * dominate: a frame whose size is unknown to the planner is left
  * alone, and a malformed threshold fails naming its key. */
class SpreadIfNarrowSpec extends SparkSpec {

  private val Key = "spark.graft.spread.minBytesPerPartition"

  /** A one-partition RDD-backed frame: the planner knows no size for it
    * and reports `spark.sql.defaultSizeInBytes`. */
  private def unknownSize = spark.createDataFrame(
    spark.sparkContext.parallelize((0L until 8L).map(Row(_)), 1),
    StructType(Seq(StructField("id", LongType))))

  test("a narrow frame of unknown size is not spread") {
    val df = unknownSize
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
    assert(Dedup.spreadIfNarrow(df, col("id")) eq df)
  }

  test("a malformed minBytesPerPartition fails naming the key") {
    spark.conf.set(Key, "32MiB")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.spreadIfNarrow(unknownSize, col("id")))
      assert(e.getMessage.contains(Key), e.getMessage)
    } finally spark.conf.unset(Key)
  }
}
