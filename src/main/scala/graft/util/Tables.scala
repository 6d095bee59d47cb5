package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every operator query receives an `sfDir` such as `/root/testdata/sf0.01`
  * and reads only the parquet under it. Filters/projections applied by the
  * caller are pushed to the parquet scan by Catalyst — never pre-collect.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Epoch-microseconds expression for an `events.ts` column, dispatched on
    * the PHYSICAL type the parquet reader produced — the testdata generator
    * has shipped the column as both TIMESTAMP(NANOS) (read as epoch-nanos
    * long under `spark.sql.legacy.parquet.nanosAsLong=true`, kept for
    * backward compat) and TIMESTAMP(MICROS) `isAdjustedToUTC=false` (read
    * as TIMESTAMP_NTZ). DuckDB's oracle `epoch_us(ts)` is layout-agnostic;
    * this makes the Spark side equally so. NTZ→Timestamp cast is exact
    * under the UTC session timezone both mains pin.
    */
  def tsMicros(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    dt match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType | TimestampType =>
        unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported physical type $other")
    }
  }

  /** `events` with `ts` normalized to epoch microseconds (long) plus a
    * `ts_ts` TimestampType view of it — µs is the cross-engine comparison
    * precision (DuckDB reads both historical layouts at µs). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(spark, sfDir, "events")
    raw
      .withColumn("ts", tsMicros(raw.schema("ts").dataType))
      .withColumn("ts_ts", timestamp_micros(col("ts")))
  }
}
