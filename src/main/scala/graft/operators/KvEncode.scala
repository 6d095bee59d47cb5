package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.KvChecksum
import graft.sources.MysqlTable

/** P7/A2: row → KV-pair view + data/index classification, for checksum
  * verification.
  *
  * The reference replays TiDB's row encoder to produce `t{tid}_r{handle}`
  * record keys plus one KV per index entry, then splits data vs index KVs
  * into two running checksums (reference: lightning/backend/sql2kv.go:
  * 147-239, key tag test at :228). A Spark-native engine does not need
  * TiKV's byte encoding — it needs *self-consistent* KVs: a deterministic
  * key and a canonical value serialization, so pipeline-side and sink-side
  * re-scans agree (SURVEY §7 risk register).
  *
  * Representation: key = "t{tableId}_r{rowId}" utf8 bytes; value = the
  * [[kvValue]] serialization of the row (declared column order).
  * Index KVs: key = "t{tableId}_i{n}_" + join(indexCols) bytes, value = the
  * row handle. All expressions codegen'd — the KV view is a projection, the
  * checksum a partial-aggregable XOR (never a shuffle of the data itself).
  */
object KvEncode {

  /** Field separator of the KV value and of the index-KV key. */
  private val Sep = "\u0001"

  /** The canonical data-KV value: declared column order, [[Sep]]-separated,
    * `\u0002N` for NULL — deterministic and ~5× cheaper than JSON on the
    * per-row hot path; self-consistency is all the checksum requires
    * (SURVEY §7 risk register). Every checksum path builds it here, so the
    * pipeline-side triples and a re-scan of the written rows agree. */
  private def kvValue(cols: Seq[String]): Column =
    encode(concat_ws(Sep,
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002N"))): _*), "UTF-8")

  /** Index-KV key `t{tid}_i{n}_` + the [[Sep]]-joined index columns. */
  private def indexKey(tid: Column, n: Int, indexCols: Seq[String]): Column =
    encode(concat(lit("t"), tid.cast("string"), lit(s"_i${n}_"),
      concat_ws(Sep, indexCols.map(c => col(c).cast("string")): _*)), "UTF-8")

  /** Data-KV key `t{tid}_r{rowId}`. */
  private def dataKey(tid: Column, rowIdCol: String): Column =
    encode(concat(lit("t"), tid.cast("string"), lit("_r"),
      col(rowIdCol).cast("string")), "UTF-8")

  /** Data-KV columns (`_kv_key`, `_kv_val`) appended to `df`. */
  def dataKv(df: DataFrame, tableId: Long, rowIdCol: String,
             valueCols: Seq[String]): DataFrame =
    df.withColumn("_kv_key", dataKey(lit(tableId), rowIdCol))
      .withColumn("_kv_val", kvValue(valueCols))

  /** Index-KV pairs for one index (n = index ordinal). */
  def indexKv(df: DataFrame, tableId: Long, n: Int, indexCols: Seq[String],
              rowIdCol: String): DataFrame =
    df.select(indexKey(lit(tableId), n, indexCols).as("_kv_key"),
      encode(col(rowIdCol).cast("string"), "UTF-8").as("_kv_val"))

  /** Names of the per-row helper columns `withObserveCols` appends. */
  def observeHelperCols(table: MysqlTable): Seq[String] =
    if (table.primaryKey.isEmpty) Seq("_g_dcrc", "_g_dlen")
    else Seq("_g_dcrc", "_g_dlen", "_g_icrc", "_g_ilen")

  /** Per-row KV crc/length helper columns, as a plain projection. The
    * split matters for throughput: `df.observe`'s CollectMetricsExec
    * evaluates its aggregate children INTERPRETED per row, and each
    * aggregate re-evaluates its own copy of the concat/encode/crc trees
    * (checksum + bytes + kvs = up to 4 evaluations per row, measured ~20%
    * of ingest wall time). Computing the per-row values here keeps them in
    * whole-stage codegen; the observe aggregates then only fold longs. */
  def withObserveCols(df: DataFrame, table: MysqlTable, tableId: Long,
                      rowIdCol: String): DataFrame =
    withHelperCols(df, table, lit(tableId), rowIdCol)

  /** [[withObserveCols]] with the table id taken from the column `tid`. */
  private def withHelperCols(df: DataFrame, table: MysqlTable, tid: Column,
      rowIdCol: String): DataFrame = {
    val dk = dataKey(tid, rowIdCol)
    val dv = kvValue(table.columns.map(_.name))
    val base = df
      .withColumn("_g_dcrc", graft.functions.Crc64Expr.crc64(concat(dk, dv)))
      .withColumn("_g_dlen", (length(dk) + length(dv)).cast("long"))
    if (table.primaryKey.isEmpty) base
    else {
      val ik = indexKey(tid, 0, table.primaryKey)
      val iv = encode(col(rowIdCol).cast("string"), "UTF-8")
      base
        .withColumn("_g_icrc", graft.functions.Crc64Expr.crc64(concat(ik, iv)))
        .withColumn("_g_ilen", (length(ik) + length(iv)).cast("long"))
    }
  }

  /** Observation metrics computing the checksum triple + row count in the
    * SAME pass as the sink write (`df.observe`) — replaces the former
    * write -> re-read-count -> re-read-checksum triple-scan (the reference
    * tracks its running checksum inline during delivery the same way,
    * restore.go:491). Runs over `withObserveCols` output: the aggregates
    * reference only the precomputed helper longs. Names: rows,
    * data_checksum/_bytes/_kvs and, when a primary key exists,
    * index_checksum/_bytes/_kvs. */
  def observeMetrics(table: MysqlTable, tableId: Long,
                     rowIdCol: String): Seq[Column] = checksumAggs(table)

  /** The aggregates over the helper columns behind [[observeMetrics]]. */
  private def checksumAggs(table: MysqlTable): Seq[Column] = {
    val data = Seq(
      count(lit(1)).as("rows"),
      coalesce(call_function("bit_xor", col("_g_dcrc")), lit(0L)).as("data_checksum"),
      coalesce(sum(col("_g_dlen")), lit(0L)).as("data_bytes"),
      count(lit(1)).as("data_kvs"))
    if (table.primaryKey.isEmpty) data
    else data ++ Seq(
      coalesce(call_function("bit_xor", col("_g_icrc")), lit(0L)).as("index_checksum"),
      coalesce(sum(col("_g_ilen")), lit(0L)).as("index_bytes"),
      count(lit(1)).as("index_kvs"))
  }

  /** Batched-import checksum: one aggregate job computing EVERY table's
    * checksum triple + row count + max row-id when a batch of same-schema
    * small tables was written as one partitioned job. `tidCol` supplies
    * each row's table id as a column (vs the literal in
    * [[withObserveCols]]) — keys and values are built by the same
    * functions as the single-table forms, so the per-table `verify` CLI
    * re-scan reproduces the same triples. Returns one row per `groupCol`
    * value: (_g_grp, rows, data_checksum, data_bytes, data_kvs[,
    * index_checksum, index_bytes, index_kvs], max_row_id). */
  def groupedChecksum(df: DataFrame, table: MysqlTable, tidCol: Column,
      rowIdCol: String, groupCol: Column): DataFrame = {
    val aggs = checksumAggs(table) :+
      max(col(rowIdCol).cast("long")).as("max_row_id")
    withHelperCols(df, table, tidCol, rowIdCol)
      .groupBy(groupCol.as("_g_grp")).agg(aggs.head, aggs.tail: _*)
  }

  /** A1+A2: one row per KV class with (checksum, total_bytes, total_kvs) —
    * the triple `ADMIN CHECKSUM TABLE` compares (restore.go:1429-1503).
    *
    * Fully codegen'd: per-KV crc64 via the native `Crc64Expr`, combined
    * with the built-in `bit_xor`/`sum`/`count` aggregates (XOR and sums
    * are distributive ⇒ map-side partial aggregation; one tiny row per
    * class reaches the driver). The `KvChecksum` Aggregator remains as the
    * typed-API alternative; this path keeps the whole-stage-codegen span
    * unbroken. */
  def checksumReport(df: DataFrame, table: MysqlTable, tableId: Long,
                     rowIdCol: String): DataFrame = {
    val cols = table.columns.map(_.name)
    val data = dataKv(df, tableId, rowIdCol, cols)
      .select(lit("data").as("kv_class"), col("_kv_key").as("k"), col("_kv_val").as("v"))
    val indexes =
      if (table.primaryKey.nonEmpty)
        Seq(indexKv(df, tableId, 0, table.primaryKey, rowIdCol)
          .select(lit("index").as("kv_class"), col("_kv_key").as("k"), col("_kv_val").as("v")))
      else Nil
    val all = indexes.foldLeft(data)(_ unionByName _)
      .withColumn("crc",
        graft.functions.Crc64Expr.crc64(concat(col("k"), col("v"))))
    all.groupBy(col("kv_class"))
      .agg(
        expr("bit_xor(crc)").as("checksum"),
        sum(length(col("k")) + length(col("v"))).as("total_bytes"),
        count(lit(1)).as("total_kvs"))
      .select(col("kv_class"), col("checksum"), col("total_bytes"), col("total_kvs"))
  }
}
