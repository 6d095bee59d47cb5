package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generation and output checks shared by the workloads.
  * Every generated value is a pure function of (seed, salt, row id), so
  * the same seed gives byte-identical inputs on every pass and run. */
object Common {
  /** Vocabulary for text columns. A few entries carry the characters a
    * dump parser must escape or quote (quote, backslash, comma). */
  val Words: Seq[String] = Seq("the", "data", "table", "row", "column",
    "spark", "index", "merge", "scan", "join", "value", "key", "batch",
    "order", "line", "part", "supply", "ship", "fast", "slow", "blue",
    "green", "final", "deposit", "account", "regular", "express", "pending",
    "quick", "careful", "ironic", "bold", "silent", "even", "special",
    "furious", "theodolite", "pinto", "bean", "request", "package",
    "instruction", "platelet", "foxes", "warthog", "dolphin", "sauternes",
    "it's", "o'brien", "c:\\tmp", "a,b", "say \"hi\"", "naïve", "über")

  /** Uniform integer in [0, m) from (seed, salt, id). */
  def rnd(seed: Long, salt: Int, id: Column, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(m))

  def word(seed: Long, salt: Int, id: Column): Column =
    element_at(array(Words.map(lit): _*),
      (rnd(seed, salt, id, Words.size) + 1).cast("int"))

  /** `minW`..`maxW` words joined by spaces. */
  def phrase(seed: Long, salt: Int, id: Column, minW: Int, maxW: Int): Column = {
    val n = rnd(seed, salt, id, maxW - minW + 1) + minW
    concat_ws(" ", (0 until maxW).map(i =>
      when(lit(i) < n, word(seed, salt * 100 + i + 1, id))): _*)
  }

  def decimal(seed: Long, salt: Int, id: Column, maxCents: Long): Column =
    (rnd(seed, salt, id, maxCents) / 100).cast(DecimalType(15, 2))

  def date(seed: Long, salt: Int, id: Column, days: Long): Column =
    date_add(lit("1992-01-01").cast("date"), rnd(seed, salt, id, days).cast("int"))

  /** A column rendered as a MySQL literal, the way mydumper writes it. */
  def sqlLiteral(c: Column, t: DataType): Column = {
    val body = t match {
      case StringType | DateType | TimestampType | TimestampNTZType =>
        concat(lit("'"), regexp_replace(regexp_replace(c.cast("string"),
          "\\\\", "\\\\\\\\"), "'", "\\\\'"), lit("'"))
      case _ => c.cast("string")
    }
    coalesce(body, lit("NULL"))
  }

  /** A column rendered as a headerless-CSV field: strings quoted with
    * backslash escapes, NULL as `\N` (graft's CsvConfig defaults). */
  def csvField(c: Column, t: DataType): Column = {
    val body = t match {
      case StringType | DateType | TimestampType | TimestampNTZType =>
        concat(lit("\""), regexp_replace(regexp_replace(c.cast("string"),
          "\\\\", "\\\\\\\\"), "\"", "\\\\\""), lit("\""))
      case _ => c.cast("string")
    }
    coalesce(body, lit("\\N"))
  }

  /** mydumper-style multi-row INSERT text of one row: a statement opens
    * every `rowsPerStmt` rows of a file and closes at its last tuple or the
    * file's end; one tuple per line. `pos` is the row's index in its
    * file, `fileRows` the file's row count. */
  def insertLine(table: Column, schema: StructType, pos: Column,
      fileRows: Column, rowsPerStmt: Int): Column = {
    val tuple = concat(lit("("), concat_ws(",", schema.fields.map(f =>
      sqlLiteral(col(f.name), f.dataType)).toIndexedSeq: _*), lit(")"))
    concat(
      when(pos % rowsPerStmt === 0,
        concat(lit("INSERT INTO `"), table, lit("` VALUES\n")))
        .otherwise(lit("")),
      tuple,
      when(pos % rowsPerStmt === rowsPerStmt - 1 || pos === fileRows - 1,
        lit(";")).otherwise(lit(",")))
  }

  def csvLine(schema: StructType): Column =
    concat_ws(",", schema.fields.map(f =>
      csvField(col(f.name), f.dataType)).toIndexedSeq: _*)

  /** Writes a one-column frame of lines as one text file per partition,
    * in partition order, moved to `dest/name(partition)`. The frame must
    * come from `spark.range(..., numPartitions)` through narrow steps
    * only, so partition i holds file i's rows in order. Returns bytes. */
  def writeFiles(lines: DataFrame, tmp: File, dest: File,
      name: Int => String): Long = {
    lines.write.mode("overwrite").text(tmp.getPath)
    dest.mkdirs()
    val PartR = """part-(\d+)-.*""".r
    val moved = tmp.listFiles().toSeq.map(_.getName).collect {
      case n @ PartR(i) =>
        val target = new File(dest, name(i.toInt))
        Files.move(new File(tmp, n).toPath, target.toPath,
          StandardCopyOption.REPLACE_EXISTING)
        target.length()
    }
    graft.util.Dirs.deleteRec(tmp)
    moved.sum
  }

  /** Bytes of every regular file under `f`. */
  def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq.map(duBytes).sum).getOrElse(0L)

  /** Order-insensitive content fingerprint per group: row count and, per
    * column, the exact sum of the 64-bit hashes of the values' string
    * forms. Two frames with equal fingerprints hold the same multiset of
    * rows per column. */
  def fingerprint(df: DataFrame, cols: Seq[String],
      group: Column = lit("all")): Map[String, Seq[String]] = {
    val aggs = count(lit(1)).as("n") +: cols.map(c =>
      sum(xxhash64(coalesce(col(c).cast("string"), lit("\u0000null")))
        .cast(DecimalType(38, 0))).as(s"h_$c"))
    df.groupBy(group.cast("string").as("_g")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getString(0) ->
        (1 until r.length).map(i => String.valueOf(r.get(i)))).toMap
  }

  /** Runs every row of `df` through the plan without keeping it: the
    * `noop` sink reads every column, so pruning cannot skip work. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration
}
