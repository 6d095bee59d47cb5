package graft.sinks

import org.apache.spark.sql.DataFrame

/** K1: the backend abstraction, Spark-shaped.
  *
  * The reference's `AbstractBackend` manages engine lifecycles
  * (open/write/close/import/cleanup — lightning/backend/backend.go:77-118)
  * because it must hand-schedule buffered writes; Spark's task commit
  * protocol already provides atomic, idempotent, retry-safe output, so the
  * surface shrinks to: write a DataFrame, report what was written.
  */
final case class WriteResult(table: String, rows: Long, outputPath: Option[String])

trait Sink {
  /** Write one table; must be idempotent under task retries (Spark commit
    * protocol for files; REPLACE/ON DUPLICATE semantics for SQL). */
  def write(df: DataFrame, db: String, table: String): WriteResult
}

/** Parquet (lakehouse) sink — the local/test default and the natural
  * "bulk files" analog of the importer backend's sorted SSTs.
  * Scale: `maxRecordsPerFile` bounds output file size the way the
  * reference's engine batcher bounds engines (region.go:64-133).
  *
  * Reports rows = -1 ("not counted"): the pipeline observes the row count
  * during the write itself (df.observe), so a count re-scan here would be
  * a pure extra pass. Set `recountRows` for a standalone use that wants
  * the sink to verify the written count. */
final class ParquetSink(rootDir: String,
    maxRecordsPerFile: Long = 5000000L,
    recountRows: Boolean = false) extends Sink {
  override def write(df: DataFrame, db: String, table: String): WriteResult = {
    val path = s"$rootDir/$db/$table"
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
    val rows =
      if (recountRows) df.sparkSession.read.parquet(path).count() else -1L
    WriteResult(s"$db.$table", rows, Some(path))
  }

  /** Post-import compaction — the parquet analog of the reference's
    * PostRestore compact step (restore.go:257 fullCompact / :984-991
    * level-1 compact; TiKV compacts SST levels, a parquet sink compacts
    * SMALL FILES: chunk-granular appends leave roughly one file per chunk
    * task, and at 100 TB a million 4 MiB files poison every downstream
    * scan's split planning). Rewrites the table directory into
    * ≈`targetBytes` files with coalesce — no shuffle, each output task
    * concatenates adjacent inputs. Row content is untouched, so the A3
    * re-scan checksum is unchanged; only layout. Swap is rename-based:
    * a crash can leave `_precompact_<table>` behind, and the next compact
    * (or a fresh import's overwrite) heals it — the data dir itself is
    * never half-written because the rewrite lands in a temp dir first.
    *
    * NOT safe under concurrent readers: the swap is two renames (dir →
    * backup, temp → dir), and between them the table directory does not
    * exist — a query planned in that window fails or sees an empty
    * table. Run compact only in the post-import step, before the table
    * is published to readers (the pipeline does exactly that); a
    * concurrent-reader-safe swap needs a filesystem with atomic
    * directory replace or a catalog-level pointer flip.
    * Returns the resulting file count (0 = nothing to do). */
  def compact(spark: org.apache.spark.sql.SparkSession, db: String,
      table: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(tablePath(db, table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(dir.getParent, s"_precompact_${dir.getName}")
    // heal a crashed previous swap: data dir gone, backup present — a
    // silent rename failure here would report "0 files" over intact data
    if (!fs.exists(dir) && fs.exists(old)) {
      if (!fs.rename(old, dir))
        throw new java.io.IOException(s"compact heal rename failed: $old -> $dir")
    }
    // a crash AFTER a completed swap but before backup cleanup leaves a
    // full-size stale copy; clear it before any early return below, or it
    // would survive every subsequent (already-compact) run. Deleted ONLY
    // when the data dir shows a completed write (_SUCCESS) — on an
    // object store whose rename is non-atomic, a half-moved data dir must
    // not cost the one complete copy.
    else if (fs.exists(old) &&
        fs.exists(new Path(dir, "_SUCCESS"))) fs.delete(old, true)
    if (!fs.exists(dir)) return 0
    val parts = fs.listStatus(dir).filter(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
    val bytes = parts.map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (parts.length <= n) return parts.length // already compact enough
    val tmp = new Path(dir.getParent, s"_compacting_${dir.getName}")
    fs.delete(tmp, true)
    spark.read.parquet(dir.toString).coalesce(n)
      .write.option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(tmp.toString)
    fs.delete(old, true)
    if (!fs.rename(dir, old) || !fs.rename(tmp, dir))
      throw new java.io.IOException(s"compact swap failed for $dir")
    fs.delete(old, true)
    fs.listStatus(dir).count(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
  }

  /** One-job staging write for a BATCH of small same-schema tables,
    * partitioned by an integer table-ordinal column (int values → no
    * partition-path escaping concerns). Returns the staging dir; the
    * caller renames each `<dir>/<partCol>=<i>` into its table's final
    * location. `batchName` should be deterministic for the table set so a
    * crashed staging dir is simply overwritten by the retry. */
  def writeBatch(df: DataFrame, batchName: String, partCol: String): String = {
    val path = s"$rootDir/$batchName"
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      // commit algorithm v2: task-side renames instead of a sequential
      // driver-side merge of every partition dir at commitJob — the merge
      // is per-table fixed cost here (one dir per table in the batch).
      // v2's weaker failure atomicity is fine for a STAGING dir: the
      // pipeline's publish step renames per-table dirs out only after the
      // whole job succeeds, and a crashed staging dir is overwritten.
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .partitionBy(partCol)
      .parquet(path)
    path
  }

  /** Bucketed write (the co-located-join output shape): Spark bucketing +
    * per-bucket sort on `bucketCols` via saveAsTable — every downstream
    * join/aggregate keyed on those columns reads the bucket layout from
    * the catalog and plans with NO exchange and NO sort. The price: one
    * transactional write per table (no chunk-staged appends — enforced by
    * the pipeline), and the table must live in the session catalog, since
    * plain `spark.read.parquet` cannot see bucket metadata. */
  def writeBucketed(df: DataFrame, db: String, table: String,
      buckets: Int, bucketCols: Seq[String]): WriteResult = {
    require(bucketCols.nonEmpty, "bucketBy needs at least one column")
    val path = s"$rootDir/$db/$table"
    val spark = df.sparkSession
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    df.write.mode("overwrite")
      .option("path", path)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(s"`$db`.`$table`")
    WriteResult(s"$db.$table", -1L, Some(path))
  }

  /** Staged chunk write for crash-consistent resume: the chunk's job writes
    * into a hidden `_staging_<tag>` subdir (invisible to parquet readers),
    * then the driver moves each part file into the table dir and returns
    * the moved names — the caller records them in the chunk's commit state.
    * A crash anywhere in between leaves either a hidden staging dir or
    * table-dir files referenced by no committed state; both are deleted by
    * the caller's resume reconciliation, so re-running the chunk cannot
    * duplicate rows. Moves are same-FS renames (metadata ops). */
  def writeChunkStaged(df: DataFrame, db: String, table: String,
      tag: String): Seq[String] = {
    val tableDir = new org.apache.hadoop.fs.Path(tablePath(db, table))
    val staging = new org.apache.hadoop.fs.Path(tableDir, s"_staging_$tag")
    val fs = tableDir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(staging)) fs.delete(staging, true) // stale crashed attempt
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(staging.toString)
    val parts = fs.listStatus(staging).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath)
    fs.mkdirs(tableDir)
    val moved = parts.map { p =>
      val dst = new org.apache.hadoop.fs.Path(tableDir, p.getName)
      // rename reports failure via its return value (existing destination,
      // cross-FS move) — committing the chunk state over a missing file
      // would silently lose rows AND skip the chunk on resume
      if (!fs.rename(p, dst))
        throw new java.io.IOException(s"staged-chunk rename failed: $p -> $dst")
      p.getName
    }
    fs.delete(staging, true)
    moved
  }

  def tablePath(db: String, table: String): String = s"$rootDir/$db/$table"
}
