package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Export, Merge}
import graft.operators.Export.Layout

/** STREAMING SINK into a graft snapshot table — the write half of
  * `format("graftlake")`, so a lake-to-lake pipeline is pure format
  * API at both ends:
  *
  *   df.writeStream.format("graftlake")
  *     .option("path", tableDir).partitionBy("dt")
  *     .outputMode("append").start()
  *
  * Exactly-once is BUILT IN, not caller boilerplate: every commit
  * carries the micro-batch id as the `#batch=` manifest header, and
  * [[addBatch]] refuses a batch id at or below the table's high-water
  * mark — the same guard the foreachBatch pipelines hand-roll, moved
  * behind the format so a plain `writeStream` is idempotent under the
  * engine's replay storms. Output modes map to the lake's commit kinds:
  *
  *  - `Append` → one epoch per micro-batch ([[Export.appendSnapshot]])
  *    in the table's declared layout, or hive-laid-out by
  *    `.partitionBy(...)`.
  *  - `Complete` → each batch is the full result; the commit REPLACES
  *    the table head ([[Export.replaceSnapshot]]) — the materialized-
  *    view sink, every refresh time-travel-readable.
  *  - `Update` → requires `mergeKeys` (+ optional `orderBy`): each
  *    batch upserts by key with ORDER-RESOLVED merges
  *    ([[Merge.upsertLatest]] semantics — per key the max-by-(orderBy,
  *    full row) record survives, so out-of-order feeds settle to the
  *    global resolution). With `.partitionBy(cols ⊆ mergeKeys)` the
  *    rewrite is partition-scoped ([[Export.keyedScope]]);
  *    with `.option("clusterBy", "<integral merge key>")` the table is
  *    kept key-clustered and the rewrite is FILE-scoped — only files
  *    the batch's key envelope cannot rule out are touched
  *    ([[Export.envelopeScope]]); with
  *    `.option("morUpsert", "true")` the batch commits MERGE-ON-READ
  *    ([[Export.upsertSnapshotMoR]]) — beaten incumbents become
  *    deletion-vector positions and only the winners are appended, so
  *    a micro-batch WRITES O(batch) regardless of table size (pair
  *    with `autoCompactEvery` to fold the accumulating DVs/epochs, and
  *    with `clusterBy` to also scope the matched-key SCAN to
  *    zone-overlapping files); otherwise the full-table rewrite needs
  *    an explicit `allowFullRewrite` opt-in.
  *
  * Options: `path` (required), `filesPerCommit` (default 1 — epoch
  * width), `autoCompactEvery` = N (unpartitioned tables: after every
  * Nth version, fold the accumulated small epochs into one
  * [[Export.compactSnapshot]] commit — the small-file answer for
  * epoch-per-micro-batch ingest; the compaction carries the `#batch=`
  * watermark forward, so exactly-once survives it. NOTE: each
  * compaction is a WHOLE-TABLE rewrite — size N so the table rewritten
  * every N batches stays cheap, or compact out-of-band with
  * `lake-compact --partition`), `mergeKeys`, `orderBy`
  * (comma-separated), `clusterBy` (Update mode: zone-pruned file-scoped
  * merges, see above), `allowFullRewrite` (Update mode without
  * `.partitionBy`/`clusterBy`: explicit opt-in acknowledging that EVERY
  * micro-batch reads and rewrites the whole table — the sink refuses
  * otherwise), `autoVacuumKeep` = K (retention built in: after each
  * commit drop all but the newest K versions and reclaim unreferenced
  * files past the in-flight horizon — bounds a minute-trigger sink's
  * otherwise unbounded version log; size K above downstream stream lag
  * and reader staleness).
  *
  * Scale shape: a micro-batch commit is one epoch write + one manifest
  * rename; the guard is one manifest-header scan-back. State lives in
  * the table's log, not the sink — a crashed query resumes from the
  * engine checkpoint and the guard swallows the replayed batch.
  */
final class GraftLakeSink(spark: SparkSession,
    params: Map[String, String], partitionCols: Seq[String],
    mode: OutputMode) extends Sink {

  private def opt(key: String): Option[String] =
    params.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private val path = opt("path").getOrElse(
    throw new IllegalArgumentException(
      "graftlake sink needs a table directory: .option(\"path\", dir)"))
  private val filesPerCommit = opt("filesPerCommit").map(_.toInt)
    .getOrElse(1)
  require(filesPerCommit >= 1,
    s"filesPerCommit must be >= 1, got $filesPerCommit")
  private val autoCompactEvery = opt("autoCompactEvery").map(_.toInt)
  autoCompactEvery.foreach(n => require(n >= 2,
    s"autoCompactEvery must be >= 2, got $n"))
  /** Retention housekeeping built into the sink: after each commit,
    * drop all but the newest `autoVacuumKeep` versions and reclaim
    * unreferenced files older than the in-flight horizon — a
    * minute-trigger sink otherwise accretes ~0.5 M versions/year. Size
    * it ABOVE any downstream stream's maximum lag (a vacuumed unserved
    * version trips that stream's failOnDataLoss) and above the
    * reader-staleness bound; the exactly-once `#batch=` watermark
    * always survives (it rides the newest version). */
  private val autoVacuumKeep = opt("autoVacuumKeep").map(_.toInt)
  autoVacuumKeep.foreach(k => require(k >= 2,
    s"autoVacuumKeep must be >= 2 (the pre-commit version must " +
      s"survive its own trigger for concurrent readers), got $k"))
  /** In-flight horizon for the built-in vacuum (default: the
    * conservative [[Export.DefaultVacuumHorizonMs]]). Lower it only
    * when no OTHER writer can be mid-commit on this table — the sink
    * itself commits data-first-manifest-after inside one addBatch, so
    * its own files are always referenced before its vacuum runs. */
  private val autoVacuumHorizonMs = opt("autoVacuumHorizonMs")
    .map(_.toLong).getOrElse(Export.DefaultVacuumHorizonMs)
  require(autoCompactEvery.isEmpty || partitionCols.isEmpty,
    "autoCompactEvery rewrites the WHOLE table - use lake-compact " +
      "--partition maintenance for partitioned tables, which rewrites " +
      "only the partitions a stream erodes")
  private val mergeKeys = opt("mergeKeys").toSeq
    .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  private val orderCols = opt("orderBy").toSeq
    .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  private val allowFullRewrite =
    opt("allowFullRewrite").exists(_.toBoolean)
  /** Update mode as MERGE-ON-READ commits: DV the beaten incumbents +
    * append the winners ([[Export.upsertSnapshotMoR]]) — O(batch)
    * writes per trigger at any table size. */
  private val morUpsert = opt("morUpsert").exists(_.toBoolean)
  require(!morUpsert || partitionCols.isEmpty,
    "morUpsert is the unpartitioned/clustered Update shape; a " +
      "partitioned table already merges partition-scoped - drop " +
      ".partitionBy or morUpsert")
  /** Update mode without a partition layout: keep the table CLUSTERED
    * on this integral merge key and rewrite only the files each batch's
    * key envelope cannot rule out ([[Export.envelopeScope]]) — the
    * file-granular answer where partitioning is too coarse. */
  private val clusterBy = opt("clusterBy").map(_.trim).filter(_.nonEmpty)

  /** The layout of every Append-mode micro-batch: the `.partitionBy`
    * columns, else the table's DECLARED layout
    * ([[Export.declaredLayout]] — its partitions, or zones on its
    * `graft.cluster.key` without a per-query `.option("clusterBy",
    * ...)`), resolved once at the first batch. Missing table → plain
    * epochs. */
  private lazy val appendLayout: Layout =
    if (partitionCols.nonEmpty) Layout.Partitioned(partitionCols,
      filesPerCommit)
    else try Export.declaredLayout(path, filesPerCommit)
    catch { case scala.util.control.NonFatal(_) => Layout.Plain }

  /** Commit `rows` as one epoch laid out by `layout`; a plain epoch
    * keeps `filesPerCommit` files. */
  private def append(rows: DataFrame, layout: Layout,
      meta: Map[String, String]): Int =
    Export.appendSnapshot(spark,
      if (layout == Layout.Plain) rows.coalesce(filesPerCommit) else rows,
      path, layout, meta)
  clusterBy.foreach(k => require(mergeKeys.contains(k),
    s"clusterBy '$k' must be one of mergeKeys " +
      s"(${mergeKeys.mkString(",")}) - only then does a matched row's " +
      "file provably overlap the batch envelope"))
  require(clusterBy.isEmpty || partitionCols.isEmpty,
    "clusterBy is the unpartitioned Update layout; a partitioned table " +
      "already merges partition-scoped")

  if (mode == OutputMode.Update()) {
    require(mergeKeys.nonEmpty,
      "Update mode needs .option(\"mergeKeys\", \"k1,k2\") - each " +
        "batch upserts by key with order-resolved merges")
    require(orderCols.nonEmpty,
      "Update mode needs .option(\"orderBy\", \"ts,...\") - the " +
        "sequence columns that resolve out-of-order updates")
    // SCALE CONTRACT, stated where the user can't miss it: without a
    // partition layout, every micro-batch reads the FULL table and
    // rewrites it (O(table) per trigger) — fine for a small keyed state
    // table, a pathology when a CDC stream points at a big one. The
    // designed scale path is .partitionBy(cols ⊆ mergeKeys), whose
    // rewrite is scoped to the batch's touched partitions.
    require(partitionCols.nonEmpty || clusterBy.nonEmpty ||
        morUpsert || allowFullRewrite,
      "unpartitioned Update mode reads and REWRITES THE ENTIRE TABLE " +
        "every micro-batch (O(table) per trigger). Partition the table " +
        "with .partitionBy(cols ⊆ mergeKeys) for partition-scoped " +
        "merges, keep it clustered with .option(\"clusterBy\", " +
        "\"<integral merge key>\") for zone-pruned file-scoped merges, " +
        "or opt in explicitly with .option(\"allowFullRewrite\", " +
        "\"true\")")
  } else require(mergeKeys.isEmpty,
    "mergeKeys is only meaningful in Update mode")
  if (mode == OutputMode.Complete())
    // replaceSnapshot commits the refresh unpartitioned; silently
    // dropping a requested layout is worse than refusing (ADVICE r11)
    require(partitionCols.isEmpty,
      "Complete mode replaces the whole table UNPARTITIONED " +
        "(replaceSnapshot) - .partitionBy(...) would be silently " +
        "ignored. Drop it, or use Append/Update mode for partitioned " +
        "commits")
  if (partitionCols.nonEmpty && mergeKeys.nonEmpty)
    require(partitionCols.forall(mergeKeys.contains),
      s"partition columns ${partitionCols.mkString(",")} must be a " +
        s"subset of mergeKeys ${mergeKeys.mkString(",")} - the law " +
        "that makes per-partition merge equal the global merge")

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    synchronized {
      // exactly-once: the engine replays the last uncommitted batch on
      // recovery; the manifest's #batch= high-water mark refuses it
      if (batchId <= Export.lastAppliedBatch(path)) return
      // the incoming frame is streaming-planned (actions refuse it);
      // rebind its physical rows as a batch frame first
      val batch = GraftLakeSource.internalFrame(spark, data,
        isStreaming = false)
      val meta = Map("batch" -> batchId.toString)
      if (mode == OutputMode.Complete())
        Export.replaceSnapshot(spark, batch, path, meta = meta)
      else if (mode == OutputMode.Update()) {
        lazy val latest = Export.latestSnapshotVersion(path)
        def merged(base: DataFrame) =
          Merge.upsertLatest(base, batch, mergeKeys, orderCols)
        if (partitionCols.nonEmpty)
          Export.rewriteScoped(spark, path,
            Export.keyedScope(Export.readManifest(path, latest), batch,
              mergeKeys, partitionCols),
            Layout.Partitioned(partitionCols, filesPerCommit), meta,
            "overwrite")(merged)
        else if (morUpsert) {
          if (latest > 0)
            // MoR commit: O(batch) writes; scan zone-scoped when
            // clustered (clusterBy doubles as the MoR cluster key)
            Export.upsertSnapshotMoR(spark, path, batch, mergeKeys,
              orderCols, clusterKey = clusterBy,
              nFiles = filesPerCommit, meta = meta)
          else {
            // bootstrap: first batch resolves within itself; clustered
            // + zoned when a cluster key is declared, so batch 2 prunes
            append(merged(batch.limit(0)),
              clusterBy.fold[Layout](Layout.Plain)(
                Layout.Clustered(_, filesPerCommit)), meta)
          }
        } else clusterBy match {
          case Some(k) if latest > 0 =>
            // file-scoped merge: only the files the batch's key
            // envelope cannot rule out are rewritten (an empty batch
            // commits nothing)
            Export.envelopeScope(Export.readManifest(path, latest), batch,
              mergeKeys, k).foreach(Export.rewriteScoped(spark, path, _,
                Layout.Clustered(k, filesPerCommit), meta, "overwrite")(
                merged))
          case Some(k) =>
            // bootstrap: first batch resolves within itself and lands
            // clustered + zoned so the next batch can prune
            append(merged(batch.limit(0)),
              Layout.Clustered(k, filesPerCommit), meta)
          case None =>
            val base =
              if (latest == 0) batch.limit(0)
              else Export.readSnapshot(spark, path, latest)
            Export.replaceSnapshot(spark,
              merged(base).coalesce(filesPerCommit), path, meta = meta)
        }
      } else append(batch, appendLayout, meta)
      // a bare compaction keeps the table's declared layout
      autoCompactEvery.foreach { n =>
        val v = Export.latestSnapshotVersion(path)
        if (v % n == 0) Export.compactSnapshot(spark, path,
          nFiles = filesPerCommit)
      }
      // retention AFTER compaction: the compacted head is the newest
      // survivor and carries the batch watermark forward, so
      // exactly-once survives any keep; the default in-flight horizon
      // protects a concurrent committer's unreferenced fresh files
      // an EXPLICIT autoVacuumHorizonMs is the documented per-sink
      // opt-in ("lower it only when no other writer can be
      // mid-commit"), so it bypasses the shared retention floor; the
      // default horizon is the floor itself and always passes
      autoVacuumKeep.foreach(k =>
        Export.vacuumSnapshots(path, keep = k,
          horizonMs = autoVacuumHorizonMs,
          retentionCheck = opt("autoVacuumHorizonMs").isEmpty))
    }

  override def toString: String = s"GraftLakeSink[$path, $mode]"
}
