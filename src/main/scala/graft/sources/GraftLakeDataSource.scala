package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.Export
import graft.operators.Export.Layout

/** STREAMING SOURCE over a graft snapshot table — the read half of the
  * lake's streaming story (the write half is the exactly-once
  * `streamingLakeIngest` family). The Delta-source shape, re-expressed
  * on this engine's manifest log:
  *
  *   spark.readStream.format("graftlake").load(tableDir)
  *
  * Offsets ARE committed versions: micro-batch (start, end] serves the
  * rows introduced by versions start+1..end, planned purely from the
  * manifests ([[Export.snapshotAddedFiles]] — two manifest reads per
  * version, never a data-dir listing, never a row-set diff). On a
  * 100 TB table a trigger therefore costs metadata proportional to the
  * NEW commits, and data proportional to the new epochs — the property
  * that makes "stream the corpus table into the next pipeline stage"
  * viable at all. Checkpoint recovery is free: the version number is
  * the offset, so a restarted query resumes from the engine's offset
  * log with no source-side state.
  *
  * Options (mirroring the Delta source's contract):
  *  - `startingVersion` (default 1): first version to serve, or
  *    `latest` to tail only commits made after the stream is created.
  *    A fresh stream whose first served version is the log's first
  *    SURVIVOR serves that manifest whole regardless of its commit
  *    kind — it IS the accumulated state (the Delta initial-snapshot
  *    semantics), so compacted-then-vacuumed logs bootstrap cleanly.
  *  - `maxVersionsPerTrigger`: admission control — cap versions
  *    admitted per micro-batch so a stream catching up on a long log
  *    re-plays it in bounded bites instead of one giant batch.
  *  - `skipChangeCommits` (default false): appends-only streams REFUSE
  *    non-append commits (compaction/delete/overwrite/restore rewrite
  *    files, so "files added at v" no longer means "rows appended at
  *    v") — by default the stream fails loudly at that version; opt in
  *    to skip such commits entirely (their rewritten files are never
  *    emitted, exactly Delta's `skipChangeCommits`).
  *  - `readChangeFeed` (default false): CDF mode — serve per-version
  *    CHANGES instead of appended rows: bag-diff rows tagged `_change`
  *    (insert/delete) + `_commit_version`, every commit kind legal.
  *  - `where` / `select`: predicate and projection applied INSIDE the
  *    per-batch plan, BEFORE the row boundary the DSv1 contract forces
  *    (a Source's batch is re-planned from its physical rows, so a
  *    filter applied downstream of `load()` cannot reach the parquet
  *    scan). `where` lands as `PushedFilters` / row-group skipping and
  *    `select` as `ReadSchema` pruning on every micro-batch's scan —
  *    at 100 TB per-commit epochs, that's the difference between
  *    scanning the columns you need and scanning the table width.
  *    `where`'s literal conjuncts ALSO prune at PLANNING time: added
  *    files whose manifest `p=`/`s=` tags provably exclude the
  *    predicate never enter the batch plan, so a partition-filtered
  *    stream over a partitioned table plans only matching files.
  *  - `failOnDataLoss` (default true): a mid-stream version gap means
  *    retention vacuumed commits the stream had not served (and its
  *    diff base with them) — fail loudly rather than silently re-serve;
  *    opt out for the best-effort diff against the newest survivor. A
  *    head-vacuumed log is NOT loss for a fresh stream: the first
  *    survivor serves the accumulated state once.
  *
  * `Trigger.AvailableNow` is supported natively
  * ([[org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow]]):
  * the end version is pinned when the trigger starts, the stream drains
  * to it in `maxVersionsPerTrigger`-sized micro-batches and terminates —
  * the scheduled-catch-up mode a nightly pipeline runs.
  *
  * The stream schema is pinned at stream start to the LATEST committed
  * `#schema=` (ADD-only evolution makes that a supertype of every older
  * epoch; absent columns null-fill in the parquet reader). Appends
  * carry no deletion vectors at commit time, so added-file reads need
  * no DV subtraction; CDF mode reads full snapshots and inherits MoR
  * correctness from the one read funnel.
  *
  * DSv1 `Source` is the deliberate choice over DSv2 `MicroBatchStream`:
  * `getBatch` returns a LOGICAL PLAN (the parquet scan of the added
  * files), so Spark's vectorized parquet reader, column pruning and
  * whole-stage codegen all apply — a DSv2 `PartitionReader` would
  * hand-decode parquet rows. This is the same trade Spark's own
  * `FileStreamSource` and Delta's source make.
  */
final class GraftLakeDataSource
    extends StreamSourceProvider with StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graftlake"

  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      params: Map[String, String]): (String, StructType) =
    (shortName(), GraftLakeSource.schemaFor(params))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      params: Map[String, String]): Source =
    new GraftLakeSource(ctx.sparkSession, params)

  override def createSink(ctx: SQLContext,
      params: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new GraftLakeSink(ctx.sparkSession, params, partitionColumns,
      outputMode)

  /** BATCH read: `spark.read.format("graftlake")
    * .option("versionAsOf"|"timestampAsOf", ...).load(dir)` — a
    * manifest-planned `HadoopFsRelation` (see [[GraftLakeBatch]]), so
    * pushed filters prune FILES from the manifest tags before the
    * vectorized parquet scan prunes row groups. */
  override def createRelation(ctx: SQLContext,
      params: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation =
    GraftLakeBatch.relation(ctx.sparkSession,
      GraftLakeSource.pathOf(params), params)

  /** BATCH write: `df.write.format("graftlake")
    * .mode("append"|"overwrite").option("partitionBy", "c1,c2")
    * .save(dir)`. Modes map to commit kinds: append →
    * [[Export.appendSnapshot]], overwrite → [[Export.replaceSnapshot]]
    * (a full-replace VERSION — time travel keeps the old states; never
    * a file-level truncate), partitioned when `partitionBy` is set.
    * Partitioning rides an option because Spark's v1 save path does not
    * forward `.partitionBy` to a CreatableRelationProvider. */
  override def createRelation(ctx: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      params: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = ctx.sparkSession
    val path = GraftLakeSource.pathOf(params)
    val partCols = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("partitionBy") => v
    }.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val filesPerCommit = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("filesPerCommit") => v.toInt
    }
    // unpartitioned epochs keep the frame's natural parallelism unless
    // the caller sizes them; partitioned epochs range-shuffle anyway
    val layout = Layout.partitionedBy(partCols,
      filesPerCommit.getOrElse(1))
    val shaped =
      if (layout != Layout.Plain) data
      else filesPerCommit.map(data.coalesce).getOrElse(data)
    val exists = Export.latestSnapshotVersion(path) >= 1
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"$path already has a snapshot log (mode=ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite =>
        Export.replaceSnapshot(spark, shaped, path, layout)
      case _ => // Append, or first write under ErrorIfExists/Ignore
        Export.appendSnapshot(spark, shaped, path, layout)
    }
    GraftLakeBatch.relation(spark, path,
      params.filterNot(_._1.equalsIgnoreCase("partitionBy")))
  }
}

object GraftLakeSource {
  /** CDF change-kind column (insert/delete), Delta CDF naming. */
  val ChangeCol = "_change"
  /** CDF commit-version column. */
  val CommitVersionCol = "_commit_version"

  private def opt(params: Map[String, String], key: String)
      : Option[String] =
    params.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private[sources] def pathOf(params: Map[String, String]): String =
    opt(params, "path").getOrElse(throw new IllegalArgumentException(
      "graftlake needs a table directory: .load(tableDir)"))

  private[sources] def cdfOf(params: Map[String, String]): Boolean =
    opt(params, "readChangeFeed").exists(_.toBoolean)

  /** Base (data) schema: the latest version's committed `#schema=`. */
  private[sources] def dataSchemaFor(params: Map[String, String])
      : StructType = {
    val path = pathOf(params)
    val latest = Export.latestSnapshotVersion(path)
    require(latest >= 1,
      s"$path has no committed versions - a graftlake stream needs at " +
        "least one commit to pin its schema")
    Export.snapshotSchema(path, latest).getOrElse(
      throw new IllegalStateException(
        s"version $latest of $path has no #schema= header " +
          "(pre-header legacy manifest) - recommit the table"))
  }

  /** Stream schema after the source-side projection/CDF columns. */
  private[sources] def schemaFor(params: Map[String, String])
      : StructType = {
    val base0 = dataSchemaFor(params)
    val base = opt(params, "select") match {
      case Some(cols) =>
        val want = cols.split(',').map(_.trim).filter(_.nonEmpty)
        StructType(want.map(c => base0.fields.find(_.name == c)
          .getOrElse(throw new IllegalArgumentException(
            s"select names unknown column '$c' (table has " +
              s"${base0.fieldNames.mkString(", ")})"))))
      case None => base0
    }
    if (cdfOf(params))
      base.add(ChangeCol, StringType).add(CommitVersionCol, LongType)
    else base
  }

  /** Re-plan `df`'s physical rows as a fresh (streaming or batch)
    * frame. Both halves of the DSv1 contract need it: a Source's batch
    * must carry isStreaming=true, and a Sink's incoming frame is
    * streaming-planned (actions like `.write` refuse it) so it must be
    * rebound as a batch frame first — the ForeachBatchSink pattern. The
    * only constructor is `SparkSession.internalCreateDataFrame`
    * (private[sql], public in bytecode) — the same seam every DSv1
    * connector outside org.apache.spark uses. */
  private[sources] def internalFrame(spark: SparkSession, df: DataFrame,
      isStreaming: Boolean): DataFrame = {
    val m = spark.getClass.getMethod("internalCreateDataFrame",
      classOf[org.apache.spark.rdd.RDD[_]], classOf[StructType],
      java.lang.Boolean.TYPE)
    m.invoke(spark, df.queryExecution.toRdd, df.schema,
      java.lang.Boolean.valueOf(isStreaming)).asInstanceOf[DataFrame]
  }
}

final class GraftLakeSource(spark: SparkSession,
    params: Map[String, String]) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import GraftLakeSource._

  private val path = pathOf(params)
  private val cdf = cdfOf(params)
  private val skipChange =
    opt(params, "skipChangeCommits").exists(_.toBoolean)
  private val failOnDataLoss =
    opt(params, "failOnDataLoss").forall(_.toBoolean)
  private val whereClause = opt(params, "where")
  /** The `where` option's conjuncts, parsed once for MANIFEST pruning:
    * each version's added files are dropped at planning time when a
    * literal conjunct provably excludes them via the manifest's
    * `p=`/`s=` tags ([[GraftLakeBatch.excludes]] — the same kernel the
    * batch FileIndex uses). The exact predicate is still applied inside
    * every batch plan; pruning accelerates, never gates. A `where` the
    * parser rejects falls back to scan-time filtering alone (it will
    * fail loudly there if genuinely malformed). */
  private val pruneConjuncts
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    whereClause.toSeq.flatMap { w =>
      try GraftLakeBatch.splitConjuncts(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(w))
      catch { case scala.util.control.NonFatal(_) => Nil }
    }
  private val maxVersions =
    opt(params, "maxVersionsPerTrigger").map(_.toLong)
  maxVersions.foreach(k => require(k >= 1,
    s"maxVersionsPerTrigger must be >= 1, got $k"))
  /** Versions <= floor are never served. `startingVersion=latest`
    * pins the floor to the head at stream creation — tail-only, the
    * "new data from now on" mode. */
  private val floor: Long = opt(params, "startingVersion") match {
    case Some(s) if s.equalsIgnoreCase("latest") =>
      Export.latestSnapshotVersion(pathOf(params)).toLong
    case Some(s) => s.toLong - 1
    case None => 0L
  }
  require(floor >= 0,
    s"startingVersion must be >= 1, got ${floor + 1}")

  private val dataSchema: StructType = dataSchemaFor(params)
  override val schema: StructType = schemaFor(params)

  /** Highest version already offered to the engine — the admission
    * watermark `maxVersionsPerTrigger` advances from. On checkpoint
    * recovery the engine replays `getBatch` for the uncommitted batch
    * BEFORE asking for a new offset, so this re-seeds from the
    * recovered end offset and the cap never re-admits served versions.
    * Monotone: getOffset never returns less than a previous answer. */
  @volatile private var highWater: Long = floor

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  /** End version `Trigger.AvailableNow` runs to: pinned when the
    * trigger starts, so commits landing DURING the run don't keep the
    * supposedly-terminating query alive (the contract of
    * [[SupportsTriggerAvailableNow]]). */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(Export.latestSnapshotVersion(path).toLong)

  /** Admission is interpreted source-side (`maxVersionsPerTrigger`),
    * not through a [[ReadLimit]] shape — versions are the unit here and
    * ReadLimit has no "max versions"; the engine just needs the default
    * back. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def nextOffset(): Long = {
    val latest = availableNowEnd
      .getOrElse(Export.latestSnapshotVersion(path).toLong)
    val capped =
      maxVersions.fold(latest)(k => math.min(latest, highWater + k))
    val next = math.max(capped, highWater)
    highWater = next
    next
  }

  /** The engine calls this (not [[getOffset]]) once a v1 Source
    * declares admission control. `start` is unused: the admission
    * watermark is [[highWater]], re-seeded by the recovery getBatch. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val next = nextOffset()
    if (next <= floor) null else LongOffset(next)
  }

  override def reportLatestOffset(): OffsetV2 = {
    val latest = Export.latestSnapshotVersion(path).toLong
    if (latest <= floor) null else LongOffset(latest)
  }

  override def getOffset: Option[Offset] = {
    val next = nextOffset()
    if (next <= floor) None else Some(LongOffset(next))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = math.max(start.map(versionOf).getOrElse(floor), floor)
    val hi = versionOf(end)
    if (hi > highWater) highWater = hi
    val survivors = Export.snapshotVersions(path).map(_.toLong)
    val versions = survivors.filter(v => v > lo && v <= hi)
    // The version log is DENSE (each commit is prev+1), so a number in
    // (lo, hi] absent from the survivors was vacuumed. A FRESH stream
    // (start=None) is safe under a head-vacuumed log: the first
    // survivor's added-file diff has no earlier survivor to subtract,
    // so it serves the full accumulated state once. A MID-STREAM gap is
    // data loss: retention keeps a contiguous tail, so a gap means the
    // stream's own diff base (the last served version) vanished too —
    // the next survivor's diff runs against an older survivor (or
    // nothing) and re-serves rows the stream already emitted, and a
    // vacuumed change commit's classification is unknowable. Fail
    // loudly unless the caller opts into the best-effort diff.
    val lost =
      if (start.isEmpty) Seq.empty
      else ((lo + 1) to hi).filterNot(versions.toSet)
    if (lost.nonEmpty && failOnDataLoss)
      throw new IllegalStateException(
        s"versions ${lost.mkString(",")} of $path were vacuumed before " +
          "this stream served them; the next batch can no longer be " +
          "reconstructed exactly (rows may be re-served). Raise the " +
          "vacuum retention above the stream's maximum lag, or set " +
          "failOnDataLoss=false to continue with the best-effort diff " +
          "against the newest survivor")
    // `where` and the `select` projection are applied INSIDE this plan,
    // upstream of the row boundary asStreaming forces — so Catalyst
    // pushes them into the per-batch parquet scan (PushedFilters /
    // ReadSchema); a filter applied downstream of load() cannot get
    // there. A Source's batch must then carry isStreaming=true; the
    // only constructor is SparkSession.internalCreateDataFrame
    // (private[sql], public in bytecode) - the same seam every DSv1
    // source outside org.apache.spark uses.
    val df =
      if (versions.isEmpty) emptyFrame(schema)
      else {
        // INITIAL-SNAPSHOT bootstrap: when a FRESH stream's first
        // served version is the log's FIRST SURVIVOR, that manifest IS
        // the accumulated table state (no earlier survivor to diff
        // against - snapshotAddedFiles returns it whole), so it is
        // served regardless of its commit kind: a fresh stream over a
        // compacted-then-vacuumed log starts cleanly instead of
        // refusing the compaction commit. Every LATER version is a
        // real change and the append rules apply; an explicit
        // startingVersion ABOVE the first survivor gets no exemption
        // (a change commit there serves partial rewrites - refuse).
        val snapshotBoot =
          start.isEmpty && survivors.headOption.contains(versions.head)
        val raw =
          if (cdf) cdfBatch(versions)
          else appendBatch(versions, bootVersion =
            if (snapshotBoot) Some(versions.head) else None)
        whereClause.fold(raw)(w => raw.filter(expr(w)))
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      }
    asStreaming(df)
  }

  /** Planning-time file pruning for filtered streams: the version's
    * added files minus those a `where` conjunct provably excludes via
    * the manifest's `p=`/`s=`/`b=` tags ([[GraftLakeBatch.excludes]];
    * physical-name-translated, identity on never-renamed tables).
    * Package-visible so the spec can assert
    * on exactly what a batch plans. */
  private[sources] def plannedAddedEntries(v: Long)
      : Seq[Export.ManifestEntry] =
    plannedAddedEntries(Export.readManifest(path, v.toInt))

  private def plannedAddedEntries(m: Export.Manifest)
      : Seq[Export.ManifestEntry] = {
    val physOf: Map[String, String] = dataSchema.fields
      .map(f => f.name -> Export.physicalOf(f)).toMap
    val excluded = pruneConjuncts.map(GraftLakeBatch.excludes(_, physOf))
    Export.addedEntries(path, m).filterNot(e => excluded.exists(_(e)))
  }

  /** `entries` decoded by PHYSICAL column name (a renamed table's bytes
    * keep their original names), planned from the manifest lines —
    * mirrors Export.readFilesAs. Callers project back to logical. The
    * files span versions and no stream row carries their mtime, so none
    * is stamped. */
  private def scanPhysical(entries: Seq[Export.ManifestEntry]): DataFrame =
    GraftLakeBatch.scan(spark, path, entries,
      StructType(dataSchema.fields.map(f =>
        f.copy(name = Export.physicalOf(f)))),
      commitMs = 0L)

  /** Appends-only batch: the union of the versions' ADDED files read
    * under the pinned stream schema — one parquet scan, planned from
    * manifests only. Non-append commits fail loudly (or are skipped
    * under `skipChangeCommits`): their added files are REWRITES of rows
    * the stream already served, not new data. */
  private def appendBatch(versions: Seq[Long],
      bootVersion: Option[Long]): DataFrame = {
    // a DV-BEARING bootstrap manifest (deleteWhereMoR head, or a restore
    // to a DV version, then vacuum) must go through the DV-aware read
    // funnel — the raw added-files scan below would silently re-emit the
    // deleted rows. Export.readSnapshot applies the anti-join and the
    // physical→logical projection; align its (possibly older) schema to
    // the pinned stream schema by physical identity.
    // each version's manifest is read once: its op, its DV tags and
    // its added files all come from it
    val manifests =
      versions.map(v => v -> Export.readManifest(path, v.toInt)).toMap
    val bootDv = bootVersion.filter(v => manifests(v).entries.exists(_.hasDv))
    val bootFrame = bootDv.map(v =>
      alignDataToPinned(Export.readSnapshot(spark, path, v.toInt)))
    val files = versions.filterNot(bootDv.contains).flatMap { v =>
      val m = manifests(v)
      m.op match {
        case _ if bootVersion.contains(v) => plannedAddedEntries(m)
        case Some("append") | None => plannedAddedEntries(m)
        // metadata-only commits (column rename/drop) carry the head's
        // exact data lines: no rows appear or vanish, the stream keeps
        // its pinned schema and just flows past them. A MoR delete also
        // adds no files but DOES change rows (dv= tags), so it is NOT
        // here - it stays a refused change commit.
        // DEFAULT and CONSTRAINT changes are also metadata-only: rows,
        // files and the pinned read schema's shape are all unchanged
        case Some("rename") | Some("drop") | Some("default") |
            Some("constraint") =>
          Seq.empty[Export.ManifestEntry]
        case Some(_) if skipChange => Seq.empty[Export.ManifestEntry]
        case Some(op) => throw new IllegalStateException(
          s"version $v of $path is a '$op' commit; a graftlake stream " +
            "serves appends only. Set skipChangeCommits=true to skip " +
            "data-changing/maintenance commits (their rewritten files " +
            "are never emitted), or use readChangeFeed=true to stream " +
            "the change feed instead")
      }
    }
    val scanned =
      if (files.isEmpty) None
      else {
        val scan = scanPhysical(files)
        Some(
          if (dataSchema.fields.exists(f => Export.physicalOf(f) != f.name))
            scan.select(dataSchema.fields.toSeq.map(f =>
              col(Export.physicalOf(f)).as(f.name)): _*)
          else scan)
      }
    (bootFrame, scanned) match {
      case (Some(b), Some(s)) => b.unionByName(s)
      case (Some(b), None) => b
      case (None, Some(s)) => s
      case (None, None) => emptyFrame(dataSchema)
    }
  }

  /** Project a snapshot read (its version's own logical names) onto the
    * pinned stream DATA schema by physical column identity — renamed
    * columns line up, later-added columns null-fill. */
  private def alignDataToPinned(df: DataFrame): DataFrame = {
    val byPhys = df.schema.fields
      .map(f => Export.physicalOf(f) -> f.name).toMap
    df.select(dataSchema.fields.toSeq.map { f =>
      byPhys.get(Export.physicalOf(f)) match {
        case Some(n) => col(n).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** CDF batch: per version, the bag diff against the previous
    * SURVIVING version tagged insert/delete + the commit version; the
    * log's first served version is insert-everything. Every commit kind
    * is legal — a delete commit feeds downstream as `delete` rows, and
    * a rename commit contributes nothing (the diff aligns versions by
    * PHYSICAL column identity). Each version's changes — emitted under
    * that version's own names — are aligned to the PINNED stream schema
    * by physical name: renamed columns line up, later-dropped columns
    * vanish, later-added columns null-fill.
    *
    * PLAN WIDTH is O(non-append commits), not O(versions) (r12 verdict
    * #6): for an APPEND commit the bag diff against its predecessor IS
    * the added files' rows (manifest(v) = manifest(prev) ⊎ added — the
    * exceptAll cancels everything else), so every pure-append version
    * in the batch is served by ONE shared multi-file scan whose rows
    * get their `_commit_version` from a broadcast file→version map
    * (the manifest's own qualified paths against
    * `_metadata.file_path` — the provenance equality the DV sidecars
    * already rely on). A 50-version catch-up over a streaming-sink log
    * plans ONE scan + ONE broadcast join instead of a 50-way union of
    * 100 exceptAll scans. Non-append versions (and DV-bearing added
    * lines, whose rows need the anti-join funnel) keep the exact
    * per-version diff. */
  private def cdfBatch(versions: Seq[Long]): DataFrame = {
    // the survivor list is resolved ONCE per getBatch and shared by
    // every version's diff — not once per version (O(V²) metadata reads
    // on a catch-up batch)
    val survivors = Export.snapshotVersions(path)
    val (appendVs, diffVs) = cdfPlan(versions, survivors)
    val appendPart: Option[DataFrame] = {
      val fileVer: Seq[(Export.ManifestEntry, Long)] =
        appendVs.flatMap { case (v, added) => added.map(e => (e, v)) }
      if (fileVer.isEmpty) None
      else {
        val scan = scanPhysical(fileVer.map(_._1))
        val fcol = Export.freshName("__cdf_file",
          scan.columns.toSeq ++ Seq(ChangeCol, CommitVersionCol))
        val fv = spark.createDataset(fileVer.map { case (e, v) =>
            (e.path, v) })(
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.scalaLong))
          .toDF(fcol, CommitVersionCol)
        val tagged = scan
          .withColumn(fcol, col("_metadata.file_path"))
          .join(broadcast(fv), Seq(fcol))
          .drop(fcol)
        val dataCols = dataSchema.fields.toSeq.map(f =>
          col(Export.physicalOf(f)).as(f.name))
        Some(tagged.select(dataCols ++ Seq(lit("insert").as(ChangeCol),
          col(CommitVersionCol)): _*))
      }
    }
    val diffParts = diffVs.map { v =>
      val prev = survivors.filter(_ < v.toInt).lastOption
      val d = prev match {
        case Some(p) => Export.snapshotDiff(spark, path, p, v.toInt)
        case None => Export.readSnapshot(spark, path, v.toInt)
          .withColumn(ChangeCol, lit("insert"))
      }
      alignToPinned(d.withColumn(CommitVersionCol, lit(v)))
    }
    val parts = appendPart.toSeq ++ diffParts
    if (parts.isEmpty) emptyFrame(schema)
    else parts.reduce(_.unionByName(_))
  }

  /** The CDF plan grouping: (versions served by the ONE shared
    * added-files scan, versions needing a per-version diff).
    * Package-visible so the spec can assert a catch-up batch's plan is
    * O(non-append commits) wide. The shared scan is sound only when
    * the version diffs against its IMMEDIATE predecessor (or is the
    * log's first survivor — insert-everything): an append whose
    * predecessor was vacuumed diffs against an older survivor, where
    * "pure add" no longer holds (intervening rewrites fold into the
    * gap), so it keeps the exact diff path. */
  private[sources] def cdfGroups(versions: Seq[Long],
      survivors: Seq[Int]): (Seq[Long], Seq[Long]) = {
    val (shared, diff) = cdfPlan(versions, survivors)
    (shared.map(_._1), diff)
  }

  /** [[cdfGroups]] with each shared version's added entries, taken from
    * the one manifest read that classified the version. */
  private def cdfPlan(versions: Seq[Long], survivors: Seq[Int])
      : (Seq[(Long, Seq[Export.ManifestEntry])], Seq[Long]) = {
    val planned = versions.map { v =>
      val m = Export.readManifest(path, v.toInt)
      val added =
        if (m.op.contains("append") &&
            survivors.filter(_ < v.toInt).lastOption.forall(_ == v.toInt - 1))
          Some(Export.addedEntries(path, m)).filter(_.forall(!_.hasDv))
        else None
      v -> added
    }
    (planned.collect { case (v, Some(added)) => (v, added) },
      planned.collect { case (v, None) => v })
  }

  /** Project a CDF part (data columns under ITS version's names + the
    * two tag columns) onto the pinned stream schema by physical column
    * identity. */
  private def alignToPinned(df: DataFrame): DataFrame = {
    val byPhys = df.schema.fields
      .filterNot(f => f.name == ChangeCol || f.name == CommitVersionCol)
      .map(f => Export.physicalOf(f) -> f.name).toMap
    val dataCols = dataSchema.fields.toSeq.map { f =>
      byPhys.get(Export.physicalOf(f)) match {
        case Some(n) => col(n).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(dataCols ++ Seq(col(ChangeCol), col(CommitVersionCol)): _*)
  }

  private def emptyFrame(s: StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)

  private def asStreaming(df: DataFrame): DataFrame =
    GraftLakeSource.internalFrame(spark, df, isStreaming = true)

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftLakeSource[$path${if (cdf) ", cdf" else ""}]"
}
