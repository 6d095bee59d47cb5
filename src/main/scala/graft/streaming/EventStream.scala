package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.operators.Export.Layout

/** Structured-Streaming surface of the engine.
  *
  * The reference is a batch tool with streaming I/O characteristics —
  * incremental chunk reads, bounded buffers, pause/resume, resumable
  * checkpoints (SURVEY §2.7; reference: lightning/mydump/parser.go:216-242,
  * lightning/restore/restore.go:1557-1747, lightning/common/pause.go). The
  * Spark-native continuous-ingest analog is a file-source stream with
  * `Trigger.AvailableNow`: each run drains what exists and checkpoints —
  * the same resume-from-offset semantics as the reference's chunk
  * checkpoints, managed by Structured Streaming's WAL instead of K6.
  *
  * On top of that, the event-analytics layer the reference runs on its
  * target DB becomes native: watermarked tumbling-window aggregation and
  * mapGroupsWithState sessionization.
  */
object EventStream {

  /** State-store width for the drain-style queries here: a streaming
    * aggregation creates `spark.sql.shuffle.partitions` state-store
    * partitions — each with per-micro-batch snapshot/commit files — at
    * query start. The states in this file are sketch- or window-sized
    * (≤ a few thousand keys), so the session's batch-tuned width (32)
    * buys no parallelism and pays 32 × state-file I/O per micro-batch.
    * Queries are wrapped to start with a narrow width and restore the
    * session conf after; results are partition-count-invariant (every
    * gate hash-matches either way — this is purely a state-file-count
    * knob). At production scale with keyed state in the millions, raise
    * it back toward the cluster width. */
  private[graft] def withStreamShuffle[A](spark: SparkSession, n: Int = 8)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n)
    try f finally spark.conf.set(key, prev)
  }

  private def rmRec(f: File): Unit = graft.util.Dirs.deleteRec(f)

  /** Stage `parts` as one file each under `dir` (f00.parquet, f01…,
    * with strictly increasing modification times, so the file stream
    * source drains them oldest-first = in part order). Idempotent AND
    * content-addressed: the `_STAGED` marker holds an md5 of the parts'
    * schema + rows, so editing a fixture definition restages
    * automatically instead of silently replaying stale data against a
    * fresh oracle (the old name-keyed marker required manual dir-name
    * bumps — dwb_stage_v2 / ssj_stage_v3 are its scars). Parts are
    * gate-sized (tens of rows), so the fingerprint collect is
    * driver-trivial; rows are sorted for the digest so partition-order
    * variance can't force a spurious restage. ONE copy of the staging
    * protocol — every deterministic drain in this file shares it, so a
    * change (mod-time spacing, marker, naming) cannot silently diverge
    * between fixtures. */
  private def stageTimeOrdered(dir: File,
      parts: Seq[DataFrame]): Unit = {
    val fingerprint = {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach { df =>
        md.update(df.schema.json.getBytes("UTF-8"))
        df.toJSON.collect().sorted
          .foreach(j => md.update((j + "\n").getBytes("UTF-8")))
        md.update(Array[Byte](0)) // part boundary
      }
      md.digest().map("%02x".format(_)).mkString
    }
    val marker = new File(dir, "_STAGED")
    if (marker.exists() &&
        java.nio.file.Files.readString(marker.toPath).trim == fingerprint)
      return
    rmRec(dir)
    dir.mkdirs()
    parts.zipWithIndex.foreach { case (df, k) =>
      val tmp = new File(dir, s"_tmp_$k")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val pf = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new File(dir, f"f$k%02d.parquet")
      java.nio.file.Files.move(pf.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      rmRec(tmp)
      dest.setLastModified(1600000000000L + k * 60000L)
    }
    java.nio.file.Files.writeString(marker.toPath, fingerprint)
  }

  /** Drain `srcDir` parquet as a stream (AvailableNow) through a windowed
    * count/sum into an in-memory table; returns the settled result.
    * Real `readStream`→`writeStream` with a checkpoint dir — the
    * continuous-ingest shape; at scale the memory sink becomes a
    * parquet/Delta sink with the same query. */
  def windowedCounts(spark: SparkSession, srcParquet: String,
      checkpointDir: String, windowMinutes: Int = 60): DataFrame = {
    val schema = spark.read.parquet(srcParquet).schema
    val queryName = s"graft_win_${math.abs(srcParquet.hashCode)}"
    // FileStreamSource monitors a *directory*; a single-file dataset is
    // hardlinked into a scratch dir (no data copy) — at scale the source
    // is a directory of arriving files anyway.
    val srcDir = {
      val f = new File(srcParquet)
      if (f.isDirectory) srcParquet
      else {
        val d = new File(new File(checkpointDir).getParentFile,
          s"src_${math.abs(srcParquet.hashCode)}")
        d.mkdirs()
        val dst = new File(d, f.getName)
        if (!dst.exists()) {
          try java.nio.file.Files.createLink(dst.toPath, f.toPath)
          catch { case _: Exception =>
            java.nio.file.Files.copy(f.toPath, dst.toPath)
          }
        }
        d.getAbsolutePath
      }
    }
    val events = spark.readStream.schema(schema).parquet(srcDir)
      .withColumn("ts_ts",
        timestamp_micros(graft.util.Tables.tsMicros(schema("ts").dataType)))
    val agg = events
      .withWatermark("ts_ts", "1 minute")
      .groupBy(window(col("ts_ts"), s"$windowMinutes minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,8)")).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
    withStreamShuffle(spark) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming exact dedup: watermarked `dropDuplicates` on the event key
    * — the streaming half of the dedup family. Duplicates are PLANTED
    * (every event_id % 10 == 0 row appears twice in the source dir) and
    * must collapse back to the original set, which the batch oracle
    * reproduces by aggregating the raw table. State is bounded by the
    * watermark (at scale: RocksDB state store + eviction); AvailableNow +
    * Append drain the whole directory deterministically. */
  def dedupedCounts(spark: SparkSession, srcParquet: String,
      checkpointDir: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val queryName = s"graft_dedup_${math.abs(srcParquet.hashCode)}"
    val dupDir = new File(new File(checkpointDir).getParentFile,
      s"dup_${math.abs(srcParquet.hashCode)}")
    // fixture cached across invocations (like the bench dump): the query
    // should time the streaming dedup, not a parquet rewrite of the source
    if (!new File(dupDir, "_SUCCESS").exists()) {
      base.union(base.filter(pmod(col("event_id"), lit(10)) === 0))
        .coalesce(4).write.mode("overwrite").parquet(dupDir.getAbsolutePath)
    }
    val deduped = spark.readStream.schema(base.schema)
      .parquet(dupDir.getAbsolutePath)
      .withColumn("ts_ts",
        timestamp_micros(graft.util.Tables.tsMicros(base.schema("ts").dataType)))
      .withWatermark("ts_ts", "1 minute")
      .dropDuplicates("event_id")
    withStreamShuffle(spark) {
      val q = deduped.select("event_id", "event_type", "value").writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,8)")).cast("double").as("total_value"))
  }

  /** Native session-window streaming aggregation — the OTHER sessionize:
    * where [[sessionizeSorted]] folds a sorted iterator with explicit
    * state, this is Spark's built-in `session_window` (merging-interval
    * state) driven through a real multi-micro-batch drain in Complete
    * mode. Semantics note vs the gaps-and-islands oracle: a session
    * window is the half-open interval [ts, ts+gap), so an event at
    * EXACTLY gap distance starts a NEW session (`>=` in the oracle, vs
    * the `>` split of the sorted-fold sessionize) — at µs resolution the
    * fixtures have no exact-boundary gaps, and the gate would loudly
    * hash-mismatch if one appeared. */
  def sessionWindowCounts(spark: SparkSession, srcParquet: String,
      checkpointDir: String, gapMinutes: Int): DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val queryName = s"graft_sesswin_${math.abs(srcParquet.hashCode)}"
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"sesswinsrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
      .withColumn("ts_ts",
        timestamp_micros(graft.util.Tables.tsMicros(base.schema("ts").dataType)))
    // NO watermark: the 4-file drain is not time-ordered, so any finite
    // watermark would discard "late" rows from later micro-batches
    // (observed: 4889 of 9549 sessions survive a 1-minute watermark).
    // Complete mode keeps all session state; at production scale with
    // time-ordered arrival you would bound state with update mode + a
    // watermark sized to the real disorder.
    val agg = stream
      .groupBy(session_window(col("ts_ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
    withStreamShuffle(spark) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming MATERIALIZED VIEW with time travel — the capstone
    * composition: a `foreachBatch` sink folds each micro-batch's PARTIAL
    * aggregates into the running per-key table via the associative merge
    * law ([[graft.operators.Merge.mergeAggregates]] — count by SUM,
    * last-seen by MAX), and commits every refreshed state as a
    * FULL-REPLACE snapshot version
    * ([[graft.operators.Export.replaceSnapshot]]). The settled latest
    * version is EXACTLY the batch aggregate (merge-law identity), and
    * every intermediate version stays time-travel-readable — the
    * incremental-ETL pattern (streaming CDC apply → versioned serving
    * table) end to end, with no table-format dependency. State per
    * commit is one row per key; history cost is one epoch dir per
    * micro-batch, pruned by retention in a real deployment. */
  def streamingMaterializedAgg(spark: SparkSession, srcParquet: String,
      checkpointDir: String, tableDir: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"mvsrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.select("user_id", "ts").repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    drainMatview(spark, splitDir.getAbsolutePath,
      base.select("user_id", "ts").schema, checkpointDir, tableDir)
    graft.operators.Export.readSnapshot(spark, tableDir,
      graft.operators.Export.latestSnapshotVersion(tableDir))
  }

  /** One AvailableNow drain of `srcDir` into the versioned serving table.
    * EXACTLY-ONCE under kill/replay: each snapshot commit carries its
    * micro-batch id as manifest metadata (`#batch=N`), and the sink skips
    * any batch id at or below the latest committed one. `foreachBatch`
    * redelivers a batch when the engine committed the table but died
    * before committing the checkpoint offset — without the guard that
    * replay would double-merge the delta (the same torn-commit window the
    * reference closes by journaling chunk offsets in its checkpoint DB;
    * Delta closes it with txnAppId/txnVersion). The guard's read is one
    * manifest-header fetch per batch — planning-side, no data I/O. */
  private def drainMatview(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType, checkpointDir: String,
      tableDir: String): Unit = {
    val tsType = schema("ts").dataType
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    def partial(df: DataFrame): DataFrame = df
      .select(col("user_id"),
        graft.util.Tables.tsMicros(tsType).as("ts_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("last_ts_us"))
    withStreamShuffle(spark) {
      val q = stream.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val v = graft.operators.Export.latestSnapshotVersion(tableDir)
          // scan back for the newest #batch= header — an interleaved
          // maintenance commit (compaction carries only compacted_from)
          // must not reset the guard and let a replayed batch double-merge
          val applied = graft.operators.Export.lastAppliedBatch(tableDir)
          if (batchId > applied) {
            val delta = partial(batch)
            val merged =
              if (v == 0) delta
              else graft.operators.Merge.mergeAggregates(
                Seq(graft.operators.Export.readSnapshot(spark, tableDir, v),
                  delta),
                Seq("user_id"), sums = Seq("n_events"),
                maxs = Seq("last_ts_us"))
            graft.operators.Export.replaceSnapshot(spark, merged, tableDir,
              meta = Map("batch" -> batchId.toString))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
  }

  /** Watermarked append-mode windowed aggregation — the late-data
    * discipline the other drains deliberately avoid (their 4-way file
    * split is not time-ordered, so any finite watermark would discard
    * valid rows; see [[sessionWindowCounts]]). Here the source is staged
    * time-ordered ON PURPOSE — four synthetic files of monotone
    * minute-stamped rows, drained oldest-first — with ONE planted late
    * row (minute 0 arriving in the last file). The mechanics under test:
    *  - the watermark advances between micro-batches (max event time
    *    seen − 120 min), so the planted row arrives with its window
    *    long since finalized and MUST be dropped;
    *  - Append mode emits a window exactly once, when the watermark
    *    passes its end — settled output = every window whose end ≤
    *    final watermark; later windows are withheld, not partial.
    * Deterministic end to end (synthetic input, controlled file order),
    * so DuckDB replays drop + emission predicates row-for-row — the
    * state-bounding contract a production stream runs under, certified
    * cross-engine. */
  def streamingWatermarkedCounts(spark: SparkSession, stageDir: String,
      checkpointDir: String): DataFrame = {
    stageTimeOrdered(new File(stageDir), (0 until 4).map(k =>
      spark.range(k * 2000L, (k + 1) * 2000L)
        .selectExpr("id AS i",
          "(CASE WHEN id = 6000 THEN CAST(0 AS BIGINT) ELSE id END)" +
            " * 60000000 AS ts_us",
          "id % 40 AS user_id")))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("i", "long").add("ts_us", "long").add("user_id", "long")
    val queryName = s"graft_wm_${math.abs(stageDir.hashCode)}"
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts_ts", "120 minutes")
    val agg = stream
      .groupBy(window(col("ts_ts"), "60 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(expr("unix_micros(window.start) div 60000000")
        .cast("long").as("win_start_min"), col("n_events"))
    withStreamShuffle(spark, 4) {
      val q = agg.writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  final case class WmEv(user_id: Long, ts_min: Long, ts_ts: java.sql.Timestamp)
  final case class TimeoutSessState(start: Long, last: Long, n: Long)
  final case class TimeoutSessOut(user_id: Long, start_min: Long,
    end_min: Long, n_events: Long)

  /** Incremental streaming sessionization via `flatMapGroupsWithState` +
    * EVENT-TIME TIMEOUT — the stateful-API primitive the other
    * sessionizers sidestep (the sorted fold is batch; `session_window`
    * drains in Complete mode, holding all state forever). Here a session
    * emits EXACTLY ONCE, incrementally, through one of two closure
    * paths, and the fixture makes each observable:
    *  - successor closure: a user's next event arrives > gap later —
    *    the open session emits in that batch (users 0-9's second
    *    session closes this way when their third-session event lands);
    *  - TIMEOUT closure: no successor ever comes — the watermark passes
    *    last_event + gap and the engine calls the function with
    *    hasTimedOut (users 10-19 have no third session, so their second
    *    can ONLY emit via timeout — its presence proves the path fired);
    *  - and sessions whose timeout the final watermark has NOT passed
    *    are withheld, not flushed partial (users 0-9's third session).
    * State per user is one (start, last, n) triple — bounded, evicted on
    * emission: the production-shape sessionizer for unbounded streams.
    * Deterministic (synthetic staged input), replayed by DuckDB. */
  def sessionizeTimeout(spark: SparkSession, stageDir: String,
      checkpointDir: String): DataFrame = {
    import spark.implicits._
    // user u: session 1 at minutes u+{0,5,10}; session 2 at u+{100,105};
    // users 0-9 only: session 3 at u+200. Gap 30, watermark delay 10.
    val all = spark.range(0L, 20L).selectExpr("id AS user_id")
      .selectExpr("user_id", "explode(array(0, 5, 10, 100, 105)) AS off")
      .selectExpr("user_id", "CAST(user_id + off AS BIGINT) AS ts_min")
      .unionAll(spark.range(0L, 10L)
        .selectExpr("id AS user_id", "CAST(id + 200 AS BIGINT) AS ts_min"))
    val cuts = Seq((0L, 15L), (15L, 60L), (60L, 150L), (150L, 100000L))
    stageTimeOrdered(new File(stageDir), cuts.map { case (lo, hi) =>
      all.filter(col("ts_min") >= lo && col("ts_min") < hi)
    })
    val gapMin = 30L
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("ts_min", "long")
    val queryName = s"graft_sto_${math.abs(stageDir.hashCode)}"
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
      .withColumn("ts_ts",
        timestamp_micros((col("ts_min") + 1440L) * 60000000L))
      .withWatermark("ts_ts", "10 minutes")
      .select(col("user_id"), col("ts_min"), col("ts_ts")).as[WmEv]
    def fn(user: Long, events: Iterator[WmEv],
        state: GroupState[TimeoutSessState]): Iterator[TimeoutSessOut] = {
      def emit(s: TimeoutSessState) =
        TimeoutSessOut(user, s.start, s.last, s.n)
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(emit(s))
      } else {
        val evs = events.toSeq.sortBy(_.ts_min)
        var out = List.empty[TimeoutSessOut]
        var st = state.getOption
        evs.foreach { e =>
          st = st match {
            case Some(s) if e.ts_min - s.last > gapMin =>
              out ::= emit(s)
              Some(TimeoutSessState(e.ts_min, e.ts_min, 1L))
            case Some(s) =>
              Some(TimeoutSessState(s.start, e.ts_min, s.n + 1))
            case None =>
              Some(TimeoutSessState(e.ts_min, e.ts_min, 1L))
          }
        }
        st.foreach { s =>
          state.update(s)
          // event-time timeout: fire once the WATERMARK passes
          // last + gap (epoch millis on the shifted timeline)
          state.setTimeoutTimestamp((s.last + gapMin + 1440L) * 60000L)
        }
        out.reverseIterator
      }
    }
    withStreamShuffle(spark, 4) {
      val q = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout())(fn)
        .toDF()
        .writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Bounded-state streaming dedup (`dropDuplicatesWithinWatermark`) —
    * the honest trade `q_stream_dedup`'s plain dropDuplicates hides: at
    * 100 TB you cannot keep every key ever seen, so dedup state is
    * evicted once the watermark passes a key's event time + delay, and a
    * duplicate arriving AFTER that expiry legitimately RE-EMITS. The
    * staged drain pins both sides of the contract: an in-batch duplicate
    * and a still-within-horizon replay are dropped; a replay of a key
    * whose state expired two batches ago re-emits. DuckDB replays the
    * exact emission set from the same `range()` construction. */
  def streamingDedupBounded(spark: SparkSession, stageDir: String,
      checkpointDir: String): DataFrame = {
    val parts0 = Seq(
        // f0: ids 1..100 at minute = id, PLUS an exact in-batch dup of 7
        spark.range(1L, 101L)
          .selectExpr("id AS event_id", "(id + 1440) * 60000000 AS ts_us")
          .unionAll(spark.range(7L, 8L)
            .selectExpr("id AS event_id", "(id + 1440) * 60000000 AS ts_us")),
        // f1: ids 5000..5099 — advances the watermark far past f0's
        // state horizon (id 50 expires once wm > minute 50 + 60)
        spark.range(5000L, 5100L)
          .selectExpr("id AS event_id", "(id + 1440) * 60000000 AS ts_us"),
        // f2: filler batch — state eviction runs at batch END with the
        // PRE-update watermark (same one-batch lag the stream-stream
        // join gate observed), so a full high-watermark batch must
        // close before id 50's state is provably gone
        spark.range(6000L, 6010L)
          .selectExpr("id AS event_id", "(id + 1440) * 60000000 AS ts_us"),
        // f3: replay id 50 (state EVICTED two batches ago -> re-emits,
        // the documented trade) and replay id 6005 (state still held ->
        // dropped)
        spark.range(50L, 51L)
          .selectExpr("id AS event_id",
            "CAST(6100 + 1440 AS BIGINT) * 60000000 AS ts_us")
          .unionAll(spark.range(6005L, 6006L)
            .selectExpr("id AS event_id",
              "CAST(6101 + 1440 AS BIGINT) * 60000000 AS ts_us")))
    stageTimeOrdered(new File(stageDir), parts0)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("ts_us", "long")
    val queryName = s"graft_dwb_${math.abs(stageDir.hashCode)}"
    val deduped = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts_ts", "60 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"),
        expr("unix_micros(ts_ts) div 60000000 - 1440")
          .cast("long").as("minute"))
    withStreamShuffle(spark, 4) {
      val q = deduped.writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** LEFT OUTER stream-stream join — the subtle half of streaming joins:
    * matched rows emit as they join, but an UNMATCHED left row can only
    * emit (null-padded) once the watermark proves no future right row
    * can match it — and left rows still inside that horizon at stream
    * end are WITHHELD, not emitted partial. Same staged sources as the
    * inner-join gate minus the planted late row; the gate pins all three
    * populations: every third ad matched with its click, older unclicked
    * ads null-emitted after eviction, the newest unclicked ads absent.
    * The emission horizon (which ads count as "older") is read off the
    * observed deterministic boundary and replayed by DuckDB as an
    * explicit predicate — pinned, not assumed. */
  def streamingStreamJoinOuter(spark: SparkSession, stageDir: String,
      checkpointDir: String): DataFrame = {
    val root = new File(stageDir)
    def stageFiles(sub: String, parts: Seq[DataFrame]): File = {
      val dir = new File(root, sub)
      stageTimeOrdered(dir, parts)
      dir
    }
    val impDir = stageFiles("imp", Seq(
      spark.range(0L, 2000L)
        .selectExpr("id AS i", "(id + 1440) * 60000000 AS ts_us"),
      spark.range(2000L, 4000L)
        .selectExpr("id AS i", "(id + 1440) * 60000000 AS ts_us")))
    val clkDir = stageFiles("clk", Seq(
      spark.range(0L, 1500L).filter("id % 3 = 0")
        .selectExpr("id AS i", "(id + 1445) * 60000000 AS ts_us"),
      spark.range(1500L, 4000L).filter("id % 3 = 0")
        .selectExpr("id AS i", "(id + 1445) * 60000000 AS ts_us")))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("i", "long").add("ts_us", "long")
    def src(dir: File, tsName: String, keyName: String) = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
      .select(col("i").as(keyName),
        timestamp_micros(col("ts_us")).as(tsName))
      .withWatermark(tsName, "60 minutes")
    val imp = src(impDir, "imp_ts", "imp_i")
    val clk = src(clkDir, "clk_ts", "clk_i")
    val queryName = s"graft_ssjo_${math.abs(stageDir.hashCode)}"
    val joined = imp.join(clk,
        expr("imp_i = clk_i AND clk_ts >= imp_ts AND " +
          "clk_ts <= imp_ts + INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("imp_i").as("i"),
        expr("unix_micros(imp_ts) div 60000000 - 1440")
          .cast("long").as("imp_min"),
        expr("unix_micros(clk_ts) div 60000000 - 1440")
          .cast("long").as("click_min"))
    withStreamShuffle(spark, 4) {
      val q = joined.writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** UPDATE output mode — the third of Spark's three output modes
    * (Complete drives the sketch censuses, Append the watermark/join
    * gates): each micro-batch emits ONLY the keys whose aggregate
    * changed. The staged source makes that observable: four files of
    * user-keyed rows where users 20-39 appear in the first three files
    * only — so they must emit exactly 3 update rows to users 0-19's 4,
    * and every key's LAST update must equal the full batch aggregate.
    * The settled memory sink holds one row per (key, changed-batch);
    * the gate folds it to (n_updates, n_final) per key and DuckDB
    * replays both from the same `range()` input — emission discipline
    * and final correctness certified together. (No watermark here:
    * unbounded keyed state is Update mode's trade; bounding it is the
    * watermark gate's subject.) */
  def streamingUpdateCounts(spark: SparkSession, stageDir: String,
      checkpointDir: String): DataFrame = {
    stageTimeOrdered(new File(stageDir), (0 until 4).map(k =>
      spark.range(k * 2000L, (k + 1) * 2000L)
        .selectExpr("id AS i",
          "CASE WHEN id < 6000 THEN id % 40 ELSE id % 20 END AS user_id")))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("i", "long").add("user_id", "long")
    val queryName = s"graft_upd_${math.abs(stageDir.hashCode)}"
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir)
    val agg = stream.groupBy("user_id").agg(count(lit(1)).as("n"))
    withStreamShuffle(spark, 4) {
      val q = agg.writeStream
        .outputMode(OutputMode.Update())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_updates"), max(col("n")).as("n_final"))
  }

  /** STREAM-STREAM inner join with watermark-bounded state — the
    * flagship Structured Streaming capability the rest of this file
    * composes around but never exercised directly: two live sources
    * (impressions, clicks) joined on key + a time-range condition, each
    * side watermarked so the engine can evict impression state once no
    * future click can match it. Both sources are staged time-ordered
    * (two files each, drained oldest-first), with ONE planted late click
    * (minute 15 arriving in the second click file, when the global
    * watermark — the MIN across sources — is already past minute 1400):
    * that click MUST be discarded as late input, so its would-be match
    * never appears. Deterministic end to end; DuckDB replays the join
    * predicate and the late-drop from the same synthetic input. */
  def streamingStreamJoin(spark: SparkSession, stageDir: String,
      checkpointDir: String): DataFrame = {
    val root = new File(stageDir)
    def stageFiles(sub: String, parts: Seq[DataFrame]): File = {
      val dir = new File(root, sub)
      stageTimeOrdered(dir, parts)
      dir
    }
    // impressions: ad i shown at minute BASE + i (i < 4000), two
    // time-ordered files. BASE = 1440 keeps minute 0 off epoch 0 — the
    // initial watermark is epoch 0, and a row sitting exactly ON the
    // watermark is boundary-dropped by the join's late-input filter
    // (observed: the i = 0 match vanished with an unshifted timeline).
    val impDir = stageFiles("imp", Seq(
      spark.range(0L, 2000L)
        .selectExpr("id AS i", "(id + 1440) * 60000000 AS ts_us"),
      spark.range(2000L, 4000L)
        .selectExpr("id AS i", "(id + 1440) * 60000000 AS ts_us")))
    // clicks: every third ad clicked at minute i+5; a THIRD file carries
    // only the PLANTED LATE click for ad 10 (minute 15). It must arrive
    // two batches after the watermark passed it: state eviction runs at
    // the END of a batch (a same-batch probe still finds not-yet-evicted
    // state), so the ad-10 impression is provably gone only once a full
    // high-watermark batch has closed before the late row arrives.
    val clkDir = stageFiles("clk", Seq(
      spark.range(0L, 1500L).filter("id % 3 = 0")
        .selectExpr("id AS i", "(id + 1445) * 60000000 AS ts_us"),
      spark.range(1500L, 4000L).filter("id % 3 = 0")
        .selectExpr("id AS i", "(id + 1445) * 60000000 AS ts_us"),
      spark.range(10L, 11L)
        .selectExpr("id AS i", "CAST(15 + 1440 AS BIGINT) * 60000000 AS ts_us")))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("i", "long").add("ts_us", "long")
    def src(dir: File, tsName: String, keyName: String) = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
      .select(col("i").as(keyName),
        timestamp_micros(col("ts_us")).as(tsName))
      .withWatermark(tsName, "60 minutes")
    val imp = src(impDir, "imp_ts", "imp_i")
    val clk = src(clkDir, "clk_ts", "clk_i")
    val queryName = s"graft_ssj_${math.abs(stageDir.hashCode)}"
    val joined = imp.join(clk,
        expr("imp_i = clk_i AND clk_ts >= imp_ts AND " +
          "clk_ts <= imp_ts + INTERVAL 30 MINUTES"))
      .select(col("imp_i").as("i"),
        expr("unix_micros(imp_ts) div 60000000 - 1440")
          .cast("long").as("imp_min"),
        expr("unix_micros(clk_ts) div 60000000 - 1440")
          .cast("long").as("click_min"))
    withStreamShuffle(spark, 4) {
      val q = joined.writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Continuous APPEND ingestion into the snapshot log — the raw-table
    * counterpart of the materialized view: each micro-batch's rows are
    * committed as a fresh epoch via
    * [[graft.operators.Export.appendSnapshot]] (immutable files, one
    * atomic manifest rename), so the landing table is versioned and
    * time-travel-readable WHILE it ingests, and downstream consumers
    * read manifest-exact snapshots instead of racing the writer's
    * directory. Exactly-once via the same `#batch=` manifest guard as
    * the matview sink. The settled latest version holds exactly the
    * source's rows (the gate hash-matches the full table against
    * DuckDB); at scale this is the continuous corpus-ingest front door:
    * stream in, version per commit, compact + vacuum behind. */
  def streamingLakeIngest(spark: SparkSession, srcParquet: String,
      checkpointDir: String, tableDir: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
      .select("user_id", "ts", "event_type", "value")
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"lakesrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val tsType = base.schema("ts").dataType
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
    withStreamShuffle(spark) {
      val q = stream.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // scan-back guard: see drainMatview
          val applied = graft.operators.Export.lastAppliedBatch(tableDir)
          if (batchId > applied) {
            graft.operators.Export.appendSnapshot(spark,
              batch.select(col("user_id"),
                graft.util.Tables.tsMicros(tsType).as("ts_us"),
                col("event_type"), col("value")),
              tableDir, meta = Map("batch" -> batchId.toString))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
    graft.operators.Export.readSnapshot(spark, tableDir,
      graft.operators.Export.latestSnapshotVersion(tableDir))
  }

  /** [[streamingLakeIngest]] into a hive-style PARTITIONED snapshot
    * table (partition column: `event_type`) — the production composition
    * for a streamed corpus table: each micro-batch commits one
    * partition-laid-out epoch under the same exactly-once `#batch=`
    * guard, every version time-travels, and a partition-filtered read
    * plans only matching files FROM THE MANIFEST while the stream is
    * still appending. Returns the partition-pruned read of the settled
    * table for `event_type = readType` — so the gate certifies ingest
    * AND manifest elimination in one pass. */
  def streamingLakeIngestPartitioned(spark: SparkSession,
      srcParquet: String, checkpointDir: String, tableDir: String,
      readType: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
      .select("user_id", "ts", "event_type", "value")
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"lakepsrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val tsType = base.schema("ts").dataType
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
    withStreamShuffle(spark) {
      val q = stream.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // scan-back guard: see drainMatview
          val applied = graft.operators.Export.lastAppliedBatch(tableDir)
          if (batchId > applied) {
            graft.operators.Export.appendSnapshot(spark,
              batch.select(col("user_id"),
                graft.util.Tables.tsMicros(tsType).as("ts_us"),
                col("event_type"), col("value")),
              tableDir,
              Layout.Partitioned(Seq("event_type"), nFiles = 1),
              meta = Map("batch" -> batchId.toString))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
    graft.operators.Export.readSnapshot(spark, tableDir,
        graft.operators.Export.latestSnapshotVersion(tableDir))
      .filter(col("event_type").cast("string") === readType)
  }

  /** Streaming APPLY CHANGES — the CDC-consumer sink every lakehouse
    * ships (Delta's apply-changes-into shape): each micro-batch of keyed
    * change records is merged into a PARTITIONED snapshot table with
    * ORDER-RESOLVED conflicts ([[graft.operators.Export.mergeSnapshotPartitionedLatest]]
    * — per key the max-by-(ts_us, value) row survives). Because that
    * resolution is associative and commutative, the settled table equals
    * the GLOBAL per-key resolution no matter how the feed was batched or
    * ordered — the law that makes an out-of-order CDC feed safe to apply
    * incrementally. Each batch pre-reduces itself (in-batch LWW) before
    * the merge, runs under the exactly-once `#batch=` guard, and
    * rewrites only the partitions it touches. Returns the settled
    * current-state table (one row per (event_type, user_id)). */
  def streamingCdcApply(spark: SparkSession, srcParquet: String,
      checkpointDir: String, tableDir: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
      .select("user_id", "ts", "event_type", "value")
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"cdcsrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    drainCdcApply(spark, splitDir.getAbsolutePath, base.schema,
      checkpointDir, tableDir)
    graft.operators.Export.readSnapshot(spark, tableDir,
      graft.operators.Export.latestSnapshotVersion(tableDir))
  }

  private def drainCdcApply(spark: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String, tableDir: String): Unit = {
    val tsType = schema("ts").dataType
    val keys = Seq("event_type", "user_id")
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    withStreamShuffle(spark) {
      val q = stream.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // scan-back guard: see drainMatview
          val applied = graft.operators.Export.lastAppliedBatch(tableDir)
          if (batchId > applied) {
            val rows = batch.select(col("event_type"), col("user_id"),
              graft.util.Tables.tsMicros(tsType).as("ts_us"), col("value"))
            // in-batch LWW pre-reduce: the merge's update side must be
            // key-unique; same total order as the merge resolution, so
            // reduce-then-merge == merge-all-rows
            val reduced = rows.groupBy("event_type", "user_id")
              .agg(max(struct(col("ts_us"), col("value"))).as("_m"))
              .select(col("event_type"), col("user_id"),
                col("_m.ts_us").as("ts_us"), col("_m.value").as("value"))
            if (graft.operators.Export.latestSnapshotVersion(tableDir) == 0)
              graft.operators.Export.appendSnapshot(spark,
                reduced, tableDir,
                Layout.Partitioned(Seq("event_type"), nFiles = 1),
                meta = Map("batch" -> batchId.toString))
            else
              graft.operators.Export.mergeSnapshotPartitionedLatest(spark,
                tableDir, reduced, keyCols = keys,
                partitionCols = Seq("event_type"),
                orderCols = Seq("ts_us"), nFiles = 1,
                meta = Map("batch" -> batchId.toString))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
  }

  /** [[streamingCdcApply]] with DELETE records — the full change-record
    * vocabulary of a CDC feed (Delta's `APPLY CHANGES ... WHEN MATCHED
    * DELETE` shape): rows with `event_type = 'error'` act as tombstones
    * for their key. The tombstone is a REGULAR column riding the same
    * order-resolved merge, and tombstone rows are RETAINED in the table
    * rather than dropped at apply time — dropping one would erase its
    * sequence position, and an out-of-order earlier update arriving
    * later would wrongly resurrect the key (the exact reason Delta's
    * apply-changes keeps deleted rows until retention). The VISIBLE
    * state is the tombstone-filtered read; associativity of the
    * resolution is untouched because a delete is just a row that wins
    * by order. Key = user_id, hive-partitioned by `shard = user_id % 8`
    * (a key-derived partition, so `partitionCols ⊆ keyCols` holds).
    * Returns the settled VISIBLE state. */
  def streamingCdcApplyDeletes(spark: SparkSession, srcParquet: String,
      checkpointDir: String, tableDir: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
      .select("user_id", "ts", "event_type", "value")
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"cdcdsrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val tsType = base.schema("ts").dataType
    val keys = Seq("user_id", "shard")
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
    withStreamShuffle(spark) {
      val q = stream.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val applied = graft.operators.Export.lastAppliedBatch(tableDir)
          if (batchId > applied) {
            val rows = batch.select(col("user_id"),
              pmod(col("user_id"), lit(8L)).cast("string").as("shard"),
              graft.util.Tables.tsMicros(tsType).as("ts_us"),
              col("value"),
              (col("event_type") === "error").as("is_del"))
            // in-batch pre-reduce under the SAME total order the merge
            // resolves by: (ts_us, then payload in column order)
            val reduced = rows.groupBy("user_id", "shard")
              .agg(max(struct(col("ts_us"), col("value"),
                col("is_del"))).as("_m"))
              .select(col("user_id"), col("shard"),
                col("_m.ts_us").as("ts_us"), col("_m.value").as("value"),
                col("_m.is_del").as("is_del"))
            if (graft.operators.Export.latestSnapshotVersion(tableDir) == 0)
              graft.operators.Export.appendSnapshot(spark,
                reduced, tableDir,
                Layout.Partitioned(Seq("shard"), nFiles = 1),
                meta = Map("batch" -> batchId.toString))
            else
              graft.operators.Export.mergeSnapshotPartitionedLatest(spark,
                tableDir, reduced, keyCols = keys,
                partitionCols = Seq("shard"),
                orderCols = Seq("ts_us"), nFiles = 1,
                meta = Map("batch" -> batchId.toString))
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
    // visible state: tombstone-filtered; the tombstones stay in the
    // table (retention drops them with their versions, never mid-feed)
    graft.operators.Export.readSnapshot(spark, tableDir,
        graft.operators.Export.latestSnapshotVersion(tableDir))
      .filter(!col("is_del"))
      .drop("is_del", "shard")
  }

  /** [[streamingCdcApply]] KILLED between micro-batches and resumed —
    * the checkpoint-chunks discipline applied to the MERGE sink: run 1
    * sees half the change files, drains, and stops (AvailableNow = a
    * clean kill point); the rest appear and a COLD restart from the same
    * Spark checkpoint merges only the unseen batches (ids continue; the
    * `#batch=` header on every merge commit blocks any redelivery). The
    * settled table must STILL equal the global per-key resolution — the
    * gate hash-matches it against the same one-window oracle as the
    * uninterrupted run, which only holds because the order-resolved
    * merge is associative across the kill. */
  def streamingCdcApplyResumed(spark: SparkSession, srcParquet: String,
      checkpointDir: String, tableDir: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
      .select("user_id", "ts", "event_type", "value")
    val parent = new File(checkpointDir).getParentFile
    val stageDir = new File(parent,
      s"cdcrstage_${math.abs(srcParquet.hashCode)}")
    if (!new File(stageDir, "_SUCCESS").exists()) {
      base.repartition(4)
        .write.mode("overwrite").parquet(stageDir.getAbsolutePath)
    }
    val parts = stageDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val liveDir = new File(parent,
      s"cdcrlive_${math.abs(srcParquet.hashCode)}_${math.abs(checkpointDir.hashCode)}")
    graft.util.Dirs.deleteRec(liveDir)
    liveDir.mkdirs()
    def reveal(fs: Seq[File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new File(liveDir, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    reveal(parts.take(parts.length / 2).toSeq)
    drainCdcApply(spark, liveDir.getAbsolutePath, base.schema,
      checkpointDir, tableDir)
    reveal(parts.drop(parts.length / 2).toSeq)
    drainCdcApply(spark, liveDir.getAbsolutePath, base.schema,
      checkpointDir, tableDir)
    graft.operators.Export.readSnapshot(spark, tableDir,
      graft.operators.Export.latestSnapshotVersion(tableDir))
  }

  /** The staged-source dir [[streamingMaterializedAggResumed]] reveals
    * files into — exposed so callers (gates, specs) that must wipe a
    * stale dir share ONE naming source of truth instead of re-deriving
    * the hash formula by string duplication. */
  def matviewLiveDir(srcParquet: String, checkpointDir: String): File =
    new File(new File(checkpointDir).getParentFile,
      s"mvlive_${math.abs(srcParquet.hashCode)}_${math.abs(checkpointDir.hashCode)}")

  /** [[streamingMaterializedAgg]] KILLED between micro-batches and
    * resumed — the reference's `checkpoint_chunks` discipline (kill after
    * every chunk, restart, converge) applied to the streaming sink. The
    * source is staged so only half the files exist for run 1; the query
    * drains them and STOPS (AvailableNow = a clean kill point: offsets
    * committed, process gone). The rest of the files then appear and a
    * COLD restart from the same Spark checkpoint drains only the unseen
    * files — no reprocessing, batch ids continue — and the settled table
    * must equal the uninterrupted run's (the gate hash-matches it against
    * the one-shot batch oracle), with every intermediate version still
    * time-travel-readable. */
  def streamingMaterializedAggResumed(spark: SparkSession,
      srcParquet: String, checkpointDir: String, tableDir: String)
      : DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val schema = base.select("user_id", "ts").schema
    val parent = new File(checkpointDir).getParentFile
    val stageDir = new File(parent,
      s"mvstage_${math.abs(srcParquet.hashCode)}")
    if (!new File(stageDir, "_SUCCESS").exists()) {
      base.select("user_id", "ts").repartition(4)
        .write.mode("overwrite").parquet(stageDir.getAbsolutePath)
    }
    val parts = stageDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val liveDir = matviewLiveDir(srcParquet, checkpointDir)
    liveDir.mkdirs()
    def reveal(fs: Seq[File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new File(liveDir, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // run 1: half the source exists; drain and stop (the "kill")
    reveal(parts.take(parts.length / 2).toSeq)
    drainMatview(spark, liveDir.getAbsolutePath, schema, checkpointDir,
      tableDir)
    // run 2: the rest appears; cold restart from the same checkpoint
    reveal(parts.drop(parts.length / 2).toSeq)
    drainMatview(spark, liveDir.getAbsolutePath, schema, checkpointDir,
      tableDir)
    graft.operators.Export.readSnapshot(spark, tableDir,
      graft.operators.Export.latestSnapshotVersion(tableDir))
  }

  /** Streaming HLL census: the distinct-count sketch maintained AS
    * STREAMING STATE. The source is drained as four single-file
    * micro-batches (`maxFilesPerTrigger=1` over a 4-file scratch copy),
    * so the unwatermarked `groupBy(group, bucket).max(rho)` aggregation
    * really updates registers incrementally across batches in Complete
    * mode. Because HLL registers merge by MAX, the settled streaming
    * state is EXACTLY the batch registers — the same merge law the
    * sharded `q_hll_census` gate pins, here certified through the
    * streaming engine's incremental-state path. At scale the memory sink
    * becomes any Complete-mode sink and the sketch is a continuously
    * fresh cardinality census that never re-reads history. */
  def streamingHllRegisters(spark: SparkSession, srcParquet: String,
      checkpointDir: String, groupCol: String, valueCol: String,
      m: Int): DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val queryName = s"graft_hll_${math.abs(srcParquet.hashCode)}"
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"hllsrc_${math.abs(srcParquet.hashCode)}")
    // fixture cached across invocations (same rationale as dedupedCounts):
    // time the streaming sketch, not a rewrite of the source
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.select(groupCol, valueCol).repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val stream = spark.readStream
      .schema(base.select(groupCol, valueCol).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
    val regs = graft.operators.Sketches.hllRegisters(
      stream, Seq(groupCol), col(valueCol), m)
    withStreamShuffle(spark) {
      val q = regs.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming count-min census: the heavy-hitter sketch maintained AS
    * STREAMING STATE — the SUM-merge twin of [[streamingHllRegisters]].
    * Same drain shape (4-file scratch copy, `maxFilesPerTrigger=1`,
    * Complete-mode aggregation): the unwatermarked
    * `groupBy(row, col).count()` updates cells incrementally across
    * micro-batches, and because count-min merges by SUM the settled state
    * is EXACTLY the batch sketch — a continuously fresh frequency census
    * whose point estimates only ever overcount, never re-reading history.
    * At scale the memory sink becomes any Complete-mode sink; the state
    * is d·w cells per stream regardless of cardinality. */
  def streamingCmsCells(spark: SparkSession, srcParquet: String,
      checkpointDir: String, valueCol: String, d: Int, w: Int): DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val queryName = s"graft_cms_${math.abs(srcParquet.hashCode)}"
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"cmssrc_${math.abs(srcParquet.hashCode)}")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      base.select(valueCol).repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val stream = spark.readStream
      .schema(base.select(valueCol).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
    val cells = graft.operators.Sketches.cmsCounts(stream, valueCol, d, w)
    withStreamShuffle(spark) {
      val q = cells.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming log2-histogram census — the third sketch family as
    * streaming state (SUM merge, like the count-min cells): per-bin counts
    * maintained through a Complete-mode aggregation settle to EXACTLY the
    * batch histogram, so quantile read-offs from the streamed state carry
    * the same bin-bounded guarantee continuously. `valueExprSql` derives
    * the non-negative Long being binned (applied while staging the 4-file
    * scratch copy; the binning itself — bit-length via `bin()` — runs
    * inside the streaming aggregation). State is ≤ 65 bins per stream. */
  def streamingLogHistogram(spark: SparkSession, srcParquet: String,
      checkpointDir: String, valueExprSql: String): DataFrame = {
    val base = spark.read.parquet(srcParquet)
    val queryName = s"graft_hist_${math.abs(srcParquet.hashCode)}"
    val splitDir = new File(new File(checkpointDir).getParentFile,
      s"histsrc_${math.abs(srcParquet.hashCode)}")
    val src = base.selectExpr(s"$valueExprSql AS v")
    if (!new File(splitDir, "_SUCCESS").exists()) {
      src.repartition(4)
        .write.mode("overwrite").parquet(splitDir.getAbsolutePath)
    }
    val stream = spark.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir.getAbsolutePath)
    val hist = graft.operators.Sketches.logHistogram(stream, col("v"))
    withStreamShuffle(spark) {
      val q = hist.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  final case class Ev(user_id: Long, ts_us: Long, event_type: String, value: Double)
  final case class SessionAcc(count: Int, start: Long, last: Long, value: Double)
  final case class SessionOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Int, total_value: Double)

  /** Batch sessionization as sort-within-partitions + an O(1) iterator
    * fold: one shuffle on user_id, a partition-local sort (spillable —
    * Spark's external sorter, not an in-memory buffer), then a single
    * forward pass holding ONE open-session accumulator. Unlike the
    * flatMapGroupsWithState form below, no user's event history is ever
    * materialized — a power user with 10^8 events at 100× scale streams
    * through in constant memory. Emission logic matches `sessionize`
    * exactly (same sort key, same gap rule), so gate hashes are unchanged. */
  def sessionizeSorted(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.col
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_type"))
      .mapPartitions { it =>
        var curUser = 0L
        var acc: SessionAcc = null
        def flush(): Option[SessionOut] =
          if (acc == null) None
          else {
            val o = SessionOut(curUser, acc.start, acc.last, acc.count, acc.value)
            acc = null
            Some(o)
          }
        val folded = it.flatMap { e =>
          val closed =
            if (acc != null && (e.user_id != curUser || e.ts_us - acc.last > gapUs))
              flush()
            else None
          if (acc == null) {
            curUser = e.user_id
            acc = SessionAcc(1, e.ts_us, e.ts_us, e.value)
          } else {
            acc = SessionAcc(acc.count + 1, acc.start, e.ts_us, acc.value + e.value)
          }
          closed
        }
        folded ++ flush() // ++ is by-name: the tail flush runs post-exhaustion
      }
  }

  /** Gap-based sessionization via flatMapGroupsWithState — the custom-state
    * API (KeyValueGroupedDataset) the reference's bounded-channel pipeline
    * maps onto. Works identically over a batch Dataset (the gate uses
    * `sessionizeSorted` above; DuckDB reproduces both with gaps-and-islands
    * SQL) and a stream (with GroupStateTimeout.EventTimeTimeout).
    *
    * Scale: one shuffle on user_id; per-group state is O(1) (running
    * session accumulator) — but batch mode materializes each user's events
    * to sort them, which `sessionizeSorted` avoids. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionAcc]) =>
          // batch mode: all of the user's events arrive in one call
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_type))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var acc: Option[SessionAcc] = state.getOption
          sorted.foreach { e =>
            acc match {
              case Some(a) if e.ts_us - a.last <= gapUs =>
                acc = Some(SessionAcc(a.count + 1, a.start, e.ts_us, a.value + e.value))
              case Some(a) =>
                out += SessionOut(userId, a.start, a.last, a.count, a.value)
                acc = Some(SessionAcc(1, e.ts_us, e.ts_us, e.value))
              case None =>
                acc = Some(SessionAcc(1, e.ts_us, e.ts_us, e.value))
            }
          }
          acc.foreach(a => out += SessionOut(userId, a.start, a.last, a.count, a.value))
          state.remove() // batch: emit all sessions, keep no state
          out.iterator
      }
  }
}
