package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{KvEncode, SqlMode}
import graft.pipeline.{ImportConfig, ImportPipeline, ProgressListener}
import graft.sinks.{CheckpointStore, CommitLog, JdbcCheckpointStore}
import graft.sources.{MydumpDiscovery, MysqlDdl, RouteRule, TableFilter}

/** Admin CLI — the role of `tidb-lightning` + `tidb-lightning-ctl`
  * (reference: cmd/tidb-lightning/main.go, cmd/tidb-lightning-ctl/main.go:
  * 42-307: one-shot import, checkpoint dump/removal, verification).
  *
  * Subcommands:
  *   import          --source DIR --out DIR [--config lightning.toml]
  *                   [--strict] [--no-checkpoint]
  *                   [--continue-on-error] [--checkpoint-url JDBC_URL]
  *                   [--filter db.tbl ...] [--route src.tbl=dst.tbl ...]
  *                   [--bucket-by N:col1,col2] [--compact-bytes N]
  *                   (--config loads a tidb-lightning.toml task config;
  *                   flags override it)
  *   checkpoint-dump --source DIR --out DIR            (CSV to stdout)
  *   checkpoint-remove --out DIR --table db.tbl
  *   checkpoint-destroy --out DIR [--table db.tbl ...] (failed tables:
  *                   drop checkpoint AND partial sink output)
  *   checkpoint-error-ignore --out DIR [--table db.tbl ...] (clear failed
  *                   status, keep data; next import resumes from chunks)
  *   verify          --source DIR --out DIR            (A3: re-scan compare)
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)
    // unused-key warning (reference tests/unused_config_keys/): a typo'd
    // option must not silently become the default
    val unknown = opts.keySet -- KnownOpts
    if (unknown.nonEmpty)
      System.err.println("[graft] WARNING: ignoring unknown options: " +
        unknown.toSeq.sorted.map("--" + _).mkString(", "))
    cmd match {
      case "import" => doImport(opts)
      case "check" => doCheck(opts)
      case "checkpoint-dump" => checkpointDump(opts)
      case "checkpoint-remove" => checkpointRemove(opts)
      case "checkpoint-destroy" => checkpointDestroy(opts)
      case "checkpoint-error-ignore" => checkpointErrorIgnore(opts)
      case "verify" => doVerify(opts)
      case "serve" => doServe(opts)
      case "lake-versions" => lakeVersions(opts)
      case "lake-read" => lakeRead(opts)
      case "lake-compact" => lakeCompact(opts)
      case "lake-vacuum" => lakeVacuum(opts)
      case "lake-delete" => lakeDelete(opts)
      case "lake-update" => lakeUpdate(opts)
      case "lake-restore" => lakeRestore(opts)
      case "lake-clone" => lakeClone(opts)
      case "lake-rename" => lakeRename(opts)
      case "lake-drop-column" => lakeDropColumn(opts)
      case "lake-add-column" => lakeAddColumn(opts)
      case "lake-widen" => lakeWiden(opts)
      case "lake-retag" => lakeRetag(opts)
      case "lake-hint" => lakeHint(opts)
      case other => System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
    }
  }

  /** RENAME COLUMN — metadata-only, no data rewrite (column mapping). */
  private def lakeRename(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val from = o("from").headOption.getOrElse {
      System.err.println("--from COL is required"); sys.exit(2)
    }
    val to = o("to").headOption.getOrElse {
      System.err.println("--to COL is required"); sys.exit(2)
    }
    val v = graft.operators.Export.renameSnapshotColumn(dir, from, to)
    println(s"renamed column $from -> $to in $dir as version $v " +
      "(metadata-only, no data rewritten)")
  }

  /** ALTER COLUMN TYPE widening — metadata-only, restricted to the
    * lattice the parquet reader upcasts natively. */
  private def lakeWiden(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val c = o("column").headOption.getOrElse {
      System.err.println("--column COL is required"); sys.exit(2)
    }
    val to = o("to").headOption.map(_.toLowerCase).getOrElse {
      System.err.println(
        "--to short|int|long|bigint|double is required"); sys.exit(2)
    }
    val tpe = to match {
      case "short" | "smallint" => org.apache.spark.sql.types.ShortType
      case "int" | "integer" => org.apache.spark.sql.types.IntegerType
      case "long" | "bigint" => org.apache.spark.sql.types.LongType
      case "double" => org.apache.spark.sql.types.DoubleType
      case other =>
        System.err.println(s"unknown widening target: $other"); sys.exit(2)
    }
    val v = graft.operators.Export.widenSnapshotColumn(dir, c, tpe)
    println(s"widened column $c to ${tpe.simpleString} in $dir as " +
      s"version $v (metadata-only, no data rewritten)")
  }

  /** ADD COLUMN — metadata-only; existing rows read back null in the
    * new column, a re-added dropped name gets fresh bytes. */
  private def lakeAddColumn(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val c = o("column").headOption.getOrElse {
      System.err.println("--column COL is required"); sys.exit(2)
    }
    val tpe = o("type").headOption.map(_.toLowerCase).getOrElse {
      System.err.println("--type DDL-TYPE is required " +
        "(e.g. bigint, string, double)"); sys.exit(2)
    }
    val dt = try org.apache.spark.sql.types.DataType.fromDDL(tpe)
      catch { case _: Exception =>
        System.err.println(s"unparseable type: $tpe"); sys.exit(2)
      }
    val v = graft.operators.Export.addSnapshotColumn(dir, c, dt)
    println(s"added column $c ${dt.simpleString} to $dir as version " +
      s"$v (metadata-only, existing rows read back null)")
  }

  /** DROP COLUMN — metadata-only; the physical name is retired so the
    * dropped bytes can never resurface under a re-added name. */
  private def lakeDropColumn(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val c = o("column").headOption.getOrElse {
      System.err.println("--column COL is required"); sys.exit(2)
    }
    val v = graft.operators.Export.dropSnapshotColumn(dir, c)
    println(s"dropped column $c from $dir as version $v " +
      "(metadata-only; bytes purge via compact + vacuum)")
  }

  /** Server mode (reference lightning.go:149-167): long-running HTTP task
    * queue — POST /tasks enqueues imports, one worker drains them;
    * DELETE/PATCH manage the queue, /pause + /resume gate the dataflow.
    * Loopback-only unless --bind says otherwise (the API can overwrite
    * output directories, so exposure is an explicit choice). */
  private def doServe(o: Map[String, List[String]]): Unit = {
    val port = o("port").headOption.map(_.toInt).getOrElse(8289)
    val bind = o("bind").headOption.getOrElse("127.0.0.1")
    val spark = session()
    val srv = new graft.pipeline.TaskServer(spark, port, bind)
    val bound = srv.start()
    println(s"graft task server listening on $bind:$bound " +
      "(POST/GET/DELETE /tasks, PATCH /tasks/N/front|back, /pause, /resume)")
    Thread.currentThread().join() // serve until killed
  }

  /** Pre-flight (reference checkRequirements, restore.go:254 — the 6-step
    * plan's step 1, run here as an explicit subcommand): validate config,
    * discovery, every schema, output writability, disk headroom and JDBC
    * targets WITHOUT moving data. Driver-side only — no Spark session.
    * Exit 1 when any ERROR finding exists. */
  private def doCheck(o: Map[String, List[String]]): Unit = {
    val cfg = buildConfig(o, preloaded = loadTomlTask(o))
    val findings = graft.pipeline.Preflight.run(cfg,
      new org.apache.hadoop.conf.Configuration())
    findings.foreach(println)
    if (findings.exists(_.level == "ERROR")) sys.exit(1)
  }

  private def usage(): Unit =
    System.err.println(
      "usage: graft.Main import|check|checkpoint-dump|checkpoint-remove|" +
        "checkpoint-destroy|checkpoint-error-ignore|verify|serve " +
        "--source DIR --out DIR [opts]\n" +
        "       graft.Main lake-versions|lake-read|lake-compact|" +
        "lake-vacuum|lake-delete|lake-update|lake-restore|lake-retag|lake-clone|lake-rename|" +
        "lake-drop-column|lake-add-column|lake-widen|lake-hint " +
        "--table DIR " +
        "[--version N] [--as-of-ts MILLIS] [--out DIR] [--files N] " +
        "[--cluster-by COL] [--keep N] [--horizon-ms N] " +
        "[--where SQL_PREDICATE] [--set 'col=expr[;col=expr]'] [--mor] " +
        "[--dry-run] [--to-version N]")

  // ------------------------------------------------------- lake ops surface
  //
  // The ctl-style maintenance commands for the snapshot-log tables the
  // engine's sinks and exports produce (the OPTIMIZE/VACUUM/DELETE verbs
  // a lakehouse CLI ships). lake-versions is planning-side only — it
  // reads manifests through the Hadoop FS with no Spark session.

  private def reqTable(o: Map[String, List[String]]): String =
    o("table").headOption.getOrElse {
      System.err.println("--table DIR is required"); sys.exit(2)
    }

  private def lakeVersions(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val entries = graft.operators.Export.snapshotEntries(dir)
    if (entries.isEmpty) { println(s"no versions under $dir"); return }
    entries.foreach { case (v, nFiles, meta) =>
      val metaStr =
        if (meta.isEmpty) ""
        else meta.toSeq.sortBy(_._1)
          .map { case (k, x) => s"$k=$x" }.mkString(" [", " ", "]")
      println(s"v$v files=$nFiles$metaStr")
    }
  }

  private def lakeRead(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val out = o("out").headOption.getOrElse {
      System.err.println("--out DIR is required"); sys.exit(2)
    }
    // validate BEFORE spinning up a session: an empty table or a
    // vacuumed version should be a clean message, not a Spark stack trace
    val versions = graft.operators.Export.snapshotVersions(dir)
    if (versions.isEmpty) {
      System.err.println(s"no versions under $dir"); sys.exit(2)
    }
    if (o("version").nonEmpty && o("as-of-ts").nonEmpty) {
      System.err.println("--version and --as-of-ts are mutually exclusive")
      sys.exit(2)
    }
    // TIMESTAMP AS OF: resolve epoch-millis to the newest version
    // committed at or before it (Delta semantics); version-exact otherwise
    val v = o("as-of-ts").headOption match {
      case Some(ts) =>
        try graft.operators.Export.resolveAsOfTimestamp(dir, ts.toLong)
        catch { case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(2)
        }
      case None => o("version").headOption.map(_.toInt).getOrElse(versions.last)
    }
    if (!versions.contains(v)) {
      System.err.println(
        s"version $v not present under $dir (have: ${versions.mkString(", ")}" +
          " — vacuumed?)")
      sys.exit(2)
    }
    val spark = session()
    graft.operators.Export.readSnapshot(spark, dir, v)
      .write.mode("overwrite").parquet(out)
    println(s"wrote version $v of $dir to $out")
    spark.stop()
  }

  private def lakeCompact(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val nFiles = o("files").headOption.map(_.toInt).getOrElse(1)
    val spark = session()
    // --partition col=val (repeatable): partition-scoped OPTIMIZE —
    // rewrite only the matching partitions' files, carry the rest
    val partFilters = o("partition").map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ =>
          System.err.println(s"--partition expects col=val, got: $kv")
          sys.exit(2)
      }
    }.toMap
    val modes = Seq(partFilters.nonEmpty, o("cluster-by").nonEmpty,
      o("zorder-by").nonEmpty).count(identity)
    if (modes > 1) {
      System.err.println("--cluster-by, --zorder-by and --partition " +
        "are mutually exclusive")
      sys.exit(2)
    }
    val v =
      if (partFilters.nonEmpty) {
        // the table's FULL partition column set comes from the head
        // manifest's p= specs, not from the filter: compacting
        // `--partition dt=X` on a (dt, tenant)-partitioned table must
        // rewrite files still carrying BOTH columns' specs, or pruning
        // on the unfiltered column degrades and partition-scoped DML
        // later refuses the table as inconsistently partitioned
        val head = graft.operators.Export.latestSnapshotVersion(dir)
        val partCols = graft.operators.Export
          .snapshotPartitionColumns(dir, head)
        graft.operators.Export.compactSnapshotPartition(
          spark, dir,
          if (partCols.nonEmpty) partCols else partFilters.keys.toSeq,
          partFilters, nFiles)
      }
      else {
        import graft.operators.Export.Layout
        // without --zorder-by/--cluster-by the table keeps its declared
        // layout (partitions, else its graft.cluster.key zones)
        val layout = o("zorder-by").headOption.map(keys =>
          keys.split(",").map(_.trim) match {
            case Array(a, b) => Layout.Zordered(a, b, nFiles)
            case _ =>
              System.err.println("--zorder-by expects exactly two " +
                s"comma-separated columns, got: $keys")
              sys.exit(2)
          }).orElse(o("cluster-by").headOption.map(
            Layout.Clustered(_, nFiles)))
        graft.operators.Export.compactSnapshot(spark, dir, nFiles, layout)
      }
    println(s"compacted $dir into version $v " +
      s"(${graft.operators.Export.snapshotFiles(dir, v).size} files)")
    spark.stop()
  }

  /** Write the `_versions.hint` head pointer from a full listing — the
    * one-time migration for READ-ONLY legacy tables (commits write it
    * as a side effect; a table nobody writes would pay the O(root)
    * listing on every plan forever). Planning-side, no Spark session. */
  /** Partition-tag backfill (`OPTIMIZE ... RETAG`'s CLI face): restore
    * `p=` specs on untagged epochs so one legacy commit stops disabling
    * DPP surfacing — metadata-only for single-tuple files, a rewrite
    * scoped to just the spanning ones. `--by col` (repeatable)
    * retrofits an explicit layout onto never-partitioned tables. */
  private def lakeRetag(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val cols = o("by")
    val spark = session()
    try {
      val v = graft.operators.Export.retagSnapshotPartitions(
        spark, dir, cols)
      val n = graft.operators.Export.snapshotFiles(dir, v).size
      println(s"retagged $dir: v$v, $n files")
    } finally spark.stop()
  }

  private def lakeHint(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val versions = graft.operators.Export.refreshVersionsHint(dir)
    if (versions.isEmpty) {
      System.err.println(s"no versions under $dir"); sys.exit(2)
    }
    println(s"hinted $dir: ${versions.size} versions " +
      s"(v${versions.head}..v${versions.last})")
  }

  private def lakeVacuum(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val keep = o("keep").headOption.map(_.toInt).getOrElse(1)
    // in-flight-commit horizon: unreferenced files younger than this are
    // never reclaimed (a racing committer writes data first, manifest
    // after); --horizon-ms 0 only for tables with no possible live writer
    val horizon = o("horizon-ms").headOption.map(_.toLong)
      .getOrElse(graft.operators.Export.DefaultVacuumHorizonMs)
    val dry = o.contains("dry-run")
    val (droppedV, deletedF) =
      graft.operators.Export.vacuumSnapshots(dir, keep, horizon,
        dryRun = dry)
    val verb = if (dry) "DRY RUN would drop" else "dropped"
    val verbF = if (dry) "would delete" else "deleted"
    println(s"vacuumed $dir: $verb $droppedV versions, " +
      s"$verbF $deletedF files (kept newest $keep, " +
      s"horizon ${horizon}ms)")
  }

  /** RESTORE TABLE TO VERSION: roll the head back by committing a new
    * manifest that re-points to an old version's files — zero data
    * movement, planning-side only (no Spark session). */
  private def lakeRestore(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val to = o("to-version").headOption.map(_.toInt).getOrElse {
      System.err.println("--to-version N is required"); sys.exit(2)
    }
    val versions = graft.operators.Export.snapshotVersions(dir)
    if (!versions.contains(to)) {
      System.err.println(
        s"version $to not present under $dir (have: " +
          s"${versions.mkString(", ")} — vacuumed?)")
      sys.exit(2)
    }
    val v = graft.operators.Export.restoreSnapshot(dir, to)
    println(s"restored $dir to version $to as new version $v")
  }

  /** SHALLOW CLONE: fork a table by re-pointing a fresh log at the
    * source version's files — planning-side, no Spark session. */
  private def lakeClone(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val to = o("to").headOption.getOrElse {
      System.err.println("--to DIR is required"); sys.exit(2)
    }
    val version = o("version").headOption.map(_.toInt).getOrElse(-1)
    val v = graft.operators.Export.cloneSnapshot(dir, to, version)
    println(s"cloned $dir" +
      (if (version > 0) s"@v$version" else " (latest)") +
      s" to $to as version $v (zero data copied; source retention " +
      "must respect the clone — see cloneSnapshot docs)")
  }

  private def lakeDelete(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val where = o("where").headOption.getOrElse {
      System.err.println("--where SQL_PREDICATE is required"); sys.exit(2)
    }
    val spark = session()
    // --mor: merge-on-read (deletion-vector sidecar, no data rewrite) —
    // the narrow-delete shape; default stays copy-on-write
    val v =
      if (o.contains("mor"))
        graft.operators.Export.deleteWhereMoR(spark, dir, expr(where))
      else graft.operators.Export.deleteWhere(spark, dir, expr(where))
    println(s"committed delete as version $v of $dir " +
      s"(rows matching: $where)")
    spark.stop()
  }

  /** UPDATE maintenance verb: `lake-update --table DIR --set
    * 'col=expr[;col=expr]' --where PRED [--mor]` — file-scoped
    * copy-on-write by default (manifest tags prune files the predicate
    * provably excludes), merge-on-read with `--mor` (DV the matched
    * positions + append the updated copies; zero files rewritten). */
  private def lakeUpdate(o: Map[String, List[String]]): Unit = {
    val dir = reqTable(o)
    val where = o("where").headOption.getOrElse {
      System.err.println("--where SQL_PREDICATE is required"); sys.exit(2)
    }
    val setSpec = o("set").headOption.getOrElse {
      System.err.println("--set 'col=expr[;col=expr]' is required")
      sys.exit(2)
    }
    val sets = setSpec.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> expr(v.trim)
        case _ =>
          System.err.println(s"--set expects col=expr[;col=expr]: $kv")
          sys.exit(2)
      }
    }
    val spark = session()
    val v =
      if (o.contains("mor"))
        graft.operators.Export.updateWhereMoR(spark, dir, sets,
          expr(where))
      else graft.operators.Export.updateWhere(spark, dir, sets,
        expr(where))
    println(s"committed update as version $v of $dir " +
      s"(set: $setSpec where: $where" +
      (if (o.contains("mor")) ", merge-on-read)" else ")"))
    spark.stop()
  }

  private val KnownOpts = Set("source", "out", "strict", "no-checkpoint",
    "continue-on-error", "filter", "route", "table", "port", "bind",
    "checkpoint-url", "bucket-by", "compact-bytes", "config",
    "version", "files", "cluster-by", "zorder-by", "keep", "where", "set",
    "as-of-ts", "to-version", "horizon-ms", "partition", "to", "mor",
    "dry-run", "by", "from", "column", "type")

  private def parseOpts(args: Array[String]): Map[String, List[String]] = {
    val out = scala.collection.mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          out(key) = out(key) :+ args(i + 1); i += 2
        } else { out(key) = out(key) :+ "true"; i += 1 }
      } else i += 1
    }
    out.toMap.withDefaultValue(Nil)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference supports GB18030 data files (S7) - allow JVM charsets
      .config("spark.sql.legacy.javaCharsets", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Parse --config's TOML once per invocation (warnings print here);
    * buildConfig and the sink derivation share the result instead of
    * re-reading the file (a second read could even see different bytes). */
  private def loadTomlTask(o: Map[String, List[String]])
      : Option[graft.config.LoadedTask] =
    o("config").headOption.map { p =>
      val loaded = graft.config.TomlImportConfig.load(
        java.nio.file.Files.readString(java.nio.file.Path.of(p)))
      loaded.warnings.foreach(w => System.err.println(s"[graft] WARNING: $w"))
      loaded
    }

  private def buildConfig(o: Map[String, List[String]],
      preloaded: Option[graft.config.LoadedTask] = None): ImportConfig = {
    def one(k: String): Option[String] = o(k).headOption
    val filters = o("filter").map { f =>
      val Array(db, tbl) = f.split("\\.", 2); (db, tbl)
    }
    val routes = o("route").map { r =>
      val Array(src, dst) = r.split("=", 2)
      val Array(sdb, stbl) = src.split("\\.", 2)
      val Array(ddb, dtbl) = dst.split("\\.", 2)
      RouteRule(sdb, stbl, ddb, dtbl)
    }
    // --config file.toml: a tidb-lightning.toml task config is the base;
    // command-line flags override it (the reference's cmdline_override
    // contract — global.go LoadGlobalConfig flag precedence)
    preloaded.orElse(loadTomlTask(o)).foreach { loaded =>
      val b = loaded.config
      val src = one("source").orElse(Option(b.sourceDir).filter(_.nonEmpty))
        .getOrElse(sys.error("--source or mydumper.data-source-dir required"))
      val out = one("out").orElse(Option(b.outDir).filter(_.nonEmpty))
        .getOrElse(sys.error("--out or [graft] out-dir required"))
      return b.copy(
        sourceDir = src,
        outDir = out,
        sqlMode = if (o("strict").nonEmpty) SqlMode.Strict else b.sqlMode,
        filter = if (filters.isEmpty) b.filter
                 else TableFilter(doTables = filters),
        routes = if (routes.isEmpty) b.routes else routes,
        checkpointEnabled =
          if (o("no-checkpoint").nonEmpty) false else b.checkpointEnabled,
        checkpointUrl = one("checkpoint-url").orElse(b.checkpointUrl),
        continueOnError =
          b.continueOnError || o("continue-on-error").nonEmpty,
        // every documented flag must override its TOML value — omitting
        // one here silently drops it for --config runs
        compactTargetBytes =
          parseCompactBytes(one("compact-bytes")).orElse(b.compactTargetBytes),
        bucketBy = parseBucketBy(one("bucket-by")).orElse(b.bucketBy))
    }
    ImportConfig(
      sourceDir = one("source").getOrElse(sys.error("--source required")),
      outDir = one("out").getOrElse(sys.error("--out required")),
      sqlMode = if (o("strict").nonEmpty) SqlMode.Strict else SqlMode.Lenient,
      filter = if (filters.isEmpty) TableFilter() else TableFilter(doTables = filters),
      routes = routes,
      checkpointEnabled = o("no-checkpoint").isEmpty,
      checkpointUrl = one("checkpoint-url"),
      continueOnError = o("continue-on-error").nonEmpty,
      // --bucket-by N:col1,col2 → bucketed+sorted parquet output (see
      // ImportConfig.bucketBy); malformed specs fail loudly, not silently
      // --compact-bytes N → post-import small-file compaction target
      compactTargetBytes = parseCompactBytes(one("compact-bytes")),
      bucketBy = parseBucketBy(one("bucket-by")))
  }

  private def parseCompactBytes(v: Option[String]): Option[Long] =
    v.map { s =>
      require(s.matches("\\d+"), s"--compact-bytes expects bytes, got '$s'")
      s.toLong
    }

  private def parseBucketBy(v: Option[String]): Option[(Int, Seq[String])] =
    v.map { spec =>
      spec.split(":", 2) match {
        case Array(n, cols) if n.matches("\\d+") && cols.nonEmpty =>
          (n.toInt, cols.split(",").toSeq)
        case _ => sys.error(
          s"--bucket-by expects N:col1[,col2...], got '$spec'")
      }
    }

  /** ctl commands honour the same --checkpoint-url driver selection as
    * the import itself (file driver by default, JDBC store when given). */
  private def storeFor(o: Map[String, List[String]], out: String,
      conf: org.apache.hadoop.conf.Configuration): CheckpointStore =
    o("checkpoint-url").headOption match {
      case Some(url) =>
        new JdbcCheckpointStore(url, new java.util.Properties(), out, conf)
      case None => new CommitLog(out, conf)
    }

  private def doImport(o: Map[String, List[String]]): Unit = {
    val spark = session()
    val listener = new ProgressListener
    spark.sparkContext.addSparkListener(listener)
    val loaded = loadTomlTask(o)
    val cfg = buildConfig(o, preloaded = loaded)
    // --config with backend = "tidb": the declared [tidb] target must
    // actually RECEIVE the rows — an accepted-but-unwired backend key
    // would import to parquet while the operator believes TiDB got them
    val sink = loaded.flatMap(graft.config.TomlImportConfig.sinkFor)
    // periodic progress line (reference [cron] log-progress, 5 min default
    // — config.go:232-235): a long import is observable without the server
    val periodSec = sys.env.getOrElse("GRAFT_PROGRESS_LOG_SEC", "300").toInt
    val progressLogger = new Thread(() => {
      while (true) {
        Thread.sleep(periodSec * 1000L)
        System.err.println(s"[graft] progress: ${listener.summary()}")
      }
    }, "graft-progress-log")
    progressLogger.setDaemon(true)
    progressLogger.start()
    val reports = new ImportPipeline(spark, cfg, sink = sink).run()
    reports.foreach { r =>
      r.error match {
        case Some(err) =>
          println(s"FAILED ${r.db}.${r.table}: $err")
        case None =>
          val skip = if (r.resumedSkip) " (resumed: skipped)" else ""
          println(f"imported ${r.db}.${r.table}: rows=${r.rows} " +
            f"checksum=${r.dataChecksum}%016x bytes=${r.dataBytes} kvs=${r.dataKvs}$skip")
      }
    }
    println(s"progress: ${listener.summary()}")
    spark.stop()
    if (reports.exists(_.error.nonEmpty)) sys.exit(1)
  }

  private def checkpointDump(o: Map[String, List[String]]): Unit = {
    val spark = session()
    val cfg = buildConfig(o)
    val log = storeFor(o, cfg.outDir, spark.sparkContext.hadoopConfiguration)
    val plan = MydumpDiscovery.plan(cfg.sourceDir, cfg.filter, cfg.routes,
      spark.sparkContext.hadoopConfiguration)
    println("db,table,status,rows,checksum,total_bytes,total_kvs,plan_fingerprint")
    plan.tables.foreach { t =>
      log.read(t.db, t.table).foreach { st =>
        println(s"${st.db},${st.table},${st.status},${st.rows}," +
          f"${st.checksum}%016x,${st.totalBytes},${st.totalKvs},${st.planFingerprint}")
      }
    }
    spark.stop()
  }

  private def checkpointRemove(o: Map[String, List[String]]): Unit = {
    val spark = session()
    val out = o("out").headOption.getOrElse(sys.error("--out required"))
    val log = storeFor(o, out, spark.sparkContext.hadoopConfiguration)
    o("table").foreach { t =>
      val Array(db, tbl) = t.split("\\.", 2)
      log.remove(db, tbl)
      println(s"removed checkpoint $db.$tbl")
    }
    spark.stop()
  }

  /** ctl error-destroy (reference cmd/tidb-lightning-ctl/main.go:166-215):
    * with `--table db.tbl`, destroy those tables; without, destroy every
    * table whose checkpoint is in `failed` state (the post-`import
    * --continue-on-error` cleanup). Destroy = checkpoint states + partial
    * sink output, so the next import starts clean. */
  private def checkpointDestroy(o: Map[String, List[String]]): Unit = {
    val spark = session()
    val out = o("out").headOption.getOrElse(sys.error("--out required"))
    val log = storeFor(o, out, spark.sparkContext.hadoopConfiguration)
    val targets =
      if (o("table").nonEmpty) o("table").map { t =>
        val Array(db, tbl) = t.split("\\.", 2); (db, tbl)
      }
      else log.listTables().filter(_.status == "failed")
        .map(s => (s.db, s.table))
    if (targets.isEmpty) println("nothing to destroy (no failed tables)")
    targets.foreach { case (db, tbl) =>
      log.destroy(db, tbl)
      println(s"destroyed $db.$tbl (checkpoint + partial sink output)")
    }
    spark.stop()
  }

  /** ctl error-ignore (reference cmd/tidb-lightning-ctl/main.go:166-215,
    * --checkpoint-error-ignore): clear `failed` status without deleting
    * output — the next import resumes from committed chunks. With
    * `--table db.tbl` only those tables; without, every failed table. */
  private def checkpointErrorIgnore(o: Map[String, List[String]]): Unit = {
    val spark = session()
    val out = o("out").headOption.getOrElse(sys.error("--out required"))
    val log = storeFor(o, out, spark.sparkContext.hadoopConfiguration)
    val targets =
      if (o("table").nonEmpty) o("table").map { t =>
        val Array(db, tbl) = t.split("\\.", 2); (db, tbl)
      }
      else log.listTables().filter(_.status == "failed")
        .map(s => (s.db, s.table))
    if (targets.isEmpty) println("nothing to ignore (no failed tables)")
    targets.foreach { case (db, tbl) =>
      if (log.errorIgnore(db, tbl))
        println(s"cleared failed status for $db.$tbl (data kept; next " +
          "import resumes from committed chunks)")
      else println(s"$db.$tbl is not in failed state; unchanged")
    }
    spark.stop()
  }

  /** A3: re-scan each imported table, recompute the checksum triple from
    * the sink-side data, compare to the commit log (the Spark analog of
    * ADMIN CHECKSUM TABLE vs local checksum — restore.go:1429-1503). */
  private def doVerify(o: Map[String, List[String]]): Unit = {
    val spark = session()
    val cfg = buildConfig(o)
    val hconf = spark.sparkContext.hadoopConfiguration
    val log = storeFor(o, cfg.outDir, hconf)
    val plan = MydumpDiscovery.plan(cfg.sourceDir, cfg.filter, cfg.routes, hconf)
    var failed = 0
    plan.tables.filter(_.dataFiles.nonEmpty).foreach { t =>
      log.read(t.db, t.table) match {
        case None => println(s"SKIP ${t.db}.${t.table}: no checkpoint")
        case Some(st) if st.status != "imported" =>
          // pre-data "loaded" markers and failed states have no (complete)
          // output to verify — report instead of crashing on a missing
          // parquet path or failing against an all-zero checksum triple
          println(s"SKIP ${t.db}.${t.table}: status=${st.status}, " +
            "nothing verifiable")
        case Some(st) =>
          // same resolution order as the pipeline: *-schema.sql unless
          // no-schema mode, else the declared catalog (no-schema tables
          // must stay verifiable — they imported through the same path)
          val table = t.schemaFile.filterNot(_ => cfg.noSchema) match {
            case Some(sf) => MysqlDdl.parseCreateTable(
              new ImportPipeline(spark, cfg).readFile(sf))
            case None => cfg.schemaCatalog.getOrElse((t.db, t.table), {
              println(s"SKIP ${t.db}.${t.table}: no schema source to verify against")
              null
            })
          }
          if (table == null) () else {
          val df = spark.read.parquet(s"${cfg.outDir}/${t.db}/${t.table}")
          val cs = KvEncode.checksumReport(df, table,
            ImportPipeline.tableId(t.db, t.table), "_row_id")
            .filter(col("kv_class") === "data").collect()(0)
          val ok = cs.getLong(1) == st.checksum && cs.getLong(2) == st.totalBytes &&
            cs.getLong(3) == st.totalKvs
          if (!ok) failed += 1
          println(s"${if (ok) "OK  " else "FAIL"} ${t.db}.${t.table}: " +
            f"sink=${cs.getLong(1)}%016x/${cs.getLong(2)}/${cs.getLong(3)} " +
            f"pipeline=${st.checksum}%016x/${st.totalBytes}/${st.totalKvs}")
          }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
