package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KvEncode, RowIdAllocator, SchemaAlign, SqlMode}
import graft.pipeline.{ImportConfig, ImportPipeline, TableReport}
import graft.sinks.{ChunkState, CommitLog, ParquetSink, TableState}
import graft.sources._

/** `bulk_import` — why it exists: the executor-bound steady state of an
  * import. A mydumper dump of a `lineitem`-shaped table (multi-row INSERT
  * `.sql` shards) and an `orders`-shaped table (headerless CSV shards)
  * lands through `ImportPipeline.run` with the default `ImportConfig`:
  * checkpoints, chunk checkpoints and the observe-checksum all on, parquet
  * sink. Per-table fixed cost is amortised over ~12 MiB, so parse, cast,
  * row-id, checksum and write throughput show here and nowhere else.
  *
  * Stresses: sources (SQL and CSV parse), operators (align, row-id,
  * checksum), sinks (parquet write). Bypasses: the lake layer and the
  * curation kernels; per-table driver cost is a small share.
  *
  * Checks: row count and per-column content fingerprint of each imported
  * table equal those of the generated source parquet, and each
  * TableReport checksum triple equals `KvEncode.checksumReport` re-run
  * over the written parquet. */
object BulkImport extends Workload {
  val name = "bulk_import"
  val Db = "bench"
  // rows divide evenly into shards: spark.range then slices them exactly
  private val LineitemRows = 64000L
  private val LineitemShards = 8
  private val OrdersRows = 16000L
  private val OrdersShards = 4
  private val RowsPerStmt = 2000

  val LineitemDdl: String =
    """CREATE TABLE `lineitem` (
      |  `l_orderkey` bigint(20) NOT NULL,
      |  `l_linenumber` int(11) NOT NULL,
      |  `l_partkey` bigint(20) NOT NULL,
      |  `l_suppkey` int(11) NOT NULL,
      |  `l_quantity` decimal(15,2) NOT NULL,
      |  `l_extendedprice` decimal(15,2) NOT NULL,
      |  `l_discount` decimal(15,2) NOT NULL,
      |  `l_tax` decimal(15,2) NOT NULL,
      |  `l_returnflag` char(1) NOT NULL,
      |  `l_linestatus` char(1) NOT NULL,
      |  `l_shipdate` date NOT NULL,
      |  `l_commitdate` date NOT NULL,
      |  `l_shipinstruct` varchar(25) NOT NULL,
      |  `l_shipmode` varchar(10) NOT NULL,
      |  `l_comment` varchar(64) DEFAULT NULL,
      |  PRIMARY KEY (`l_orderkey`,`l_linenumber`)
      |)""".stripMargin

  val OrdersDdl: String =
    """CREATE TABLE `orders` (
      |  `o_orderkey` bigint(20) NOT NULL,
      |  `o_custkey` bigint(20) NOT NULL,
      |  `o_orderstatus` char(1) NOT NULL,
      |  `o_totalprice` decimal(15,2) NOT NULL,
      |  `o_orderdate` date NOT NULL,
      |  `o_orderpriority` varchar(15) NOT NULL,
      |  `o_clerk` varchar(15) NOT NULL,
      |  `o_shippriority` int(11) NOT NULL,
      |  `o_comment` varchar(79) DEFAULT NULL,
      |  PRIMARY KEY (`o_orderkey`)
      |)""".stripMargin

  /** The generated `lineitem` rows, `shards` equal row ranges, one per
    * partition. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long,
      shards: Int): DataFrame = {
    import Common._
    val id = col("id")
    val table = MysqlDdl.parseCreateTable(LineitemDdl)
    val df = spark.range(0, rows, 1, shards).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (rnd(seed, 1, id, 200000) + 1).as("l_partkey"),
      (rnd(seed, 2, id, 10000) + 1).cast("int").as("l_suppkey"),
      decimal(seed, 3, id, 5000).as("l_quantity"),
      decimal(seed, 4, id, 10000000).as("l_extendedprice"),
      decimal(seed, 5, id, 11).as("l_discount"),
      decimal(seed, 6, id, 9).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (rnd(seed, 7, id, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (rnd(seed, 8, id, 2) + 1).cast("int")).as("l_linestatus"),
      date(seed, 9, id, 2500).as("l_shipdate"),
      date(seed, 10, id, 2500).as("l_commitdate"),
      element_at(array(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE",
        "TAKE BACK RETURN").map(lit): _*),
        (rnd(seed, 11, id, 4) + 1).cast("int")).as("l_shipinstruct"),
      element_at(array(Seq("AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB",
        "REG AIR").map(lit): _*),
        (rnd(seed, 12, id, 7) + 1).cast("int")).as("l_shipmode"),
      when(rnd(seed, 13, id, 20) === 0, lit(null).cast("string"))
        .otherwise(phrase(seed, 14, id, 2, 6)).as("l_comment"),
      id.as("_id"))
    typed(df, table)
  }

  def orders(spark: SparkSession, seed: Long, rows: Long,
      shards: Int): DataFrame = {
    import Common._
    val id = col("id")
    val table = MysqlDdl.parseCreateTable(OrdersDdl)
    val df = spark.range(0, rows, 1, shards).select(
      (id + 1).as("o_orderkey"),
      (rnd(seed, 21, id, 15000) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (rnd(seed, 22, id, 3) + 1).cast("int")).as("o_orderstatus"),
      decimal(seed, 23, id, 50000000).as("o_totalprice"),
      date(seed, 24, id, 2400).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (rnd(seed, 25, id, 5) + 1).cast("int")).as("o_orderpriority"),
      format_string("Clerk#%09d", rnd(seed, 26, id, 1000) + 1).as("o_clerk"),
      lit(0).as("o_shippriority"),
      when(rnd(seed, 27, id, 25) === 0, lit(null).cast("string"))
        .otherwise(phrase(seed, 28, id, 3, 9)).as("o_comment"),
      id.as("_id"))
    typed(df, table)
  }

  /** The frame with every declared column cast to graft's Spark type for
    * it, plus the `_id` row order. */
  def typed(df: DataFrame, table: MysqlTable): DataFrame =
    df.select(table.columns.map(c => col(c.name).cast(c.sparkType).as(c.name)) :+
      col("_id"): _*)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dump = new File(ctx.dir, "dump")
    dump.mkdirs()
    Files.writeString(new File(dump, s"$Db-schema-create.sql").toPath,
      s"CREATE DATABASE `$Db`;\n")
    Files.writeString(new File(dump, s"$Db.lineitem-schema.sql").toPath,
      LineitemDdl + ";\n")
    Files.writeString(new File(dump, s"$Db.orders-schema.sql").toPath,
      OrdersDdl + ";\n")
    val liSchema = MysqlDdl.parseCreateTable(LineitemDdl).schema
    val liFile = LineitemRows / LineitemShards
    Common.writeFiles(lineitem(spark, ctx.seed, LineitemRows, LineitemShards)
        .select(Common.insertLine(lit("lineitem"), liSchema, col("_id") % liFile,
          lit(liFile), RowsPerStmt)),
      new File(ctx.dir, "tmp"), dump, i => f"$Db.lineitem.$i%05d.sql")
    val odSchema = MysqlDdl.parseCreateTable(OrdersDdl).schema
    Common.writeFiles(orders(spark, ctx.seed, OrdersRows, OrdersShards)
        .select(Common.csvLine(odSchema)),
      new File(ctx.dir, "tmp"), dump, i => f"$Db.orders.$i%05d.csv")
  }

  /** The generated source rows of table `t`, the reference the imported
    * content must equal. */
  def source(ctx: Ctx, t: String): DataFrame = t match {
    case "lineitem" => lineitem(ctx.spark, ctx.seed, LineitemRows, LineitemShards)
    case "orders" => orders(ctx.spark, ctx.seed, OrdersRows, OrdersShards)
  }

  def pass(ctx: Ctx): PassOut = {
    val cfg = ImportConfig(sourceDir = ctx.path("dump"), outDir = ctx.path("out"))
    val (reports, ms) = Common.timedMs(ctx.span("pipeline.run") {
      new ImportPipeline(ctx.spark, cfg).run()
    })
    importOut(ctx, reports, ms)
  }

  /** The pass result of one import run over `ctx.dir/dump` into `out`. */
  def importOut(ctx: Ctx, reports: Seq[TableReport], ms: Double): PassOut = {
    val inBytes = Common.duBytes(new File(ctx.dir, "dump"))
    PassOut(items = reports.map(_.rows).sum, inputBytes = inBytes,
      storedBytes = Common.duBytes(new File(ctx.dir, "out")),
      ops = Seq("import" -> ms), attempted = math.max(1, reports.size),
      failed = reports.count(_.error.nonEmpty),
      extra = Map("tables" -> reports.size), payload = reports)
  }

  private var expectedFps = Map.empty[(Long, String), Map[String, Seq[String]]]

  /** The source's fingerprint: every pass of a run imports the same
    * generated rows, so it is computed once per seed. */
  private def expected(ctx: Ctx, t: String,
      cols: Seq[String]): Map[String, Seq[String]] =
    expectedFps.getOrElse((ctx.seed, t), {
      val fp = Common.fingerprint(source(ctx, t), cols)
      expectedFps += (ctx.seed, t) -> fp
      fp
    })

  def check(ctx: Ctx, out: PassOut): Seq[String] = {
    val spark = ctx.spark
    val reports = out.payload.asInstanceOf[Seq[TableReport]]
    Seq("lineitem" -> LineitemDdl, "orders" -> OrdersDdl).flatMap {
      case (t, ddl) =>
        val table = MysqlDdl.parseCreateTable(ddl)
        reports.find(_.table == t) match {
          case None => Seq(s"$t: no TableReport")
          case Some(r) =>
            val got = spark.read.parquet(ctx.path(s"out/$Db/$t"))
            val cols = table.columns.map(_.name)
            val fp = if (Common.fingerprint(got, cols) ==
                expected(ctx, t, cols)) Nil
              else Seq(s"$t: imported content differs from the source")
            val cs = KvEncode.checksumReport(got, table,
                ImportPipeline.tableId(Db, t), "_row_id")
              .filter(col("kv_class") === "data").collect()
              .map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).headOption
            val triple = (r.dataChecksum, r.dataBytes, r.dataKvs)
            val csFail = if (cs.contains(triple)) Nil
              else Seq(s"$t: report checksum $triple != re-scan $cs")
            r.error.map(e => s"$t: $e").toSeq ++ fp ++ csFail
        }
    }
  }

  /** Stage decomposition, run after a traced pass: each stage the
    * pipeline chains for one table (parse → align → row-id → checksum →
    * write → commit log) is called directly and forced with a `noop`
    * write, each span covering its whole prefix; run.py takes a stage's
    * self time as its span minus the previous stage's. The chain runs
    * once untraced first, so its own plans are compiled before timing. */
  override def layers(ctx: Ctx, out: PassOut): Map[String, Any] = {
    stages(new Ctx(ctx.spark, ctx.seed, ctx.dir, ctx.pass, None),
      ctx.path("dump"), ctx.path("stage_warm"))
    stages(ctx, ctx.path("dump"), ctx.path("stage_out"))
    Map.empty
  }

  /** Discovery, DDL parse and the per-table stage chain over `dumpDir`. */
  def stages(ctx: Ctx, dumpDir: String, outDir: String): Unit = {
    val spark = ctx.spark
    val conf = Common.hconf(spark)
    val plan = ctx.span("sources.discover") {
      MydumpDiscovery.plan(dumpDir, TableFilter(), Nil, conf)
    }
    val tables = ctx.span("sources.ddl") {
      plan.tables.filter(_.dataFiles.nonEmpty).map(t => t -> MysqlDdl
        .parseCreateTable(Files.readString(new File(t.schemaFile.get).toPath)))
    }
    val log = new CommitLog(outDir, conf)
    val sink = new ParquetSink(outDir)
    tables.foreach { case (t, table) =>
      val files = t.dataFiles
      val sizes = files.map(f => (f.path, f.size))
      val isSql = files.head.kind == FileKind.SqlData
      val keep = Seq(col("src_file").as("_src_file"),
        col(if (isSql) "row_idx" else "row_off").as("_row_idx"))
      val raw =
        if (isSql) SqlDumpSource.readChunkedSized(spark, sizes, 256L << 20)
        else CsvSource.readIndexed(spark, files.map(_.path), CsvConfig(),
          table.columns.size)
      val aligned =
        if (isSql) SchemaAlign.fromArrayPerStatement(raw, col("vals"),
          col("stmt_cols"), table, SqlMode.Lenient, 0L, keep = keep,
          kindsCol = Some(col("kinds")), emitExplicitRowId = true)
        else SchemaAlign.fromColumns(raw, table.columns.map(_.name), table,
          SqlMode.Lenient, 0L, keep = keep, emitExplicitRowId = true)
      val withId = RowIdAllocator.fromFileSizes(aligned, "_src_file",
          "_row_idx", sizes, capacityFor = sz => sz + 1)
        .select((table.columns.map(c => col(c.name)) :+ col("_row_id")): _*)
      val tid = ImportPipeline.tableId(t.db, t.table)
      def observed(obs: Observation): DataFrame = {
        val metrics = KvEncode.observeMetrics(table, tid, rowIdCol = "_row_id")
        KvEncode.withObserveCols(withId, table, tid, "_row_id")
          .observe(obs, metrics.head, metrics.tail: _*)
          .drop(KvEncode.observeHelperCols(table): _*)
      }
      val attrs = Seq("table" -> t.table)
      ctx.span(if (isSql) "sources.sqldump_parse" else "sources.csv_parse",
        attrs :+ ("stage" -> 0): _*)(Common.noop(raw))
      ctx.span("operators.schema_align", attrs :+ ("stage" -> 1): _*)(
        Common.noop(aligned))
      ctx.span("operators.rowid", attrs :+ ("stage" -> 2): _*)(
        Common.noop(withId))
      val o1 = Observation()
      ctx.span("operators.kv_checksum", attrs :+ ("stage" -> 3): _*) {
        Common.noop(observed(o1)); o1.get
      }
      val o2 = Observation()
      val written = ctx.span("sinks.parquet_write", attrs :+ ("stage" -> 4): _*) {
        val w = sink.writeChunkStaged(observed(o2), t.db, t.table, "perfbench")
        o2.get
        w
      }
      val m = o2.get
      def metric(k: String): Long = m.get(k).map {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
        case _ => 0L
      }.getOrElse(0L)
      ctx.span("sinks.commit_log", attrs: _*) {
        log.writeChunk(ChunkState(t.db, t.table, files.head.path + "+" +
          files.size, "perfbench", metric("rows"), metric("data_checksum"),
          metric("data_bytes"), metric("data_kvs"), written))
        log.write(TableState(t.db, t.table, "imported", metric("rows"),
          metric("data_checksum"), metric("data_bytes"), metric("data_kvs"),
          "perfbench", 0L))
      }
    }
  }
}
