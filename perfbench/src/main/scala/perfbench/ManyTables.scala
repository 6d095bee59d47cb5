package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.KvEncode
import graft.pipeline.{ImportConfig, ImportPipeline, TableReport}
import graft.sinks.{CommitLog, TableState}
import graft.sources.{MydumpDiscovery, MysqlDdl, TableFilter}

/** `many_tables` — why it exists: the reference's thousands-of-small-
  * tables regime, the "bypass" twin of `bulk_import`. A dump of 232 tiny
  * tables (20–400 rows each) cut from `customer`/`supplier`/`part`
  * shapes, half as SQL and half as CSV, imported by one
  * `ImportPipeline.run` with the default config (checkpoints on). Three
  * shared schemas send most tables down the same-schema batch path
  * (`planBatches`/`restoreBatch`); four tables with a schema of their own
  * take the single-table path.
  *
  * Stresses: discovery, DDL parse, Catalyst analysis, job launch and
  * commit-log writes — per-table driver cost. Bypasses: the parse and
  * cast kernels do almost nothing; no lake or curation code runs.
  *
  * Checks: per table, row count and content fingerprint equal the
  * generated source, and the TableReport checksum triple equals
  * `KvEncode.checksumReport` re-run over the written parquet. */
object ManyTables extends Workload {
  val name = "many_tables"
  val Db = "many"
  private val MaxRows = 400

  /** One schema shared by `tables` tables named `prefix_NNN`. */
  final case class Group(prefix: String, tables: Int, ddl: String => String,
      cols: (Long, Column) => Seq[Column]) {
    def tableName(i: Int): String = f"${prefix}_$i%03d"
    def names: Seq[String] = (0 until tables).map(tableName)
  }

  private def customerCols(seed: Long, id: Column): Seq[Column] = {
    import Common._
    Seq((id + 1).as("c_custkey"),
      concat(lit("Customer#"), format_string("%09d", id + 1)).as("c_name"),
      phrase(seed, 41, id, 1, 4).as("c_address"),
      rnd(seed, 42, id, 25).cast("int").as("c_nationkey"),
      format_string("%02d-%03d-%03d-%04d", rnd(seed, 43, id, 90) + 10,
        rnd(seed, 44, id, 900) + 100, rnd(seed, 45, id, 900) + 100,
        rnd(seed, 46, id, 9000) + 1000).as("c_phone"),
      (decimal(seed, 47, id, 1100000) - 999.99).cast("decimal(15,2)").as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "MACHINERY", "HOUSEHOLD").map(lit): _*),
        (rnd(seed, 48, id, 5) + 1).cast("int")).as("c_mktsegment"),
      when(rnd(seed, 49, id, 10) === 0, lit(null).cast("string"))
        .otherwise(phrase(seed, 50, id, 3, 10)).as("c_comment"))
  }

  private def customerDdl(extra: String)(t: String): String =
    s"""CREATE TABLE `$t` (
       |  `c_custkey` bigint(20) NOT NULL,
       |  `c_name` varchar(25) NOT NULL,
       |  `c_address` varchar(40) NOT NULL,
       |  `c_nationkey` int(11) NOT NULL,
       |  `c_phone` char(15) NOT NULL,
       |  `c_acctbal` decimal(15,2) NOT NULL,
       |  `c_mktsegment` char(10) NOT NULL,
       |  `c_comment` varchar(117) DEFAULT NULL,$extra
       |  PRIMARY KEY (`c_custkey`)
       |)""".stripMargin

  val Groups: Seq[Group] = Seq(
    Group("cust", 96, customerDdl(""), (seed, id) => customerCols(seed, id)),
    Group("supp", 64, t =>
      s"""CREATE TABLE `$t` (
         |  `s_suppkey` bigint(20) NOT NULL,
         |  `s_name` char(25) NOT NULL,
         |  `s_address` varchar(40) NOT NULL,
         |  `s_nationkey` int(11) NOT NULL,
         |  `s_acctbal` decimal(15,2) NOT NULL,
         |  `s_comment` varchar(101) DEFAULT NULL,
         |  PRIMARY KEY (`s_suppkey`)
         |)""".stripMargin,
      (seed, id) => {
        import Common._
        Seq((id + 1).as("s_suppkey"),
          concat(lit("Supplier#"), format_string("%09d", id + 1)).as("s_name"),
          phrase(seed, 51, id, 1, 4).as("s_address"),
          rnd(seed, 52, id, 25).cast("int").as("s_nationkey"),
          decimal(seed, 53, id, 1000000).as("s_acctbal"),
          when(rnd(seed, 54, id, 10) === 0, lit(null).cast("string"))
            .otherwise(phrase(seed, 55, id, 3, 9)).as("s_comment"))
      }),
    Group("part", 64, t =>
      s"""CREATE TABLE `$t` (
         |  `p_partkey` bigint(20) NOT NULL,
         |  `p_name` varchar(55) NOT NULL,
         |  `p_mfgr` char(25) NOT NULL,
         |  `p_brand` char(10) NOT NULL,
         |  `p_size` int(11) NOT NULL,
         |  `p_retailprice` decimal(15,2) NOT NULL,
         |  `p_available` date NOT NULL,
         |  PRIMARY KEY (`p_partkey`)
         |)""".stripMargin,
      (seed, id) => {
        import Common._
        Seq((id + 1).as("p_partkey"),
          phrase(seed, 61, id, 2, 5).as("p_name"),
          concat(lit("Manufacturer#"), rnd(seed, 62, id, 5) + 1).as("p_mfgr"),
          concat(lit("Brand#"), rnd(seed, 63, id, 55) + 11).as("p_brand"),
          (rnd(seed, 64, id, 50) + 1).cast("int").as("p_size"),
          decimal(seed, 65, id, 200000).as("p_retailprice"),
          date(seed, 66, id, 2000).as("p_available"))
      })) ++
    // a schema of its own each: these tables take the single-table path
    (0 until 4).map(i => Group(s"odd$i", 1,
      customerDdl(s"\n  `x$i` int(11) NOT NULL,"),
      (seed, id) => customerCols(seed, id) :+
        Common.rnd(seed, 70 + i, id, 1000).cast("int").as(s"x$i")))

  /** A group's generated rows: table i is partition i, with 20..400 rows
    * chosen by the seed; `_tbl` is the table's index in the group and
    * `_pos` the row's index in its file. */
  def rows(ctx: Ctx, g: Group): DataFrame = {
    val id = col("id")
    val tbl = (id / MaxRows).cast("long")
    val n = Common.rnd(ctx.seed, 90, tbl + lit(g.prefix.hashCode.toLong),
      MaxRows - 19) + 20
    val table = MysqlDdl.parseCreateTable(g.ddl(g.tableName(0)))
    ctx.spark.range(0, g.tables.toLong * MaxRows, 1, g.tables)
      .select(id, tbl.as("_tbl"), (id % MaxRows).as("_pos"), n.as("_n"))
      .filter(col("_pos") < col("_n"))
      .select(g.cols(ctx.seed, id) ++
        Seq(col("_tbl"), col("_pos"), col("_n")): _*)
      .select(table.columns.map(c => col(c.name).cast(c.sparkType).as(c.name)) ++
        Seq(col("_tbl"), col("_pos"), col("_n")): _*)
  }

  /** Even-numbered tables are SQL dumps, odd-numbered ones CSV. */
  private def isSql(g: Group, i: Int): Boolean = (i + g.prefix.length) % 2 == 0

  def setup(ctx: Ctx): Unit = {
    val dump = new File(ctx.dir, "dump")
    dump.mkdirs()
    Files.writeString(new File(dump, s"$Db-schema-create.sql").toPath,
      s"CREATE DATABASE `$Db`;\n")
    Groups.foreach { g =>
      g.names.foreach(t => Files.writeString(
        new File(dump, s"$Db.$t-schema.sql").toPath, g.ddl(t) + ";\n"))
      val schema = MysqlDdl.parseCreateTable(g.ddl(g.tableName(0))).schema
      val sqlTbl = (col("_tbl") + g.prefix.length) % 2 === 0
      val nameOf = element_at(array(g.names.map(lit): _*),
        (col("_tbl") + 1).cast("int"))
      val line = when(sqlTbl, Common.insertLine(nameOf, schema, col("_pos"),
        col("_n"), 100)).otherwise(Common.csvLine(schema))
      Common.writeFiles(rows(ctx, g).select(line), new File(ctx.dir, "tmp"),
        dump, i => s"$Db.${g.tableName(i)}.000." +
          (if (isSql(g, i)) "sql" else "csv"))
    }
  }

  def pass(ctx: Ctx): PassOut = {
    val cfg = ImportConfig(sourceDir = ctx.path("dump"), outDir = ctx.path("out"))
    val (reports, ms) = Common.timedMs(ctx.span("pipeline.run") {
      new ImportPipeline(ctx.spark, cfg).run()
    })
    BulkImport.importOut(ctx, reports, ms).copy(items = reports.size.toLong)
  }

  def check(ctx: Ctx, out: PassOut): Seq[String] = {
    val spark = ctx.spark
    val reports = out.payload.asInstanceOf[Seq[TableReport]]
      .map(r => r.table -> r).toMap
    val missing = Groups.flatMap(_.names).filterNot(reports.contains)
      .map(t => s"$t: no TableReport")
    missing ++ reports.values.flatMap(r => r.error.map(e => s"${r.table}: $e")) ++
      Groups.flatMap { g =>
        val table = MysqlDdl.parseCreateTable(g.ddl(g.tableName(0)))
        val cols = table.columns.map(_.name)
        val names = g.names
        val got = spark.read.parquet(names.map(t => ctx.path(s"out/$Db/$t")): _*)
          .withColumn("_t", regexp_extract(col("_metadata.file_path"),
            s"/$Db/([^/]+)/[^/]+$$", 1))
        val nameOf = element_at(array(names.map(lit): _*),
          (col("_tbl") + 1).cast("int"))
        val want = Common.fingerprint(rows(ctx, g), cols, nameOf)
        val have = Common.fingerprint(got, cols, col("_t"))
        val content = names.filterNot(t => want.get(t) == have.get(t))
          .map(t => s"$t: imported content differs from the source")
        val checksums = names.flatMap(t => reports.get(t).flatMap { r =>
          val triple = (r.dataChecksum, r.dataBytes, r.dataKvs)
          val rescan = KvEncode.checksumReport(
              spark.read.parquet(ctx.path(s"out/$Db/$t")), table,
              ImportPipeline.tableId(Db, t), "_row_id")
            .filter(col("kv_class") === "data").collect()
            .map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).headOption
          if (rescan.contains(triple)) None
          else Some(s"$t: report checksum $triple != re-scan $rescan")
        })
        content ++ checksums
      }
  }

  /** After a traced pass: discovery, DDL parse and the commit-log traffic
    * of the same tables, each called directly in its own span. */
  override def layers(ctx: Ctx, out: PassOut): Map[String, Any] = {
    val conf = Common.hconf(ctx.spark)
    val plan = ctx.span("sources.discover") {
      MydumpDiscovery.plan(ctx.path("dump"), TableFilter(), Nil, conf)
    }
    ctx.span("sources.ddl") {
      plan.tables.foreach(t => MysqlDdl.parseCreateTable(
        Files.readString(new File(t.schemaFile.get).toPath)))
    }
    val log = new CommitLog(ctx.path("stage_out"), conf)
    ctx.span("sinks.commit_log") {
      plan.tables.foreach { t =>
        log.writeIfAbsent(TableState(t.db, t.table, "loaded", 0, 0, 0, 0,
          "perfbench", 0L))
        log.write(TableState(t.db, t.table, "imported", 1, 1, 1, 1,
          "perfbench", 0L))
      }
    }
    Map.empty
  }
}
