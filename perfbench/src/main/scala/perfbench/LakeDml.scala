package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Export

/** `lake_dml` — why it exists: the lake's manifest/commit layer and the
  * per-statement driver cost, with reads and writes in one stream. Two
  * lake tables in a `GraftLakeCatalog` warehouse, one copy-on-write and
  * one merge-on-read (`graft.delete.mode`/`graft.update.mode` = `mor`),
  * are seeded from `orders`-shaped rows by small appends, so the head
  * carries hundreds of files. Then one client
  * runs a seeded closed-loop stream of SQL statements (each waits for the
  * previous one): small INSERT, UPDATE, DELETE, MERGE upsert, point and
  * aggregate SELECTs and `VERSION AS OF` reads, ending with OPTIMIZE and
  * VACUUM. A commit speed-up that slows reads (or the reverse) shows here.
  *
  * Stresses: plans (SQL rewrites), operators.Export (manifest reads and
  * commits), GraftLakeCatalog. Bypasses: the import pipeline, dump
  * parsers and curation kernels.
  *
  * Checks: every read's result and the final head of both tables equal a
  * replay of the same statements on plain DataFrames, with no lake code. */
object LakeDml extends Workload {
  val Catalog = "perflake"
  val name = "lake_dml"
  private val BaseRows = 6000L
  private val SeedInserts = 1
  private val FilesPerInsert = 60
  private val Kinds = Seq("insert", "update", "delete", "merge",
    "select_point", "select_agg", "time_travel")
  private val CowKinds = Set("update", "delete", "merge", "select_point")
  private val Tables = Seq("cow", "mor")
  private val Cols = Seq("o_orderkey", "o_custkey", "o_status",
    "o_totalprice", "o_orderdate", "o_comment")

  /** The seeded row of base id `id`, as SQL over a `range` column. */
  private def baseExprs(seed: Long): Seq[String] = Seq(
    "id + 1 AS o_orderkey",
    s"pmod(xxhash64($seed, 31, id), 15000) + 1 AS o_custkey",
    s"element_at(array('F', 'O', 'P'), CAST(pmod(xxhash64($seed, 32, id), 3) + 1 AS INT)) AS o_status",
    s"CAST(pmod(xxhash64($seed, 33, id), 5000000) / 100 AS DECIMAL(15,2)) AS o_totalprice",
    s"date_add(DATE'1992-01-01', CAST(pmod(xxhash64($seed, 34, id), 2400) AS INT)) AS o_orderdate",
    s"concat('c', CAST(pmod(xxhash64($seed, 35, id), 100000) AS STRING)) AS o_comment")

  private val RowHash = "CAST(xxhash64(o_orderkey, o_custkey, o_status, " +
    "o_totalprice, o_orderdate, o_comment) AS DECIMAL(38,0))"

  /** One statement of the stream. `sql` names its table `{T}`; `replay`
    * applies a write to the expected state; `read` computes a read's
    * expected result from it. */
  sealed trait Op { def kind: String; def table: String; def sql: String }
  final case class Write(kind: String, table: String, sql: String,
      replay: DataFrame => DataFrame) extends Op
  final case class Read(kind: String, table: String, sql: String,
      expect: DataFrame => DataFrame) extends Op
  /** A `VERSION AS OF` read of the version the table had after its
    * `writes`-th write of the stream (0 = the seeded head). */
  final case class TimeTravel(table: String, writes: Int) extends Op {
    val kind = "time_travel"
    def sql: String = s"SELECT count(*) AS n, sum($RowHash) AS h " +
      "FROM {T} VERSION AS OF {V}"
  }

  private def values(rows: Seq[Seq[String]]): String =
    rows.map(_.mkString("(", ", ", ")")).mkString(", ")

  // `BETWEEN` in a merge-on-read UPDATE throws UnresolvedException inside
  // Export.updateWhereMoR, so the stream spells ranges out
  private def range(lo: Long, hi: Long): String =
    s"o_orderkey >= $lo AND o_orderkey <= $hi"

  private def dec(cents: Long): String =
    s"CAST(${cents / 100}.${f"${cents % 100}%02d"} AS DECIMAL(15,2))"

  private var streams = Map.empty[Long, Seq[Op]]

  /** The seeded statement stream, the same on every pass of a run; built
    * once per seed, in set-up. Each MERGE reads its source rows from a
    * temp view defined here. */
  def stream(spark: SparkSession, seed: Long): Seq[Op] =
    streams.getOrElse(seed, {
      val s = buildStream(spark, seed)
      streams += seed -> s
      s
    })

  private def buildStream(spark: SparkSession, seed: Long): Seq[Op] = {
    val r = new java.util.SplittableRandom(seed)
    var nextKey = 10000000L
    val writes = mutable.Map(Tables.map(_ -> 0): _*)
    // which rows a statement touches is fixed; the seed picks the values
    // (base rows, inserted and merged values): seeds vary content, not
    // the amount of work
    var touched = 0
    def key(): Long = { touched += 1; 1 + (touched * 2749L) % BaseRows }
    // each kind once on the merge-on-read table, in a fixed order; the
    // copy-on-write table gets the kinds whose work differs by mode
    // (rewrites and the reads they leave behind)
    val slots = for (k <- Kinds; t <- Tables
      if t == "mor" || CowKinds(k)) yield (k, t)
    val body = slots.zipWithIndex.map { case ((kind, t), i) =>
      kind match {
        case "insert" =>
          val rows = (0 until 4).map { _ =>
            nextKey += 1
            Seq(nextKey.toString, (1 + r.nextInt(15000)).toString, "'N'",
              dec(r.nextLong(5000000)), "DATE'1998-08-02'", "'inserted'")
          }
          writes(t) += 1
          val vs = values(rows)
          Write("insert", t, s"INSERT INTO {T} VALUES $vs", st =>
            st.unionByName(spark.sql(s"SELECT * FROM VALUES $vs AS v(" +
              Cols.mkString(", ") + ")")))
        case "update" =>
          val lo = key(); val hi = lo + 20
          writes(t) += 1
          Write("update", t, "UPDATE {T} SET o_totalprice = o_totalprice + " +
            s"1.00, o_status = 'U' WHERE ${range(lo, hi)}", st => {
            val hit = col("o_orderkey") >= lo && col("o_orderkey") <= hi
            st.withColumn("o_totalprice", when(hit, (col("o_totalprice") +
                lit(BigDecimal("1.00"))).cast(DecimalType(15, 2)))
                .otherwise(col("o_totalprice")))
              .withColumn("o_status", when(hit, lit("U"))
                .otherwise(col("o_status")))
              .select(Cols.map(col): _*)
          })
        case "delete" =>
          val lo = key(); val hi = lo + 10
          writes(t) += 1
          Write("delete", t, s"DELETE FROM {T} WHERE ${range(lo, hi)}",
            st => st.filter(col("o_orderkey") < lo || col("o_orderkey") > hi))
        case "merge" =>
          val src = ((0 until 3).map(_ => key()).distinct ++
            (0 until 3).map { _ => nextKey += 1; nextKey })
            .map(k => Seq(k.toString, dec(r.nextLong(5000000))))
          writes(t) += 1
          val view = s"perfbench_merge_src_$i"
          // the key has the target column's type: graft merges on bare
          // column equalities only, not on cast-wrapped ones
          spark.sql(s"CREATE OR REPLACE TEMP VIEW $view AS SELECT " +
            s"CAST(k AS BIGINT) AS k, p FROM VALUES ${values(src)} AS v(k, p)")
          Write("merge", t, s"MERGE INTO {T} t USING $view s " +
            "ON t.o_orderkey = s.k WHEN MATCHED THEN UPDATE SET " +
            "o_totalprice = s.p, o_status = 'M' WHEN NOT MATCHED THEN " +
            "INSERT (o_orderkey, o_custkey, o_status, o_totalprice, " +
            "o_orderdate, o_comment) VALUES (s.k, 0, 'M', s.p, " +
            "DATE'1996-01-01', 'merged')", st => {
            val s = spark.table(view)
            val kept = st.join(s, col("o_orderkey") === col("k"), "left")
              .select(col("o_orderkey"), col("o_custkey"),
                when(col("k").isNotNull, lit("M")).otherwise(col("o_status"))
                  .as("o_status"),
                coalesce(col("p"), col("o_totalprice")).as("o_totalprice"),
                col("o_orderdate"), col("o_comment"))
            val added = s.join(st, col("k") === col("o_orderkey"), "left_anti")
              .select(col("k").as("o_orderkey"), lit(0L).as("o_custkey"),
                lit("M").as("o_status"), col("p").as("o_totalprice"),
                lit(java.sql.Date.valueOf("1996-01-01")).as("o_orderdate"),
                lit("merged").as("o_comment"))
            kept.unionByName(added)
          })
        case "select_point" =>
          val k = key()
          Read("select_point", t, s"SELECT * FROM {T} WHERE o_orderkey = $k",
            st => st.filter(col("o_orderkey") === k))
        case "select_agg" =>
          Read("select_agg", t, "SELECT o_status, count(*) AS n, " +
            "sum(o_totalprice) AS s FROM {T} GROUP BY o_status", st =>
            st.groupBy("o_status").agg(count(lit(1)).as("n"),
              sum("o_totalprice").as("s")))
        case _ =>
          TimeTravel(t, writes(t) / 2)
      }
    }
    body ++ Tables.map(t => Write("optimize", t, "OPTIMIZE {T}", identity)) ++
      Tables.map(t => Write("vacuum", t, "VACUUM {T} RETAIN 0 HOURS", identity))
  }

  /** Expected results: per read statement (by stream index) its rows as
    * sorted strings, plus each table's final content fingerprint. */
  final case class Expected(reads: Map[Int, Seq[String]],
      finals: Map[String, Map[String, Seq[String]]])

  private var expected: Option[(Long, Expected)] = None

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def travelAgg(df: DataFrame): DataFrame =
    df.selectExpr("count(*) AS n", s"sum($RowHash) AS h")

  /** Replays the stream on plain DataFrames; computed once per seed. */
  def expectedFor(spark: SparkSession, seed: Long): Expected =
    expected.collect { case (s, e) if s == seed => e }.getOrElse {
      val base = spark.range(0, BaseRows, 1, 4).selectExpr(baseExprs(seed): _*)
      val state = mutable.Map(Tables.map(_ -> base): _*)
      val history = mutable.Map(Tables.map(_ -> mutable.ArrayBuffer(base)): _*)
      val reads = mutable.Map.empty[Int, Seq[String]]
      stream(spark, seed).zipWithIndex.foreach {
        case (w: Write, _) if w.kind == "optimize" || w.kind == "vacuum" => ()
        case (w: Write, _) =>
          val next = w.replay(state(w.table))
          state(w.table) = next
          history(w.table) += next
        case (rd: Read, i) => reads(i) = rowsOf(rd.expect(state(rd.table)))
        case (tt: TimeTravel, i) =>
          reads(i) = rowsOf(travelAgg(history(tt.table)(tt.writes)))
      }
      val e = Expected(reads.toMap, Tables.map(t =>
        t -> Common.fingerprint(state(t), Cols)).toMap)
      expected = Some(seed -> e)
      e
    }

  private def ns(ctx: Ctx): String = s"p${ctx.pass}"
  private def qualified(ctx: Ctx, t: String): String = s"$Catalog.${ns(ctx)}.$t"
  private def tableDir(ctx: Ctx, t: String): String =
    new File(new File(ctx.dir.getParentFile, "lake"), s"${ns(ctx)}/$t").getAbsolutePath

  /** Creates both tables by name, then seeds each with small appends
    * through `Export.appendSnapshot`, the commit under INSERT: a SQL
    * INSERT lands one file, an append lands one per input partition, so
    * the head reaches hundreds of files in a few commits. */
  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    stream(spark, ctx.seed)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.${ns(ctx)}")
    val colsDdl = "(o_orderkey BIGINT, o_custkey BIGINT, o_status STRING, " +
      "o_totalprice DECIMAL(15,2), o_orderdate DATE, o_comment STRING)"
    spark.sql(s"CREATE TABLE ${qualified(ctx, "cow")} $colsDdl")
    spark.sql(s"CREATE TABLE ${qualified(ctx, "mor")} $colsDdl TBLPROPERTIES " +
      "('graft.delete.mode' = 'mor', 'graft.update.mode' = 'mor')")
    val step = BaseRows / SeedInserts
    for (i <- 0 until SeedInserts; t <- Tables)
      Export.appendSnapshot(spark, spark.range(i * step, (i + 1) * step, 1,
        FilesPerInsert).selectExpr(baseExprs(ctx.seed): _*), tableDir(ctx, t))
  }

  def pass(ctx: Ctx): PassOut = {
    val spark = ctx.spark
    val ops = stream(spark, ctx.seed)
    val dirs = Tables.map(t => t -> tableDir(ctx, t)).toMap
    val inBytes = dirs.values.map(d => Common.duBytes(new File(d))).sum
    val versions = Tables.map(t =>
      t -> mutable.ArrayBuffer(Export.latestSnapshotVersion(dirs(t)))).toMap
    val results = mutable.Map.empty[Int, Seq[String]]
    val layer = mutable.Map.empty[String, Any]
    val lat = ops.zipWithIndex.map { case (op, i) =>
      // traced passes only: the manifest layer before maintenance
      // rewrites it (outside every statement's span)
      if (op.kind == "optimize" && ctx.tracer.nonEmpty && op.table == Tables.head)
        layer ++= headLayer(dirs, versions.map { case (t, vs) => t -> vs.head })
      val sql = op.sql.replace("{T}", qualified(ctx, op.table))
        .replace("{V}", op match {
          case tt: TimeTravel => versions(tt.table)(tt.writes).toString
          case _ => ""
        })
      val (rows, ms) = Common.timedMs(ctx.span(s"lake.${op.kind}") {
        spark.sql(sql).collect()
      })
      op match {
        case _: Read | _: TimeTravel =>
          results(i) = rows.map(_.toSeq.map(String.valueOf).mkString("|"))
            .toSeq.sorted
        case w: Write if w.kind != "optimize" && w.kind != "vacuum" =>
          versions(w.table) += Export.latestSnapshotVersion(dirs(w.table))
        case _ => ()
      }
      op.kind -> ms
    }
    PassOut(items = ops.size, inputBytes = inBytes,
      storedBytes = dirs.values.map(d => Common.duBytes(new File(d))).sum,
      ops = lat, attempted = ops.size, failed = 0,
      extra = layer.toMap,
      payload = results.toMap)
  }

  /** Head file listing cost, files at the head, and manifest bytes per
    * commit since the pass began, summed over both tables. */
  private def headLayer(dirs: Map[String, String],
      v0: Map[String, Int]): Map[String, Any] = {
    val per = Tables.map { t =>
      val v = Export.latestSnapshotVersion(dirs(t))
      val ms = Seq.fill(5)(Common.timedMs(Export.snapshotFiles(dirs(t), v))._2)
      (ms.sorted.apply(2), Export.snapshotFiles(dirs(t), v).size,
        manifestsSince(dirs(t), v0(t)), v - v0(t))
    }
    Map("lake.snapshot_files_ms" -> per.map(_._1).sum / per.size,
      "lake.files_at_head" -> per.map(_._2).sum,
      "lake.manifest_bytes_per_commit" ->
        per.map(_._3).sum.toDouble / math.max(1, per.map(_._4).sum))
  }

  /** Bytes of the manifests committed after version `v0`. */
  private def manifestsSince(dir: String, v0: Int): Long = {
    val M = """_v(\d+)\.manifest""".r
    Option(new File(dir).listFiles()).toSeq.flatten.collect {
      case f if (f.getName match {
        case M(v) => v.toInt > v0
        case _ => false
      }) => f.length()
    }.sum
  }

  def check(ctx: Ctx, out: PassOut): Seq[String] = {
    val spark = ctx.spark
    val e = expectedFor(spark, ctx.seed)
    val got = out.payload.asInstanceOf[Map[Int, Seq[String]]]
    val ops = stream(spark, ctx.seed)
    val reads = e.reads.toSeq.sortBy(_._1).collect {
      case (i, want) if !got.get(i).contains(want) =>
        s"statement $i (${ops(i).kind} on ${ops(i).table}): got " +
          s"${got.get(i).map(_.take(3))}, replay says ${want.take(3)}"
    }
    val finals = Tables.flatMap { t =>
      val head = Common.fingerprint(spark.table(qualified(ctx, t)), Cols)
      if (head == e.finals(t)) None
      else Some(s"$t: final head differs from the replay")
    }
    reads ++ finals
  }

  /** After a traced pass: SQL parse time of the stream and the bytes kept
    * per input byte; the pass itself recorded the manifest layer. */
  override def layers(ctx: Ctx, out: PassOut): Map[String, Any] = {
    val spark = ctx.spark
    val parser = spark.sessionState.sqlParser
    val sqls = stream(spark, ctx.seed).map(_.sql
      .replace("{T}", qualified(ctx, "cow")).replace("{V}", "1"))
    val parseMs = sqls.map { s =>
      Seq.fill(3)(Common.timedMs(parser.parsePlan(s))._2).sorted.apply(1)
    }
    Map("plans.parse_ms" -> parseMs.sorted.apply(parseMs.size / 2),
      "lake.stored_bytes_per_input_byte" ->
        out.storedBytes.toDouble / math.max(1L, out.inputBytes))
  }
}
