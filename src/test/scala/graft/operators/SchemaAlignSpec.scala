package graft.operators

import graft.SparkSpec
import graft.sources.MysqlDdl

class SchemaAlignSpec extends SparkSpec {

  val table = MysqlDdl.parseCreateTable(
    """CREATE TABLE `t` (
      |  `a` tinyint(4) NOT NULL,
      |  `b` int(11) DEFAULT '7',
      |  `s` varchar(10) NOT NULL DEFAULT 'dflt',
      |  `d` decimal(6,2) DEFAULT NULL
      |)""".stripMargin)

  import org.apache.spark.sql.functions._

  private def one(vals: (String, String, String, String), mode: SqlMode) = {
    import spark.implicits._
    val df = Seq(vals).toDF("a", "b", "s", "d")
    SchemaAlign.fromColumns(df, Seq("a", "b", "s", "d"), table, mode).collect()(0)
  }

  test("lenient: overflow clamps (128 → tinyint 127), matching sqlmode=off") {
    val r = one(("128", "3000000000", "ok", "1.5"), SqlMode.Lenient)
    assert(r.getByte(0) === 127.toByte)
    assert(r.getInt(1) === Int.MaxValue)
  }

  test("lenient: fractional rounds, garbage truncates to numeric prefix / 0") {
    assert(one(("1.6", "12abc", "x", "2"), SqlMode.Lenient).getByte(0) === 2.toByte)
    assert(one(("junk", "abc", "x", "2"), SqlMode.Lenient).getByte(0) === 0.toByte)
    assert(one(("-129.7", "0", "x", "2"), SqlMode.Lenient).getByte(0) === -128.toByte)
  }

  test("strict: bad value raises") {
    val e = intercept[Throwable] {
      one(("junk", "1", "x", "2"), SqlMode.Strict)
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("CAST_INVALID_INPUT"))))
  }

  test("missing columns take defaults; extra file columns dropped") {
    import spark.implicits._
    val df = Seq(("5", "zz")).toDF("a", "extra")
    val out = SchemaAlign.fromColumns(df, Seq("a", "extra"), table, SqlMode.Lenient)
    val r = out.collect()(0)
    assert(out.columns.toSeq === Seq("a", "b", "s", "d"))
    assert(r.getInt(1) === 7)       // default '7'
    assert(r.getString(2) === "dflt")
    assert(r.isNullAt(3))
  }

  test("array (sql-dump) path with statement column permutation") {
    import spark.implicits._
    val df = Seq(Seq("9", "5")).toDF("vals")
    val out = SchemaAlign.fromArray(df, col("vals"), Some(Seq("b", "a")),
      table, SqlMode.Lenient)
    val r = out.collect()(0)
    assert(r.getByte(0) === 5.toByte) // a came second
    assert(r.getInt(1) === 9)         // b came first
  }

  private val binTable = MysqlDdl.parseCreateTable(
    """CREATE TABLE `bt` (
      |  `raw` varbinary(16) DEFAULT NULL,
      |  `txt` varchar(16) DEFAULT NULL,
      |  `n` int(11) DEFAULT NULL,
      |  `bits` bigint(20) DEFAULT NULL
      |)""".stripMargin)

  test("hex/bit literal kinds decode to bytes / numeric values") {
    import spark.implicits._
    import graft.sources.SqlDumpSource.Kind
    // 0x4142='AB', odd-length 0xABC → 0x0ABC, 0x10=16 numeric, b'101'=5
    val df = Seq(
      (Seq("4142", "414243", "10", "101"),
        Seq(Kind.Hex, Kind.Hex, Kind.Hex, Kind.Bit)),
      (Seq("abc", "4f4b", "7", "0"),
        Seq(Kind.Hex, Kind.Hex, Kind.Number, Kind.Bit)))
      .toDF("vals", "kinds")
    val out = SchemaAlign.fromArray(df, col("vals"), None, binTable,
      SqlMode.Lenient, kindsCol = Some(col("kinds"))).collect()
    assert(out(0).getAs[Array[Byte]](0).toSeq === Seq[Byte](0x41, 0x42))
    assert(out(0).getString(1) === "ABC")
    assert(out(0).getInt(2) === 16)
    assert(out(0).getLong(3) === 5L)
    assert(out(1).getAs[Array[Byte]](0).toSeq === Seq[Byte](0x0a, 0xbc.toByte))
    assert(out(1).getString(1) === "OK")
    assert(out(1).getInt(2) === 7)   // plain number untouched by kinds
    assert(out(1).getLong(3) === 0L)
  }

  test("per-statement alignment: mixed column lists in one frame") {
    import spark.implicits._
    // row 1: permuted explicit list (b,a); row 2: no list (table order);
    // row 3: partial list (a only) → b/s take defaults, d → null
    val df = Seq(
      (Seq("9", "5"), Some(Seq("b", "a"))),
      (Seq("1", "2", "xx", "3.50"), None),
      (Seq("4"), Some(Seq("a"))))
      .toDF("vals", "stmt_cols")
    val out = SchemaAlign.fromArrayPerStatement(df, col("vals"),
      col("stmt_cols"), table, SqlMode.Lenient).collect()
    assert(out(0).getByte(0) === 5.toByte && out(0).getInt(1) === 9)
    assert(out(1).getByte(0) === 1.toByte && out(1).getInt(1) === 2 &&
      out(1).getString(2) === "xx" &&
      out(1).getDecimal(3) === new java.math.BigDecimal("3.50"))
    assert(out(2).getByte(0) === 4.toByte && out(2).getInt(1) === 7 &&
      out(2).getString(2) === "dflt" && out(2).isNullAt(3))

    // with kinds: hex/bit values follow their column through permuted and
    // partial lists, and a permuted list naming `_tidb_rowid` routes its
    // value to the explicit row id
    import graft.sources.SqlDumpSource.Kind
    val kdf = Seq(
      (Seq("101", "10", "4f4b", "abc"), Some(Seq("bits", "n", "txt", "raw")),
        Seq(Kind.Bit, Kind.Hex, Kind.Hex, Kind.Hex)),
      (Seq("414243", "11"), Some(Seq("txt", "bits")), Seq(Kind.Hex, Kind.Bit)),
      (Seq("7", "42", "4142"), Some(Seq("n", "_tidb_rowid", "raw")),
        Seq(Kind.Number, Kind.Number, Kind.Hex)),
      (Seq("4142", "4f4b", "10", "1"), None,
        Seq(Kind.Hex, Kind.Hex, Kind.Hex, Kind.Bit)),
      (Seq("x", "y", "3", "4"), Some(Seq("RAW", "Txt", "n", "bits")),
        Seq(Kind.Str, Kind.Str, Kind.Number, Kind.Number)),
      (Seq("1000001", "101"), Some(Seq("txt", "raw")), Seq(Kind.Bit, Kind.Bit)))
      .toDF("vals", "stmt_cols", "kinds")
    val k = SchemaAlign.fromArrayPerStatement(kdf, col("vals"),
      col("stmt_cols"), binTable, SqlMode.Lenient,
      keep = Seq(col("vals").getItem(0).as("first")),
      kindsCol = Some(col("kinds")), emitExplicitRowId = true)
    assert(k.columns.toSeq === Seq("first", "raw", "txt", "n", "bits",
      "_explicit_rowid"))
    def bytes(r: org.apache.spark.sql.Row) = r.getAs[Array[Byte]](1).toSeq
    val ko = k.collect()
    // permuted: b'101' = 5, 0x10 = 16, 0x4f4b = 'OK', odd 0xabc = 0x0abc
    assert(bytes(ko(0)) === Seq[Byte](0x0a, 0xbc.toByte) &&
      ko(0).getString(2) === "OK" && ko(0).getInt(3) === 16 &&
      ko(0).getLong(4) === 5L && ko(0).isNullAt(5))
    // partial: absent columns take their NULL defaults
    assert(ko(1).isNullAt(1) && ko(1).getString(2) === "ABC" &&
      ko(1).isNullAt(3) && ko(1).getLong(4) === 3L && ko(1).isNullAt(5))
    // permuted with `_tidb_rowid`: not a table column, only the row id
    assert(bytes(ko(2)) === Seq[Byte](0x41, 0x42) && ko(2).isNullAt(2) &&
      ko(2).getInt(3) === 7 && ko(2).isNullAt(4) && ko(2).getLong(5) === 42L)
    // no list: positional
    assert(bytes(ko(3)) === Seq[Byte](0x41, 0x42) &&
      ko(3).getString(2) === "OK" && ko(3).getInt(3) === 16 &&
      ko(3).getLong(4) === 1L && ko(3).isNullAt(5))
    // table order in another case: positional, plain values
    assert(bytes(ko(4)) === Seq[Byte]('x'.toByte) &&
      ko(4).getString(2) === "y" && ko(4).getInt(3) === 3 &&
      ko(4).getLong(4) === 4L && ko(4).isNullAt(5))
    // bit literals into string/binary columns: b'1000001' = 'A', b'101' = 0x05
    assert(bytes(ko(5)) === Seq[Byte](5) && ko(5).getString(2) === "A" &&
      ko(5).isNullAt(3) && ko(5).isNullAt(4))
    assert(ko.map(_.getString(0)).toSeq ===
      Seq("101", "414243", "7", "4142", "x", "1000001"))
    // an input column named like an internal probe attribute is kept as is
    val clash = SchemaAlign.fromArrayPerStatement(
      kdf.withColumn("_align_v0", lit("mine")), col("vals"), col("stmt_cols"),
      binTable, SqlMode.Lenient, keep = Seq(col("_align_v0")),
      kindsCol = Some(col("kinds"))).collect()
    assert(clash.map(_.getString(0)).distinct.toSeq === Seq("mine"))
    assert(clash.map(_.getString(2)).toSeq ===
      ko.map(_.getString(2)).toSeq)
  }

  test("lenient: >28-digit numeric prefix clamps instead of ANSI-raising") {
    val r = one(("9" * 40, "1", "x", "2"), SqlMode.Lenient)
    assert(r.getByte(0) === 127.toByte) // clamped to tinyint max
    val neg = one(("-" + "9" * 40, "1", "x", "2"), SqlMode.Lenient)
    assert(neg.getByte(0) === -128.toByte)
  }

  test("enum/set domain checks per SQL_MODE") {
    import spark.implicits._
    val t = MysqlDdl.parseCreateTable(
      """CREATE TABLE `e` (
        |  `seg` enum('A','B') DEFAULT NULL,
        |  `tags` set('x','y') DEFAULT NULL
        |)""".stripMargin)
    assert(t.column("seg").get.enumValues === Some(Seq("A", "B")))
    assert(t.column("tags").get.enumValues === Some(Seq("x", "y")))
    def run(seg: String, tags: String, mode: SqlMode) =
      SchemaAlign.fromColumns(Seq((seg, tags)).toDF("seg", "tags"),
        Seq("seg", "tags"), t, mode).collect()(0)
    val ok = run("A", "x,y", SqlMode.Lenient)
    assert(ok.getString(0) === "A" && ok.getString(1) === "x,y")
    val bad = run("C", "x,z", SqlMode.Lenient)
    assert(bad.getString(0) === "") // invalid enum → '' (MySQL non-strict)
    assert(bad.getString(1) === "x") // invalid set member dropped
    val e1 = intercept[Throwable] { run("C", "x", SqlMode.Strict) }
    assert(e1.toString.contains("ENUM") || Option(e1.getCause).exists(_.getMessage.contains("ENUM")) ||
      e1.getMessage.contains("ENUM"))
    val e2 = intercept[Throwable] { run("A", "x,z", SqlMode.Strict) }
    assert(e2.toString.contains("SET") || Option(e2.getCause).exists(_.getMessage.contains("SET")) ||
      e2.getMessage.contains("SET"))
    // MySQL matches enum/set members case-insensitively and stores the
    // DECLARED case; SET output is deduped + definition-ordered
    val ci = run("a", "Y,X,y", SqlMode.Lenient)
    assert(ci.getString(0) === "A") // declared case restored
    assert(ci.getString(1) === "x,y") // lowered input, deduped, decl order
    val ciStrict = run("b", "Y,x", SqlMode.Strict)
    assert(ciStrict.getString(0) === "B" && ciStrict.getString(1) === "x,y")
    // numeric forms (reference tests/various_types): enum 1-based index,
    // set u64 bitmask; index 0 is MySQL's invalid placeholder — '' in
    // lenient, raise in strict, never an element_at crash
    val num = run("2", "3", SqlMode.Lenient)
    assert(num.getString(0) === "B")
    assert(num.getString(1) === "x,y") // bits 0+1
    val zero = run("0", "0", SqlMode.Lenient)
    assert(zero.getString(0) === "")
    assert(zero.getString(1) === "")
    val e3 = intercept[Throwable] { run("0", "1", SqlMode.Strict) }
    assert(e3.toString.contains("ENUM") || e3.getMessage.contains("ENUM"))
    val e4 = intercept[Throwable] { run("1", "4", SqlMode.Strict) } // bit 2 > 2 members
    assert(e4.toString.contains("SET") || e4.getMessage.contains("SET"))
  }

  test("escaped DEFAULT literals fill unescaped values") {
    import spark.implicits._
    val t = MysqlDdl.parseCreateTable(
      """CREATE TABLE d (
        |  `id` int NOT NULL,
        |  `c1` varchar(20) NOT NULL DEFAULT 'it\'s )',
        |  `c2` varchar(20) NOT NULL DEFAULT 'a''b\\c'
        |)""".stripMargin)
    // rows carry only `id`: both defaults fill, backslash/doubled-quote
    // escapes resolved to the characters MySQL stores
    val row = SchemaAlign.fromColumns(Seq(Tuple1("7")).toDF("id"),
      Seq("id"), t, SqlMode.Lenient).collect()(0)
    assert(row.getString(1) === "it's )")
    assert(row.getString(2) === "a'b\\c")
  }

  test("without kinds a hex value stays the raw digit text (legacy path)") {
    import spark.implicits._
    val binTable = MysqlDdl.parseCreateTable(
      "CREATE TABLE `b2` (`txt` varchar(8) DEFAULT NULL)")
    val df = Seq(Seq("4142")).toDF("vals")
    val out = SchemaAlign.fromArray(df, col("vals"), None, binTable,
      SqlMode.Lenient).collect()
    assert(out(0).getString(0) === "4142")
  }

  test("TIMESTAMP(6) fractional tail of the 2038 epochalypse second stores") {
    import spark.implicits._
    val tsTable = MysqlDdl.parseCreateTable(
      "CREATE TABLE `ts6` (`t` timestamp(6) NULL DEFAULT NULL)")
    // MySQL accepts fractional TIMESTAMP values through
    // '2038-01-19 03:14:07.999999'; strict mode must not raise on them
    val ok = Seq(Seq("2038-01-19 03:14:07.499999")).toDF("vals")
    val r = SchemaAlign.fromArray(ok, col("vals"), Some(Seq("t")), tsTable,
      SqlMode.Strict).collect()
    assert(!r(0).isNullAt(0))
    // one microsecond past the bound still rejects (lenient → zero value)
    val over = Seq(Seq("2038-01-19 03:14:08.000001")).toDF("vals")
    val z = SchemaAlign.fromArray(over, col("vals"), Some(Seq("t")), tsTable,
      SqlMode.Lenient).collect()
    assert(z(0).isNullAt(0) || z(0).getTimestamp(0).toString.startsWith("1970"))
  }
}
