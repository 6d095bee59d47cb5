package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row

class SqlDumpSourceSpec extends SparkSpec {

  // parseString rows are schemaless GenericRows — positional access:
  // 0=src_file 1=row_idx 2=stmt_cols 3=vals 4=kinds
  private def rows(sql: String): List[Row] =
    SqlDumpSource.parseString(sql).toList
  private def vals(r: Row): Seq[String] = r.getAs[Seq[String]](3)
  private def kinds(r: Row): Seq[Int] = r.getAs[Seq[Int]](4)

  test("multi-row insert with column list") {
    val rs = rows("INSERT INTO `t` (`a`,`b`) VALUES (1,'x'),(2,'y');")
    assert(rs.size === 2)
    assert(rs.head.getAs[Seq[String]](2) === Seq("a", "b"))
    assert(vals(rs.head) === Seq("1", "x"))
    assert(vals(rs(1)) === Seq("2", "y"))
  }

  test("escapes, doubled quotes, NULL, negative + scientific numbers") {
    val rs = rows(
      """INSERT INTO t VALUES ('it''s','a\tb','c\\d',NULL,-1.5,2.5e2,TRUE);""")
    assert(vals(rs.head) === Seq("it's", "a\tb", "c\\d", null, "-1.5", "2.5e2", "1"))
    assert(kinds(rs.head) === Seq(SqlDumpSource.Kind.Str, SqlDumpSource.Kind.Str,
      SqlDumpSource.Kind.Str, SqlDumpSource.Kind.Null,
      SqlDumpSource.Kind.Number, SqlDumpSource.Kind.Number,
      SqlDumpSource.Kind.Bool))
  }

  test("hex and bit literals") {
    val rs = rows("INSERT INTO t VALUES (0x414243,0b101,x'4f4b');")
    assert(vals(rs.head) === Seq("414243", "101", "4f4b"))
    assert(kinds(rs.head) === Seq(SqlDumpSource.Kind.Hex, SqlDumpSource.Kind.Bit,
      SqlDumpSource.Kind.Hex))
  }

  test("b'0101' bit-string form is one value, no row misalignment") {
    val rs = rows("INSERT INTO t VALUES (1,b'0101',2),(3,B'11',4);")
    assert(vals(rs.head) === Seq("1", "0101", "2"))
    assert(kinds(rs.head)(1) === SqlDumpSource.Kind.Bit)
    assert(vals(rs(1)) === Seq("3", "11", "4"))
    assert(kinds(rs(1))(1) === SqlDumpSource.Kind.Bit)
    // a bare word starting with b is still a lax word value
    val w = rows("INSERT INTO t VALUES (banana);")
    assert(vals(w.head) === Seq("banana"))
  }

  test("comments and multiple statements; rows numbered per file") {
    val rs = rows(
      """-- comment
        |/* block
        |   comment */
        |INSERT INTO t VALUES (1);
        |INSERT INTO t VALUES (2),(3);
        |""".stripMargin)
    assert(rs.map(_.getAs[Long](1)) === List(0L, 1L, 2L))
    assert(rs.map(r => vals(r).head) === List("1", "2", "3"))
    // second statement has no column list
    assert(rs(1).getAs[Seq[String]](2) === null)
  }

  test("multi-line values and embedded parens/commas in strings") {
    val rs = rows("INSERT INTO t VALUES\n(1, 'a,b)c'),\n(2, 'd(e');")
    assert(rs.map(r => vals(r)(1)) === List("a,b)c", "d(e"))
  }

  test("chunked read: statement-aligned splits, contiguous row indexes") {
    // build a dump with many statements incl. multi-byte chars, split small
    val tmp = java.nio.file.Files.createTempDirectory("sqlchunk").toFile
    val f = new java.io.File(tmp, "d.big.sql")
    val sb = new StringBuilder
    (0 until 200).foreach { i =>
      sb ++= s"INSERT INTO t VALUES ($i,'héllo–$i'),(${i + 1000},'中文$i');\n"
    }
    java.nio.file.Files.writeString(f.toPath, sb.toString)
    val whole = SqlDumpSource.read(spark, Seq(f.getAbsolutePath))
      .collect().map(r => (r.getLong(1), r.getSeq[String](3).toList)).sortBy(_._1)
    val chunked = SqlDumpSource.readChunked(spark, Seq(f.getAbsolutePath),
      minChunkBytes = 1000)
      .collect().map(r => (r.getLong(1), r.getSeq[String](3).toList)).sortBy(_._1)
    assert(chunked.length === 400)
    assert(chunked.toSeq === whole.toSeq)
    // and the plan really did split
    val conf = new org.apache.hadoop.conf.Configuration()
    val chunks = SqlDumpSource.planChunks(f.getAbsolutePath, conf, 1000)
    assert(chunks.size > 3)
    assert(chunks.map(_.baseRow) === chunks.map(_.baseRow).sorted)
  }

  test("all-small chunked read: a slice per core, ~4 tiny files per slice") {
    val tmp = java.nio.file.Files.createTempDirectory("sqlslices").toFile
    def shards(n: Int): Seq[(String, Long)] = (0 until n).map { i =>
      val f = new java.io.File(tmp, f"d.t$n%03d.$i%05d.sql")
      java.nio.file.Files.writeString(f.toPath,
        s"INSERT INTO t VALUES ($i,'x'),(${i + n},'y');\n")
      (f.getAbsolutePath, f.length)
    }
    val cores = spark.sparkContext.defaultParallelism
    // a few files: every core gets a slice (4-per-slice packing alone
    // would leave ceil(6/4) = 2 tasks)
    val few = shards(6)
    val fewDf = SqlDumpSource.readChunkedSized(spark, few)
    val fewParts = fewDf.rdd.getNumPartitions
    assert(fewParts >= math.min(few.size, cores) && fewParts <= few.size,
      s"$fewParts slices for ${few.size} files on $cores cores")
    assert(fewDf.count() === 2 * few.size)
    // far more files than cores: still ~4 files per slice
    val many = shards(math.max(64, 16 * cores))
    val manyDf = SqlDumpSource.readChunkedSized(spark, many)
    assert(manyDf.rdd.getNumPartitions === math.ceil(many.size / 4.0).toInt)
    assert(manyDf.count() === 2 * many.size)
  }

  test("GB18030 dump file with charset=auto decodes Chinese text") {
    val tmp = java.nio.file.Files.createTempDirectory("sqlgbk").toFile
    val f = new java.io.File(tmp, "d.cn.sql")
    val content = "INSERT INTO t VALUES (1,'客户：张三'),(2,'中文测试');\n"
    java.nio.file.Files.write(f.toPath, content.getBytes("GB18030"))
    val got = SqlDumpSource.read(spark, Seq(f.getAbsolutePath), charset = "auto")
      .collect().sortBy(_.getLong(1))
    assert(got.map(_.getSeq[String](3)(1)).toSeq === Seq("客户：张三", "中文测试"))
    // explicit GB18030 gives the same result
    val exp = SqlDumpSource.read(spark, Seq(f.getAbsolutePath), charset = "GB18030")
      .collect().sortBy(_.getLong(1))
    assert(exp.map(_.getSeq[String](3)(1)).toSeq === Seq("客户：张三", "中文测试"))
    // UTF-8 content probes as UTF-8
    assert(SqlDumpSource.detectCharset(content.getBytes("UTF-8")) === "UTF-8")
    assert(SqlDumpSource.detectCharset(content.getBytes("GB18030")) === "GB18030")
  }

  test("binary charset: invalid-UTF-8 bytes round-trip; chunk offsets exact") {
    val tmp = java.nio.file.Files.createTempDirectory("sqlbin").toFile
    val f = new java.io.File(tmp, "d.bin.sql")
    // raw 0xFF 0x80 0xFE bytes inside a string literal (mydumper without
    // --hex-blob); invalid as UTF-8, must survive byte-for-byte
    val bos = new java.io.ByteArrayOutputStream()
    (0 until 50).foreach { i =>
      bos.write(s"INSERT INTO t VALUES ($i,'".getBytes("UTF-8"))
      bos.write(Array[Byte](0xFF.toByte, 0x80.toByte, 0xFE.toByte))
      bos.write(s"$i');\n".getBytes("UTF-8"))
    }
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    val whole = SqlDumpSource.read(spark, Seq(f.getAbsolutePath), charset = "binary")
      .collect().sortBy(_.getLong(1))
    assert(whole.length === 50)
    val v0 = whole(0).getSeq[String](3)(1)
    assert(Seq(v0.charAt(0).toInt, v0.charAt(1).toInt, v0.charAt(2).toInt) ===
      Seq(0xFF, 0x80, 0xFE))
    // chunked parse over the same bytes: identical rows (offset drift from
    // U+FFFD replacement would break this)
    val chunked = SqlDumpSource.readChunked(spark, Seq(f.getAbsolutePath),
      minChunkBytes = 300, charset = "binary")
      .collect().sortBy(_.getLong(1))
    assert(chunked.map(r => (r.getLong(1), r.getSeq[String](3).toList)).toSeq ===
      whole.map(r => (r.getLong(1), r.getSeq[String](3).toList)).toSeq)
  }

  test("DataSource V2: spark.read.format(\"sqldump\") matches readChunked") {
    val tmp = java.nio.file.Files.createTempDirectory("sqldsv2").toFile
    val f = new java.io.File(tmp, "d.v2.sql")
    val sb = new StringBuilder
    (0 until 100).foreach { i =>
      sb ++= s"INSERT INTO t VALUES ($i,'v$i'),(${i + 1000},'中文$i');\n"
    }
    java.nio.file.Files.writeString(f.toPath, sb.toString)
    val viaFormat = spark.read.format("sqldump")
      .option("minChunkBytes", "800")
      .load(f.getAbsolutePath)
    assert(viaFormat.schema === SqlDumpSource.schema)
    assert(viaFormat.rdd.getNumPartitions > 1) // chunk-split partitions
    val got = viaFormat.collect()
      .map(r => (r.getLong(1), r.getSeq[String](3).toList)).sortBy(_._1)
    val exp = SqlDumpSource.readChunked(spark, Seq(f.getAbsolutePath),
      minChunkBytes = 800).collect()
      .map(r => (r.getLong(1), r.getSeq[String](3).toList)).sortBy(_._1)
    assert(got.toSeq === exp.toSeq)
    // directory load expands to .sql files
    val viaDir = spark.read.format("sqldump").load(tmp.getAbsolutePath)
    assert(viaDir.count() === 200)
  }

  test("distributed read over fixture shards") {
    val paths = Seq(fixture("mydump/mdb.items.1.sql"), fixture("mydump/mdb.items.2.sql"))
    val df = SqlDumpSource.read(spark, paths)
    val got = df.collect()
    assert(got.length === 5)
    // deterministic per-file numbering; DataFrame rows carry schema
    val byFile = got.groupBy(_.getAs[String]("src_file")).view.mapValues(_.length).toMap
    assert(byFile.values.toSet === Set(3, 2))
  }
}
