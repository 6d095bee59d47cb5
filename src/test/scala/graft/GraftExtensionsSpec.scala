package graft

import graft.SparkSpec
import graft.operators.Export.Layout

class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions: crc64, pack_vec, packed_dot") {
    GraftExtensions.register(spark)
    // golden vector from Crc64Spec: crc64 of "123456789"
    val crc = spark.sql(
      "SELECT crc64(encode('123456789', 'UTF-8')) AS c").collect()(0).getLong(0)
    assert(f"$crc%016X" === "995DC9BBDF1939FA")
    val dot = spark.sql(
      """SELECT packed_dot(pack_vec(CAST(array(1.0, 2.0, 3.0) AS ARRAY<DOUBLE>)),
        |                  pack_vec(CAST(array(4.0, 5.0, 6.0) AS ARRAY<DOUBLE>)))
        |       AS d""".stripMargin).collect()(0).getDouble(0)
    assert(dot === 32.0)
    // the startup-route class wires the same definitions without throwing
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("registered SQL sketch kernels: minhash_sigs, simhash64, gram_hashes, packed_sketch") {
    GraftExtensions.register(spark)
    // SQL results equal the Column-API kernels on the same inputs
    val sig = spark.sql(
      "SELECT minhash_sigs('abcde fghij', 5, 4) AS s").collect()(0)
      .getSeq[Long](0)
    val sigCol = graft.functions.SketchOps.minhashSigs(
      org.apache.spark.unsafe.types.UTF8String.fromString("abcde fghij"), 5, 4)
      .toLongArray.toSeq
    assert(sig === sigCol && sig.length === 4)
    val sh = spark.sql("SELECT simhash64('hello world') AS h")
      .collect()(0).getLong(0)
    assert(sh === graft.functions.SketchOps.simhash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
    val gh = spark.sql("SELECT gram_hashes('a b c', 2) AS g").collect()(0)
      .getSeq[Long](0)
    assert(gh.length === 2) // "a b", "b c"
    val sk = spark.sql(
      """SELECT packed_sketch(pack_vec(CAST(array(1.0, -2.0, 3.0, 0.5)
        |  AS ARRAY<DOUBLE>)), 4, 1) AS s""".stripMargin)
      .collect()(0).getLong(0)
    assert(sk === graft.functions.VecOps.hyperplaneSketch(
      graft.functions.VecOps.packDoubles(Array(1.0, -2.0, 3.0, 0.5)), 4, 1))
  }

  test("unigram_segment from SQL: foldable map weights drive the Viterbi DP") {
    GraftExtensions.register(spark)
    val pieces = spark.sql(
      """SELECT unigram_segment('abcab',
        |  map('a', -50L, 'b', -60L, 'c', -55L, 'ab', -10L), -100000000L)
        |  AS p""".stripMargin).collect()(0).getSeq[String](0)
    assert(pieces === Seq("ab", "c", "ab"))
    // unknown char takes the UNK path
    val unk = spark.sql(
      "SELECT unigram_segment('axb', map('a', -5L, 'b', -5L), -9L) AS p")
      .collect()(0).getSeq[String](0)
    assert(unk === Seq("a", "x", "b"))
  }

  test("packed-signature SQL kernels agree with the flat minhash_sigs") {
    GraftExtensions.register(spark)
    // lane j of the packed form == minhash_sigs[j]; band keys equal
    // xxhash64 over the flat lanes; agreement counts equal lanes
    val row = spark.sql(
      """WITH s AS (SELECT minhash_sigs('abcde fghij', 5, 4) AS flat,
        |                  minhash_sigs_packed('abcde fghij', 5, 4) AS bin,
        |                  minhash_sigs_packed('abcde fghix', 5, 4) AS bin2)
        |SELECT lanes_xxhash(bin, 0, 2) AS bk,
        |       xxhash64(flat[0], flat[1]) AS bk_flat,
        |       lane_agreement(bin, bin) AS self_agree,
        |       lane_agreement(bin, bin2) AS cross_agree
        |FROM s""".stripMargin).collect()(0)
    assert(row.getLong(0) === row.getLong(1))
    assert(row.getInt(2) === 4)
    assert(row.getInt(3) >= 0 && row.getInt(3) < 4)
  }

  test("registered SQL PQ kernels: pq_encode, pq_adc") {
    GraftExtensions.register(spark)
    val cb = graft.functions.VecOps.packDoubles(
      Array(0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 5.0, 5.0))
    val q = Array(0.3, -0.7, 1.1, 0.2)
    val table = graft.functions.PqOps.adcTable(q, cb, 2, 2)
    spark.createDataFrame(Seq(Tuple1(Array(0.9, 1.1, 2.4, 1.9))))
      .toDF("v").createOrReplaceTempView("pq_in")
    val row = spark.sql(
      """SELECT pq_encode(pack_vec(v), cb, 2, 2) AS codes,
        |       pq_adc(pq_encode(pack_vec(v), cb, 2, 2), t, 2) AS score
        |FROM pq_in CROSS JOIN (SELECT CAST(null AS BINARY) AS ignore)
        |""".stripMargin.replace("cb,", "X'" +
          cb.map("%02x".format(_)).mkString + "',")
        .replace("t,", "X'" + table.map("%02x".format(_)).mkString + "',"))
      .collect()(0)
    val codes = row.getAs[Array[Byte]](0)
    assert(codes.toSeq === Seq(1.toByte, 0.toByte))
    assert(math.abs(row.getDouble(1) -
      graft.functions.PqOps.adc(codes, table, 2)) < 1e-12)
  }

  test("census sketch SQL seam equals the DataFrame kernels: hll_bucket/hll_rho/cms_cell/log2_bin") {
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_orderkey"))
    li.createOrReplaceTempView("seam_li")
    // HLL registers via SQL == hllRegisters (incl. the saturating rank:
    // 20412333 hashes below m=64, so its rho is wBits+1 = 27)
    val sat = spark.sql("SELECT hll_rho(20412333, 64) AS r, " +
      "hll_bucket(20412333, 64) AS b").collect().head
    assert(sat.getInt(0) === 27 && sat.getInt(1) === 39)
    val viaSql = spark.sql(
      """SELECT l_returnflag, hll_bucket(l_orderkey, 64) AS bucket,
        |  max(hll_rho(l_orderkey, 64)) AS r
        |FROM seam_li GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val viaDf = graft.operators.Sketches.hllRegisters(
        li, Seq("l_returnflag"), col("l_orderkey"), 64)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(viaSql === viaDf)
    // CMS cells via SQL == cmsCounts over the same token stream
    val toks = spark.sql(
      "SELECT explode(split(trim(CAST(l_orderkey AS STRING)), ' ')) AS tok FROM seam_li")
    toks.createOrReplaceTempView("seam_toks")
    val cellsSql = spark.sql(
      """SELECT i AS row, cms_cell(tok, 0, 64) * CAST(i = 0 AS INT)
        |  + cms_cell(tok, 1, 64) * CAST(i = 1 AS INT) AS col, count(*) AS cnt
        |FROM seam_toks LATERAL VIEW explode(array(0, 1)) AS i
        |GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val cellsDf = graft.operators.Sketches.cmsCounts(toks, "tok", d = 2, w = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(cellsSql === cellsDf)
    // histogram bins via SQL == logHistogram
    val binsSql = spark.sql(
      "SELECT log2_bin(l_orderkey) AS bin, count(*) AS cnt FROM seam_li GROUP BY 1")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val binsDf = graft.operators.Sketches.logHistogram(li, col("l_orderkey"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(binsSql === binsDf)
    // literal-domain validation mirrors the kernels'
    intercept[Exception] { spark.sql("SELECT hll_bucket(1, 48)").collect() }
    intercept[Exception] { spark.sql("SELECT cms_cell('x', 9, 64)").collect() }
  }

  test("lake TVFs: graft_snapshot / graft_snapshot_at / graft_history from plain SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val out = new java.io.File("target/qtmp", "tvfsnap")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(out)
    val dir = out.getAbsolutePath
    val v1 = graft.operators.Export.appendSnapshot(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    val v2 = graft.operators.Export.appendSnapshot(spark,
      Seq((3L, "c")).toDF("k", "s"), dir)
    // latest by default; explicit version time-travels
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect().head.getLong(0) === 3)
    assert(spark.sql(
        s"SELECT k FROM graft_snapshot('$dir', $v1) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // the TVF relation is a real scan: filters/pruning compose (predicate
    // reaches the parquet scan like any other FROM-clause table)
    val planned = spark.sql(
      s"SELECT s FROM graft_snapshot('$dir') WHERE k = 3")
    assert(planned.collect().map(_.getString(0)).toSeq === Seq("c"))
    assert(planned.queryExecution.executedPlan.toString
      .contains("PushedFilters"), "TVF scan lost predicate pushdown")
    // TIMESTAMP AS OF through SQL resolves exactly like the API
    val ts1 = graft.operators.Export.snapshotTimestamp(dir, v1)
    assert(spark.sql(
        s"SELECT count(*) FROM graft_snapshot_at('$dir', $ts1)")
      .collect().head.getLong(0) === 2)
    // DESCRIBE HISTORY rows from SQL == the API's frame
    val hist = spark.sql(
        s"SELECT version, operation FROM graft_history('$dir') ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(hist === Seq((v1, "append"), (v2, "append")))
    // non-literal path is a clear error, not a silent empty table
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_snapshot(concat('a', 'b'))").collect()
    }
    // partition-pruned TVF: the third argument eliminates files from
    // the MANIFEST (not post-scan) and composes with SQL on top
    val pout = new java.io.File("target/qtmp", "tvfpart")
    rm(pout)
    val pdir = pout.getAbsolutePath
    val docs = graft.util.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select("doc_id", "lang", "n_chars")
    val pv = graft.operators.Export.appendSnapshot(spark,
      docs, pdir, Layout.Partitioned(Seq("lang"), nFiles = 4))
    val en = spark.sql(
      s"SELECT count(*) FROM graft_snapshot('$pdir', $pv, 'lang=en')")
      .collect().head.getLong(0)
    assert(en === docs.filter(col("lang") === "en").count())
    val prunedScan = spark.sql(
      s"SELECT doc_id FROM graft_snapshot('$pdir', $pv, 'lang=en')")
    assert(scannedFiles(prunedScan).nonEmpty &&
      scannedFiles(prunedScan).forall(_.contains("_p_lang=en")),
      "TVF partition filter planned non-matching files")
  }

  test("graft_diff TVF: bag diff and keyed CDF from plain SQL equal the API") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val out = new java.io.File("target/qtmp", "tvfdiff")
    graft.util.Dirs.deleteRec(out)
    val dir = out.getAbsolutePath
    val v1 = graft.operators.Export.replaceSnapshot(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), dir)
    val v2 = graft.operators.Export.replaceSnapshot(spark,
      Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("k", "s"), dir)
    // bag arm: inserts + deletes, no key needed
    val bag = spark.sql(
        s"SELECT k, s, _change FROM graft_diff('$dir', $v1, $v2) " +
          "ORDER BY _change, k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(bag.toSeq === Seq((2L, "b", "delete"), (1L, "a", "delete"),
      (2L, "B", "insert"), (4L, "d", "insert")).sortBy(t => (t._3, t._1)))
    // keyed arm ≡ the Scala API row-for-row
    val viaSql = spark.sql(
        s"SELECT k, s, _change FROM graft_diff('$dir', $v1, $v2, 'k') " +
          "ORDER BY _change, k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val viaApi = graft.operators.Export
      .snapshotDiffKeyed(spark, dir, v1, v2, Seq("k"))
      .orderBy("_change", "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(viaSql.toSeq === viaApi.toSeq)
    assert(viaSql.map(_._3).distinct.sorted ===
      Seq("delete", "insert", "update_postimage", "update_preimage"))
  }

  test("graft_snapshot TVF plans through the manifest FileIndex: a WHERE range prunes FILES, mapped/DV heads still served by the fallback funnel") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val out = new java.io.File("target/qtmp", "tvffidx")
    graft.util.Dirs.deleteRec(out)
    val dir = out.getAbsolutePath
    val E = graft.operators.Export
    E.appendSnapshot(spark,
      (0L until 400L).map(i => (i, i * 2)).toDF("id", "v"), dir,
      Layout.Statted(cols = Seq("id"), nFiles = 8))
    val q = spark.sql(
      s"SELECT id FROM graft_snapshot('$dir') WHERE id BETWEEN 300 AND 340")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (300L to 340L))
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(Nil, f.dataFilters)
            .map(_.files.size).sum
      }).sum
    assert(scanned <= 2, s"TVF scan planned $scanned of 8 files")
    // a DV-bearing head transparently takes the DV-aware fallback
    E.deleteWhereMoR(spark, dir, org.apache.spark.sql.functions
      .col("id") < 100L)
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir')")
      .collect().head.getLong(0) === 300L)
    // and a renamed head (column mapping) too
    E.compactSnapshot(spark, dir)
    E.renameSnapshotColumn(dir, "v", "val")
    assert(spark.sql(
        s"SELECT sum(val) FROM graft_snapshot('$dir')")
      .collect().head.getLong(0) ===
      (100L until 400L).map(_ * 2).sum)
  }

  test("SQL DML procedures: delete/merge/optimize/restore/clone/vacuum from plain SQL equal the Scala API") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val out = new java.io.File("target/qtmp", "tvfdml")
    graft.util.Dirs.deleteRec(out)
    val dir = out.getAbsolutePath
    val E = graft.operators.Export
    E.appendSnapshot(spark,
      (1L to 10L).map(i => (i, i * 10)).toDF("k", "v"), dir)
    // DELETE (CoW): rows where k % 2 = 0 removed, version bumps
    val dv = spark.sql(
      s"SELECT version FROM graft_delete('$dir', 'k % 2 = 0')")
      .collect().head.getLong(0)
    assert(dv === 2L)
    assert(E.readSnapshot(spark, dir, 2).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L, 5L, 7L, 9L))
    // MERGE: full-row upsert from a temp view (update k=1, insert k=20)
    Seq((1L, 111L), (20L, 200L)).toDF("k", "v")
      .createOrReplaceTempView("tvfdml_upd")
    spark.sql(s"SELECT version FROM graft_merge('$dir', 'tvfdml_upd', 'k')")
      .collect()
    val merged = E.readSnapshot(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(merged.toSeq === Seq((1L, 111L), (3L, 30L), (5L, 50L),
      (7L, 70L), (9L, 90L), (20L, 200L)))
    // ORDER-RESOLVED merge: a stale seq loses
    Seq((1L, 5L), (1L, 999L)).toDF("k", "v")
      .createOrReplaceTempView("tvfdml_upd2")
    spark.sql(
      s"SELECT version FROM graft_merge('$dir', 'tvfdml_upd2', 'k', 'v')")
      .collect()
    assert(E.readSnapshot(spark, dir, 4).filter($"k" === 1L)
      .select("v").collect().head.getLong(0) === 999L)
    // OPTIMIZE: layout-only, rows identical
    val opt = spark.sql(s"SELECT * FROM graft_optimize('$dir', 1)")
      .collect().head
    assert(opt.getLong(0) === 5L && opt.getLong(1) === 1L)
    assert(E.readSnapshot(spark, dir, 5).count() === 6)
    // RESTORE back to the post-delete state
    spark.sql(s"SELECT version FROM graft_restore('$dir', 2)").collect()
    assert(E.readSnapshot(spark, dir, 6).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L, 5L, 7L, 9L))
    // CLONE forks a new table at v1
    val cdir = new java.io.File("target/qtmp", "tvfdml_clone")
    graft.util.Dirs.deleteRec(cdir)
    spark.sql(s"SELECT version FROM graft_clone('$dir', " +
      s"'${cdir.getAbsolutePath}')").collect()
    assert(E.readSnapshot(spark, cdir.getAbsolutePath, 1).count() === 5)
    // VACUUM through SQL reports and reclaims
    val vac = spark.sql(s"SELECT * FROM graft_vacuum('$dir', 1, 0)")
      .collect().head
    assert(vac.getLong(0) === 5L) // dropped versions 1..5
    assert(E.snapshotVersions(dir) === Seq(6))
    // MERGE-ON-READ merge via SQL: same resolution, ZERO file rewrites
    val filesBeforeMor = E.snapshotFiles(dir, 6).toSet
    Seq((3L, 333L), (30L, 300L)).toDF("k", "v")
      .createOrReplaceTempView("tvfdml_upd3")
    spark.sql(s"SELECT version FROM graft_merge('$dir', " +
      "'tvfdml_upd3', 'k', 'v', 'mor')").collect()
    val vMor = E.latestSnapshotVersion(dir)
    assert(filesBeforeMor.subsetOf(E.snapshotFiles(dir, vMor).toSet),
      "MoR merge must not rewrite data files")
    assert(E.snapshotHasDeletionVectors(dir, vMor))
    assert(E.readSnapshot(spark, dir, vMor)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 10L), (3L, 333L), (5L, 50L), (7L, 70L), (9L, 90L),
        (30L, 300L)))
    // PARTITION-SCOPED OPTIMIZE via SQL: only the filtered partition's
    // files rewrite, the full layout key set is preserved
    val pdir = new java.io.File("target/qtmp", "tvfdml_part")
    graft.util.Dirs.deleteRec(pdir)
    val pd = pdir.getAbsolutePath
    val docs = (1L to 60L).map(i => (i, (i % 2).toString, i)).toDF(
      "k", "half", "v")
    (0 until 3).foreach { e =>
      E.appendSnapshot(spark,
        docs.filter($"k" % 3 === e), pd,
        Layout.Partitioned(Seq("half"), nFiles = 2))
    }
    val beforeP = E.snapshotFiles(pd, 3)
    spark.sql(s"SELECT * FROM graft_optimize('$pd', 1, " +
      "'partition:half=1')").collect()
    val afterP = E.snapshotFiles(pd, 4)
    assert(afterP.filterNot(_.contains("_p_half=1")).toSet ===
      beforeP.filterNot(_.contains("_p_half=1")).toSet,
      "untouched partition's files must carry verbatim")
    assert(afterP.count(_.contains("_p_half=1")) <
      beforeP.count(_.contains("_p_half=1")))
    assert(E.readSnapshot(spark, pd, 4).count() === 60)
  }

  test("_metadata PROPAGATES through the DV rewrite (r14): provenance resolves on a MoR head via format AND SQL, reports surviving rows' real files, and SELECT * never leaks it") {
    import spark.implicits._
    val E = graft.operators.Export
    val dir = java.nio.file.Files.createTempDirectory("dvmd").toFile
      .getAbsolutePath
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graftlake").save(dir)
    E.deleteWhereMoR(spark, dir, org.apache.spark.sql.functions
      .col("k") % 3 === 0)
    val head = E.latestSnapshotVersion(dir)
    assert(E.snapshotHasDeletionVectors(dir, head), "fixture must be MoR")
    val df = spark.read.format("graftlake").load(dir)
    // 1. data still MoR-correct
    assert(df.count() === 66)
    // 2. _metadata resolves through the rewrite; provenance is real:
    //    every reported path is a committed data file of the head
    val prov = df.select($"k", $"_metadata.file_path".as("f"))
    val files = E.snapshotFiles(dir, head).map(p =>
      new org.apache.hadoop.fs.Path(p).getName).toSet
    val got = prov.collect()
    assert(got.length === 66)
    assert(got.forall(r => files.contains(
      new org.apache.hadoop.fs.Path(r.getString(1)).getName)))
    // 3. SELECT * must NOT leak the hidden column
    assert(df.select("*").columns.toSeq === Seq("k", "v"))
    assert(df.columns.toSeq === Seq("k", "v"))
    // 4. the SQL front door: a CATALOG table read (temp views hide
    //    metadata columns by Spark contract — View.metadataOutput is
    //    Nil even for plain parquet, so parity is the direct read)
    val wh = java.nio.file.Files.createTempDirectory("dvmd-wh").toFile
    spark.conf.set("spark.sql.catalog.gmd",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmd.warehouse", wh.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmd.ns")
    spark.sql("CREATE TABLE gmd.ns.t (k BIGINT, v BIGINT)")
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("dvmd_src")
    spark.sql("INSERT INTO gmd.ns.t SELECT k, v FROM dvmd_src")
    val dirT = s"${wh.getAbsolutePath}/ns/t"
    E.deleteWhereMoR(spark, dirT, org.apache.spark.sql.functions
      .col("k") % 3 === 0)
    assert(E.snapshotHasDeletionVectors(dirT,
      E.latestSnapshotVersion(dirT)))
    val viaSql = spark.sql("SELECT count(DISTINCT _metadata.file_path) " +
      "AS nf, count(*) AS n FROM gmd.ns.t").collect().head
    assert(viaSql.getLong(1) === 66L)
    assert(viaSql.getLong(0) >= 1L)
    assert(spark.sql("SELECT * FROM gmd.ns.t").columns.toSeq ===
      Seq("k", "v"))
    // 5. row_index provenance joins back to the DV discipline: no
    //    surviving (file, pos) may appear in the sidecar
    val dvDirs = E.snapshotManifestEntries(dir, head)
      .flatMap(_.dv).map(_._1).distinct
    val sidecar = spark.read.parquet(dvDirs: _*)
      .select($"__file".as("f"), $"__pos".as("p"))
    val surviving = df.select($"_metadata.file_path".as("f"),
      $"_metadata.row_index".as("p"))
    assert(surviving.join(sidecar, Seq("f", "p"), "left_semi")
      .count() === 0L, "a DV'd position survived the subtraction")
  }

  test("the injected parser is transparent: parameterized spark.sql (named and positional) still binds through the delegate") {
    // the ParserInterface DEFAULT for parsePlanWithParameters drops
    // the parameter context (it calls bare parsePlan) - the delegating
    // parser must forward it or every parameterized query breaks
    assert(spark.sql("SELECT :x + 1 AS y", Map("x" -> 41))
      .collect().head.get(0).toString === "42")
    assert(spark.sql("SELECT ? * 2 AS y", Array(21))
      .collect().head.get(0).toString === "42")
  }
}
