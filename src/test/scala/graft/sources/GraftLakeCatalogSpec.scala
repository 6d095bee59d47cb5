package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.operators.Export
import graft.operators.Export.Layout

/** The SQL catalog over lake tables: name-addressed CREATE/INSERT/
  * SELECT/OVERWRITE/DROP from plain SQL, resolving through the v1
  * fallback into the manifest-planned relation — and full composition
  * with the path-addressed surface (TVFs, DML procedures) because a
  * catalog table IS its snapshot-log directory. */
class GraftLakeCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("glc-warehouse").toFile
    spark.conf.set("spark.sql.catalog.glc",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glc.warehouse", w.getAbsolutePath)
    w.getAbsolutePath
  }

  test("CREATE NAMESPACE / CREATE TABLE / INSERT INTO / SELECT / INSERT OVERWRITE / DROP, all by name from SQL") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE glc.corpus")
    spark.sql("CREATE TABLE glc.corpus.docs (doc_id BIGINT, n BIGINT)")
    // the catalog table IS a snapshot log at <warehouse>/corpus/docs
    assert(Export.latestSnapshotVersion(s"$wh/corpus/docs") === 1)
    spark.sql(
      "INSERT INTO glc.corpus.docs SELECT id, id * 10 FROM range(5)")
    spark.sql(
      "INSERT INTO glc.corpus.docs SELECT id, id * 10 FROM range(5, 8)")
    val got = spark.sql(
        "SELECT doc_id, n FROM glc.corpus.docs ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (0L until 8L).map(i => (i, i * 10)))
    // predicate pushdown reaches the parquet scan through the fallback
    val q = spark.sql("SELECT n FROM glc.corpus.docs WHERE doc_id = 6")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(60L))
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))
    // INSERT OVERWRITE = full-replace VERSION; prior state time-travels
    spark.sql(
      "INSERT OVERWRITE glc.corpus.docs SELECT id, id FROM range(3)")
    assert(spark.sql("SELECT count(*) FROM glc.corpus.docs")
      .collect().head.getLong(0) === 3)
    assert(Export.snapshotOperation(s"$wh/corpus/docs",
      Export.latestSnapshotVersion(s"$wh/corpus/docs")) ===
      Some("replace"))
    assert(Export.readSnapshot(spark, s"$wh/corpus/docs", 3).count() === 8)
    // SHOW TABLES sees it; DROP removes it
    val listed = spark.sql("SHOW TABLES IN glc.corpus")
      .collect().map(_.getString(1))
    assert(listed.contains("docs"))
    spark.sql("DROP TABLE glc.corpus.docs")
    assert(!new File(s"$wh/corpus/docs").exists())
  }

  test("catalog tables compose with the path-addressed surface: TVF time travel and DML procedures hit the same log") {
    val wh = warehouse
    graft.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.mix")
    spark.sql("CREATE TABLE glc.mix.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO glc.mix.t SELECT id, id FROM range(10)")
    val dir = s"$wh/mix/t"
    // DML procedure (path-addressed) mutates the catalog table
    spark.sql(s"SELECT version FROM graft_delete('$dir', 'k % 2 = 0')")
      .collect()
    assert(spark.sql("SELECT count(*) FROM glc.mix.t")
      .collect().head.getLong(0) === 5)
    // TVF time travel reads the pre-delete version of the same table
    assert(spark.sql(s"SELECT count(*) FROM graft_snapshot('$dir', 2)")
      .collect().head.getLong(0) === 10)
    // native DELETE FROM by name: one CoW commit, old state time-travels
    spark.sql("DELETE FROM glc.mix.t WHERE k > 7")
    assert(spark.sql("SELECT k FROM glc.mix.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L, 7L))
    assert(Export.snapshotOperation(dir,
      Export.latestSnapshotVersion(dir)) === Some("delete"))
    // name-addressed RENAME keeps the log intact (the new name resolves
    // inside the table's catalog, so it is catalog-less)
    spark.sql("ALTER TABLE glc.mix.t RENAME TO mix.t2")
    assert(spark.sql("SELECT count(*) FROM glc.mix.t2")
      .collect().head.getLong(0) === 4)
    intercept[Exception](
      spark.sql("SELECT * FROM glc.mix.t").collect())
  }

  test("CTAS by name: CREATE TABLE ... AS SELECT lands schema + rows in one statement") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ctas")
    spark.sql("CREATE TABLE glc.ctas.t AS " +
      "SELECT id AS k, id * 2 AS v FROM range(7)")
    val got = spark.sql("SELECT k, v FROM glc.ctas.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === (0L until 7L).map(i => (i, i * 2)))
    // the CTAS left a normal log: v1 typed-empty create + v2 append
    val dir = s"$wh/ctas/t"
    assert(Export.snapshotVersions(dir) === Seq(1, 2))
    assert(Export.snapshotSchema(dir, 1).get.fieldNames.toSeq ===
      Seq("k", "v"))
  }

  test("streaming by NAME: readStream.table and writeStream.toTable resolve through the catalog into the graftlake source/sink") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.stream")
    spark.sql("CREATE TABLE glc.stream.src (k BIGINT, m BIGINT)")
    spark.sql("INSERT INTO glc.stream.src SELECT id, id % 3 FROM range(6)")
    spark.sql("INSERT INTO glc.stream.src SELECT id, id % 3 " +
      "FROM range(6, 12)")
    spark.sql("CREATE TABLE glc.stream.dst (k BIGINT, m BIGINT)")
    val q = spark.readStream.table("glc.stream.src")
      .filter(org.apache.spark.sql.functions.col("m") =!= 2L)
      .writeStream.format("graftlake")
      .option("checkpointLocation",
        Files.createTempDirectory("glc-stream-cp").toFile.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .toTable("glc.stream.dst")
    assert(q.awaitTermination(120000))
    val got = spark.sql("SELECT k FROM glc.stream.dst ORDER BY k")
      .collect().map(_.getLong(0))
    assert(got.toSeq === (0L until 12L).filter(_ % 3 != 2))
    // the sink's exactly-once guard rode along: batch header present
    assert(Export.lastAppliedBatch(s"$wh/stream/dst") >= 0L)
  }

  test("CREATE TABLE PARTITIONED BY: hive-style layout from the first INSERT, partition-pruned reads by name, OVERWRITE keeps the layout") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.part")
    spark.sql("CREATE TABLE glc.part.t (k BIGINT, grp STRING) " +
      "PARTITIONED BY (grp)")
    val dir = s"$wh/part/t"
    spark.sql("INSERT INTO glc.part.t " +
      "SELECT id, CAST(id % 3 AS STRING) FROM range(30)")
    // layout proof: hive-style value dirs + p= specs
    val files = Export.snapshotFiles(dir,
      Export.latestSnapshotVersion(dir))
    assert(files.exists(_.contains("grp=1")) &&
      files.exists(_.contains("grp=2")))
    // the declared layout is reported back to SQL
    val t = new GraftLakeCatalog {
      initialize("glc2", new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(
          java.util.Map.of("warehouse", wh)))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("part"), "t"))
    assert(t.partitioning().map(p =>
      p.references.head.fieldNames.mkString(".")).toSeq === Seq("grp"))
    // partition-pruned read by name: the equality conjunct drops files
    // from the plan — since r16 it arrives as a typed PARTITION filter
    // (the surfaced layout), evaluated against the manifest p= tags
    val q = spark.sql("SELECT k FROM glc.part.t WHERE grp = '1'")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 30L).filter(_ % 3 == 1))
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters,
            f.dataFilters).map(_.files.size).sum
      }).sum
    assert(scanned < files.size,
      s"expected pruning: $scanned of ${files.size}")
    // INSERT OVERWRITE commits a partitioned full replace
    spark.sql("INSERT OVERWRITE glc.part.t " +
      "SELECT id, CAST(id % 2 AS STRING) FROM range(10)")
    val after = Export.snapshotFiles(dir,
      Export.latestSnapshotVersion(dir))
    assert(after.exists(_.contains("grp=0")) &&
      after.exists(_.contains("grp=1")) &&
      !after.exists(_.contains("grp=2")))
    assert(spark.sql("SELECT count(*) FROM glc.part.t")
      .collect().head.getLong(0) === 10)
    // bucket/temporal transforms refuse loudly
    intercept[Exception](spark.sql(
      "CREATE TABLE glc.part.bad (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))"))
  }

  test("ALTER TABLE by name: RENAME/DROP/ADD COLUMN and type widening commit metadata-only lake versions; reads follow immediately") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.alter")
    spark.sql("CREATE TABLE glc.alter.t (k BIGINT, v INT, junk STRING)")
    spark.sql("INSERT INTO glc.alter.t " +
      "SELECT id, CAST(id * 10 AS INT), concat('j', id) FROM range(5)")
    val dir = s"$wh/alter/t"
    val filesBefore = Export.snapshotFiles(dir,
      Export.latestSnapshotVersion(dir)).toSet
    spark.sql("ALTER TABLE glc.alter.t RENAME COLUMN v TO score")
    spark.sql("ALTER TABLE glc.alter.t DROP COLUMN junk")
    spark.sql("ALTER TABLE glc.alter.t ADD COLUMN note STRING")
    spark.sql("ALTER TABLE glc.alter.t ALTER COLUMN score TYPE BIGINT")
    // four metadata-only commits: same data files throughout
    val head = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotFiles(dir, head).toSet === filesBefore,
      "ALTER must never rewrite data")
    val got = spark.sql(
      "SELECT k, score, note FROM glc.alter.t ORDER BY k").collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(0L, 10L, 20L, 30L, 40L))
    assert(got.forall(_.isNullAt(2)), "added column reads back null")
    // a dropped-then-readded name gets fresh bytes, never the old ones
    spark.sql("ALTER TABLE glc.alter.t ADD COLUMN junk STRING")
    assert(spark.sql("SELECT junk FROM glc.alter.t").collect()
      .forall(_.isNullAt(0)), "dropped bytes resurfaced under re-add")
    // the widened column accepts a post-widen append at the wide type
    spark.sql("INSERT INTO glc.alter.t " +
      "SELECT 100, 4000000000, 'wide', NULL")
    assert(spark.sql(
      "SELECT score FROM glc.alter.t WHERE k = 100").collect()
      .head.getLong(0) === 4000000000L)
    // unsupported shapes refuse loudly
    intercept[Exception](spark.sql(
      "ALTER TABLE glc.alter.t ALTER COLUMN score TYPE INT")) // narrow
  }

  test("MoR-deleted and column-mapped heads serve BY NAME: the anti-join rewrite and the physical-renaming format reach the catalog path") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.gate")
    spark.sql("CREATE TABLE glc.gate.d (k BIGINT)")
    spark.sql("INSERT INTO glc.gate.d SELECT id FROM range(6)")
    val dir = s"$wh/gate/d"
    Export.deleteWhereMoR(spark, dir,
      org.apache.spark.sql.functions.col("k") < 2)
    // plain SQL by name subtracts the deleted rows, no compaction needed
    assert(spark.sql("SELECT k FROM glc.gate.d ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === (2L until 6L))
    // rename with no rewrite: the new logical name serves by name too
    Export.renameSnapshotColumn(dir, "k", "key")
    assert(spark.sql("SELECT key FROM glc.gate.d WHERE key >= 4")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L))
    // compaction materializes both; results unchanged
    Export.compactSnapshot(spark, dir)
    assert(spark.sql("SELECT count(*) FROM glc.gate.d")
      .collect().head.getLong(0) === 4)
  }

  test("graft.cluster.key: INSERT INTO lands ZONED epochs from the first write, and bare graft_optimize re-clusters instead of eroding the layout") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ck")
    spark.sql("CREATE TABLE glc.ck.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.cluster.key' = 'k')")
    spark.sql("INSERT INTO glc.ck.t SELECT id, id FROM range(50)")
    spark.sql("INSERT INTO glc.ck.t SELECT id, id FROM range(50, 100)")
    val dir = wh + "/ck/t"
    val head = Export.latestSnapshotVersion(dir)
    val entries = Export.snapshotManifestEntries(dir, head)
    assert(entries.nonEmpty && entries.forall(_.zone.nonEmpty),
      "INSERT into a cluster-keyed table must write zoned epochs")
    // the declared key makes plain SQL MERGE zone-scoped immediately
    // (no OPTIMIZE bootstrap): low-key batch leaves the second
    // epoch's files untouched
    val hiBefore = entries.filter(_.zone.exists(_._1 >= 50L))
      .map(_.path).toSet
    assert(hiBefore.nonEmpty)
    spark.sql("SELECT id AS k, id + 1000 AS v FROM range(5)")
      .createOrReplaceTempView("ck_src")
    spark.sql("MERGE INTO glc.ck.t t USING ck_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(hiBefore.subsetOf(Export.snapshotFiles(dir, v1).toSet),
      "first-ever MERGE on an insert-zoned table must prune")
    // bare OPTIMIZE re-clusters by default (zones survive compaction)
    spark.sql(s"SELECT version FROM graft_optimize('$dir', 2)").collect()
    val v2 = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotManifestEntries(dir, v2)
      .forall(_.zone.nonEmpty),
      "bare OPTIMIZE on a cluster-keyed table must keep zones")
    assert(spark.sql("SELECT sum(v) FROM glc.ck.t")
      .collect().head.getLong(0) ===
      (0L until 100L).map(k => if (k < 5) k + 1000 else k).sum)
  }

  test("column DEFAULTs: CREATE-time defaults fill omitted columns and the DEFAULT keyword; SET/DROP DEFAULT are metadata-only; the contract survives data commits; ADD COLUMN DEFAULT refuses") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_def")
    spark.sql("CREATE TABLE glc.ns_def.t (k BIGINT, " +
      "lang STRING DEFAULT 'und', score DOUBLE DEFAULT 1.5)")
    val dir = s"$wh/ns_def/t"
    spark.sql("INSERT INTO glc.ns_def.t (k) VALUES (1), (2)")
    spark.sql("INSERT INTO glc.ns_def.t VALUES (3, DEFAULT, 9.0)")
    assert(spark.sql("SELECT k, lang, score FROM glc.ns_def.t ORDER BY k")
      .collect().map(_.toSeq).toSeq === Seq(
      Seq(1L, "und", 1.5), Seq(2L, "und", 1.5), Seq(3L, "und", 9.0)))
    // defaults materialize AT WRITE: the files carry the values, the
    // committed schema still carries the contract (metadata-carry law)
    val head = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotSchema(dir, head).get.find(_.name == "lang")
      .get.metadata.contains("CURRENT_DEFAULT"))
    // a MERGE (a full data rewrite) must not strip the contract either
    spark.range(1, 2).selectExpr("id AS k", "'xx' AS lang", "2.5 AS score")
      .createOrReplaceTempView("def_src")
    spark.sql("MERGE INTO glc.ns_def.t t USING def_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val h2 = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotSchema(dir, h2).get.find(_.name == "lang")
      .get.metadata.contains("CURRENT_DEFAULT"),
      "a MERGE commit dropped the DEFAULT contract")
    spark.sql("INSERT INTO glc.ns_def.t (k) VALUES (4)")
    assert(spark.sql("SELECT lang FROM glc.ns_def.t WHERE k = 4")
      .collect().head.getString(0) === "und")
    // SET DEFAULT affects future inserts only; DROP returns to null
    spark.sql("ALTER TABLE glc.ns_def.t ALTER COLUMN lang SET DEFAULT 'en'")
    spark.sql("INSERT INTO glc.ns_def.t (k) VALUES (5)")
    spark.sql("ALTER TABLE glc.ns_def.t ALTER COLUMN lang DROP DEFAULT")
    spark.sql("INSERT INTO glc.ns_def.t (k) VALUES (6)")
    val tail = spark.sql("SELECT k, lang FROM glc.ns_def.t " +
      "WHERE k >= 4 ORDER BY k").collect().map(_.toSeq)
    assert(tail.toSeq === Seq(Seq(4L, "und"), Seq(5L, "en"),
      Seq(6L, null)))
    // existing rows never change from a default edit (metadata-only);
    // k=1 took the MERGE's own 'xx', k=2 still carries its insert-time
    // materialized default
    assert(spark.sql("SELECT lang FROM glc.ns_def.t WHERE k = 2")
      .collect().head.getString(0) === "und")
    // ADD COLUMN WITH DEFAULT refuses: pre-add files null-fill here
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_def.t ADD COLUMN extra BIGINT DEFAULT 7"))
    assert(e.getMessage.contains("DEFAULT"))
  }

  test("SQL CHECK constraints: ADD validates existing rows, EVERY writer enforces per-row (INSERT, UPDATE statement), DROP lifts, tombstones survive inheritance") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_ck")
    spark.sql("CREATE TABLE glc.ns_ck.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO glc.ns_ck.t SELECT id, id FROM range(6)")
    val dir = s"$wh/ns_ck/t"
    // ADD against violating existing rows refuses, commits nothing
    val v0 = Export.latestSnapshotVersion(dir)
    val bad = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_ck.t ADD CONSTRAINT small CHECK (v < 3)"))
    assert(bad.getMessage.contains("existing rows"))
    assert(Export.latestSnapshotVersion(dir) === v0)
    spark.sql(
      "ALTER TABLE glc.ns_ck.t ADD CONSTRAINT positive CHECK (v >= 0)")
    assert(Export.snapshotChecks(dir) === Map("positive" -> "v >= 0"))
    // a violating INSERT aborts - no version, no rows
    val v1 = Export.latestSnapshotVersion(dir)
    val ins = intercept[Exception](spark.sql(
      "INSERT INTO glc.ns_ck.t VALUES (100, -1)"))
    assert(Option(ins.getMessage).getOrElse(
      ins.getCause.getMessage).contains("positive"))
    assert(Export.latestSnapshotVersion(dir) === v1)
    assert(spark.sql("SELECT count(*) FROM glc.ns_ck.t")
      .collect().head.getLong(0) === 6)
    spark.sql("INSERT INTO glc.ns_ck.t VALUES (100, 1)") // valid lands
    // enforcement is a property of the epoch WRITERS: the UPDATE
    // statement's rewrite pays the same per-row assert
    val upd = intercept[Exception](spark.sql(
      "UPDATE glc.ns_ck.t SET v = -5 WHERE k = 2"))
    assert(spark.sql("SELECT v FROM glc.ns_ck.t WHERE k = 2")
      .collect().head.getLong(0) === 2, "failed UPDATE must not land")
    // SQL NULL semantics: a NULL-evaluating predicate passes
    spark.sql("INSERT INTO glc.ns_ck.t VALUES (101, NULL)")
    // DROP lifts enforcement; the tombstone survives later commits
    intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_ck.t DROP CONSTRAINT nosuch"))
    spark.sql("ALTER TABLE glc.ns_ck.t DROP CONSTRAINT IF EXISTS nosuch")
    spark.sql("ALTER TABLE glc.ns_ck.t DROP CONSTRAINT positive")
    assert(Export.snapshotChecks(dir) === Map.empty)
    spark.sql("INSERT INTO glc.ns_ck.t VALUES (102, -7)")
    assert(Export.snapshotChecks(dir) === Map.empty,
      "a post-drop data commit must not resurrect the constraint")
    assert(spark.sql("SELECT count(*) FROM glc.ns_ck.t")
      .collect().head.getLong(0) === 9)
  }

  test("CREATE TABLE with a CHECK constraint stores it (the TableInfo default would silently drop it); the first INSERT already enforces") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_ck2")
    spark.sql("CREATE TABLE glc.ns_ck2.t (k BIGINT, v BIGINT, " +
      "CONSTRAINT pos CHECK (v > 0))")
    assert(Export.snapshotChecks(s"$wh/ns_ck2/t") ===
      Map("pos" -> "v > 0"))
    intercept[Exception](spark.sql(
      "INSERT INTO glc.ns_ck2.t VALUES (1, 0)"))
    assert(spark.sql("SELECT count(*) FROM glc.ns_ck2.t")
      .collect().head.getLong(0) === 0)
    spark.sql("INSERT INTO glc.ns_ck2.t VALUES (1, 5)")
    assert(spark.sql("SELECT v FROM glc.ns_ck2.t")
      .collect().head.getLong(0) === 5)
    // renaming/dropping a CHECK-referenced column refuses FIRST -
    // otherwise the stale text would wedge every later write
    val er = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_ck2.t RENAME COLUMN v TO w"))
    assert(er.getMessage.contains("CHECK"))
    val ed = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_ck2.t DROP COLUMN v"))
    assert(ed.getMessage.contains("CHECK"))
    // an EVOLVED narrow append missing the constrained column is a
    // lawful write: the files read back NULL there and CHECK passes
    // on NULL (the shim makes the predicate analyze)
    Export.appendSnapshotEvolved(spark,
      spark.range(1).selectExpr("CAST(77 AS BIGINT) AS k"),
      s"$wh/ns_ck2/t")
    assert(spark.sql(
        "SELECT count(*) FROM glc.ns_ck2.t WHERE v IS NULL")
      .collect().head.getLong(0) === 1)
  }

  test("GENERATED columns materialize at write: NULL/omitted computes, explicit mismatch aborts, PARTITIONED BY a generated column lands pruned layout") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_gen")
    spark.sql("CREATE TABLE glc.ns_gen.t (k BIGINT, ts TIMESTAMP, " +
      "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (day)")
    val dir = s"$wh/ns_gen/t"
    // NULL in the generated slot computes
    spark.sql("INSERT INTO glc.ns_gen.t VALUES " +
      "(1, TIMESTAMP '2026-01-01 10:00:00', NULL), " +
      "(2, TIMESTAMP '2026-01-02 23:59:00', NULL)")
    val got = spark.sql("SELECT k, CAST(day AS STRING) " +
      "FROM glc.ns_gen.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "2026-01-01"), (2L, "2026-01-02")))
    // the computed column drives the hive layout: p= specs per day
    val v = Export.latestSnapshotVersion(dir)
    val days = Export.snapshotManifestEntries(dir, v)
      .flatMap(_.partition.get("day")).toSet
    assert(days === Set("2026-01-01", "2026-01-02"),
      "generated partition column must land p= specs")
    // an explicit matching value passes; a mismatch aborts the write
    spark.sql("INSERT INTO glc.ns_gen.t VALUES " +
      "(3, TIMESTAMP '2026-01-03 01:00:00', DATE '2026-01-03')")
    val bad = intercept[Exception](spark.sql(
      "INSERT INTO glc.ns_gen.t VALUES " +
        "(4, TIMESTAMP '2026-01-04 01:00:00', DATE '1999-09-09')"))
    assert(spark.sql("SELECT count(*) FROM glc.ns_gen.t")
      .collect().head.getLong(0) === 3,
      "a mismatched generated value must not land")
    // a frame MISSING the column entirely (Scala-API append) computes
    Export.appendSnapshot(spark,
      spark.sql("SELECT CAST(5 AS BIGINT) AS k, " +
        "TIMESTAMP '2026-01-05 12:00:00' AS ts"),
      dir, Layout.Partitioned(Seq("day")))
    assert(spark.sql("SELECT CAST(day AS STRING) FROM glc.ns_gen.t " +
        "WHERE k = 5").collect().head.getString(0) === "2026-01-05")
    // renaming/dropping a generation DEPENDENCY refuses first - the
    // stale expression would wedge every later write
    val er = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_gen.t RENAME COLUMN ts TO created"))
    assert(er.getMessage.contains("GENERATED"))
    val ed = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_gen.t DROP COLUMN ts"))
    assert(ed.getMessage.contains("GENERATED"))
  }

  test("backtick-quoted CHECK/generation texts still pin their columns, and an evolved narrow append missing a generated column's dependency computes NULL") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_bt")
    // a CHECK written with quoted identifiers must still pin `v`
    // (the lookbehind used to fail on the opening backtick, letting
    // RENAME through and wedging every later write)
    spark.sql("CREATE TABLE glc.ns_bt.t (k BIGINT, v BIGINT, " +
      "CONSTRAINT qpos CHECK (`v` > 0))")
    val er = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_bt.t RENAME COLUMN v TO w"))
    assert(er.getMessage.contains("CHECK"), er.getMessage)
    // same for a generation expression with a quoted dependency
    spark.sql("CREATE TABLE glc.ns_bt.g (k BIGINT, ts TIMESTAMP, " +
      "day DATE GENERATED ALWAYS AS (CAST(`ts` AS DATE)))")
    val eg = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_bt.g DROP COLUMN ts"))
    assert(eg.getMessage.contains("GENERATED"), eg.getMessage)
    // an evolved NARROW append omitting the dependency is a lawful
    // write: the null-fill read contract means `day` computes NULL
    // (the typed-null shim makes the expression analyze instead of
    // dying on an unresolved attribute)
    spark.sql("INSERT INTO glc.ns_bt.g VALUES " +
      "(1, TIMESTAMP '2026-01-01 10:00:00', NULL)")
    Export.appendSnapshotEvolved(spark,
      spark.sql("SELECT CAST(2 AS BIGINT) AS k"), s"$wh/ns_bt/g")
    val got = spark.sql(
        "SELECT k, day IS NULL FROM glc.ns_bt.g ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(got.toSeq === Seq((1L, false), (2L, true)))
  }

  test("IDENTITY columns: ALWAYS assigns dense START/INCREMENT ids at write, explicit INSERT values refuse, rewrites keep ids, BY DEFAULT fills only NULL slots, RENAME refuses") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_id")
    spark.sql("CREATE TABLE glc.ns_id.t (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY (START WITH 10 INCREMENT BY 2), v BIGINT)")
    spark.sql("INSERT INTO glc.ns_id.t (v) SELECT id FROM range(5)")
    def idsOf(t: String): Seq[Long] =
      spark.sql(s"SELECT id FROM $t").collect().map(_.getLong(0))
        .sorted.toSeq
    assert(idsOf("glc.ns_id.t") === Seq(10L, 12L, 14L, 16L, 18L),
      "ids must be dense from START by INCREMENT")
    // explicit values refuse on the INSERT surface, nothing commits
    val dir = s"$wh/ns_id/t"
    val v0 = Export.latestSnapshotVersion(dir)
    intercept[Exception](spark.sql(
      "INSERT INTO glc.ns_id.t VALUES (100, 99)"))
    assert(Export.latestSnapshotVersion(dir) === v0,
      "a refused identity INSERT must not commit")
    // a REWRITE carries existing ids through (NULL-slots-only law)
    spark.sql("UPDATE glc.ns_id.t SET v = v + 100 WHERE v <= 1")
    assert(idsOf("glc.ns_id.t") === Seq(10L, 12L, 14L, 16L, 18L),
      "an UPDATE must never re-issue ids")
    // the sequence continues monotone across commits
    spark.sql("INSERT INTO glc.ns_id.t (v) VALUES (7), (8)")
    assert(idsOf("glc.ns_id.t") ===
      Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L))
    // BY DEFAULT: explicit values pass AND advance the watermark
    // (r16, the Delta SYNC IDENTITY contract made automatic) — the
    // next generated id continues ABOVE the explicit one, so a later
    // generated id can never collide with an inserted explicit one
    spark.sql("CREATE TABLE glc.ns_id.d (id BIGINT GENERATED BY " +
      "DEFAULT AS IDENTITY, v BIGINT)")
    spark.sql("INSERT INTO glc.ns_id.d VALUES (100, 1)")
    spark.sql("INSERT INTO glc.ns_id.d (v) VALUES (2)")
    assert(idsOf("glc.ns_id.d") === Seq(100L, 101L),
      "an explicit id must rebase the sequence past itself")
    // RENAME refuses: the allocation watermark is keyed by name
    val er = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_id.t RENAME COLUMN id TO id2"))
    assert(er.getMessage.toLowerCase.contains("identity"), er.getMessage)
    // DESCRIBE DETAIL surfaces the sequence position: 7 ids consumed,
    // so next = 10 + 7*2
    assert(spark.sql(s"SELECT identity_columns FROM graft_detail('$dir')")
      .collect().head.getString(0) === "id(next=24)")
  }

  test("static INSERT OVERWRITE PARTITION: the spec'd partition replaces (empty reload clears), untouched files carry, row-level overwrite filters refuse; COMMENT ON TABLE persists through the property channel") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_os")
    spark.sql("CREATE TABLE glc.ns_os.t (k BIGINT, lang STRING, " +
      "v BIGINT) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO glc.ns_os.t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, id FROM range(6)")
    val dir = s"$wh/ns_os/t"
    spark.sql("INSERT OVERWRITE glc.ns_os.t PARTITION (lang='en') " +
      "SELECT 100, 100")
    val got = spark.sql("SELECT lang, count(*) FROM glc.ns_os.t " +
        "GROUP BY lang ORDER BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("de" -> 3L, "en" -> 1L),
      "only the spec'd partition may change")
    // empty reload still CLEARS the partition (the replaceWhere law)
    spark.sql("INSERT OVERWRITE glc.ns_os.t PARTITION (lang='de') " +
      "SELECT k, v FROM glc.ns_os.t WHERE 1 = 0")
    assert(spark.sql("SELECT count(*) FROM glc.ns_os.t WHERE lang='de'")
      .collect().head.getLong(0) === 0L)
    // a ROW-LEVEL overwrite filter (writeTo.overwrite on a non-layout
    // column) refuses loudly - that shape is DELETE + INSERT or MERGE
    val e = intercept[Exception] {
      spark.range(1).selectExpr("id AS k", "'en' AS lang", "id AS v")
        .writeTo("glc.ns_os.t")
        .overwrite(org.apache.spark.sql.functions.col("v") > 50)
    }
    assert(e.getMessage.contains("partition columns"), e.getMessage)
    // COMMENT ON TABLE rides the property channel and persists
    spark.sql("COMMENT ON TABLE glc.ns_os.t IS 'hourly reload target'")
    assert(Export.snapshotProperties(dir).get("comment")
      === Some("hourly reload target"))
  }

  test("PARTITION MANAGEMENT: SHOW PARTITIONS lists manifest tuples, DROP PARTITION is metadata-only (files carried, time travel intact), missing raises NoSuchPartitions, IF EXISTS no-ops, ADD refuses, dropping the LAST partition keeps the layout") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_pm")
    spark.sql("CREATE TABLE glc.ns_pm.t (k BIGINT, lang STRING, " +
      "v BIGINT) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO glc.ns_pm.t SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' " +
      "ELSE 'fr' END, id FROM range(9)")
    val dir = s"$wh/ns_pm/t"
    assert(spark.sql("SHOW PARTITIONS glc.ns_pm.t").collect()
      .map(_.getString(0)).toSeq === Seq("lang=de", "lang=en", "lang=fr"))
    assert(spark.sql(
        "SHOW PARTITIONS glc.ns_pm.t PARTITION (lang='en')")
      .collect().map(_.getString(0)).toSeq === Seq("lang=en"))
    // DROP PARTITION: one METADATA-ONLY commit — every surviving file
    // carried verbatim, zero bytes rewritten, old version time-travels
    val v0 = Export.latestSnapshotVersion(dir)
    val before = Export.snapshotFiles(dir, v0).toSet
    spark.sql("ALTER TABLE glc.ns_pm.t DROP PARTITION (lang='de')")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    val after = Export.snapshotFiles(dir, v1).toSet
    assert(after.subsetOf(before) && after.size < before.size,
      "DROP PARTITION must carry surviving lines verbatim")
    assert(spark.sql(
        "SELECT count(DISTINCT lang) FROM glc.ns_pm.t")
      .collect().head.getLong(0) === 2)
    assert(spark.sql(
        s"SELECT count(*) FROM glc.ns_pm.t VERSION AS OF $v0")
      .collect().head.getLong(0) === 9, "old version must time-travel")
    // absent partition: Spark's own NoSuchPartitions error; IF EXISTS
    // no-ops; ADD refuses (partitions are implicit)
    intercept[org.apache.spark.sql.catalyst.analysis
      .NoSuchPartitionsException](spark.sql(
      "ALTER TABLE glc.ns_pm.t DROP PARTITION (lang='xx')"))
    spark.sql(
      "ALTER TABLE glc.ns_pm.t DROP IF EXISTS PARTITION (lang='xx')")
    val ea = intercept[Exception](spark.sql(
      "ALTER TABLE glc.ns_pm.t ADD PARTITION (lang='xx')"))
    assert(ea.getMessage.contains("implicit"), ea.getMessage)
    // dropping the LAST partitions leaves zero lines but keeps the
    // DECLARED layout: the next insert lands partitioned again
    spark.sql("ALTER TABLE glc.ns_pm.t DROP PARTITION (lang='en')")
    spark.sql("ALTER TABLE glc.ns_pm.t DROP PARTITION (lang='fr')")
    assert(spark.sql("SELECT count(*) FROM glc.ns_pm.t")
      .collect().head.getLong(0) === 0)
    spark.sql("INSERT INTO glc.ns_pm.t VALUES (100, 'it', 1)")
    assert(spark.sql("SHOW PARTITIONS glc.ns_pm.t").collect()
      .map(_.getString(0)).toSeq === Seq("lang=it"),
      "the layout must survive dropping every partition")
  }

  test("IDENTITY enforcement closes the DML side doors: UPDATE SET / MERGE UPDATE / graft_update refuse identity targets, MERGE INSERT refuses explicit ALWAYS values through the general rewrite, and DROP + CREATE at the same path restarts the sequence at START WITH") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_ide")
    spark.sql("DROP TABLE IF EXISTS glc.ns_ide.t")
    spark.sql("CREATE TABLE glc.ns_ide.t (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, v BIGINT)")
    spark.sql("INSERT INTO glc.ns_ide.t (v) SELECT id FROM range(4)")
    val dir = s"$wh/ns_ide/t"
    val v0 = Export.latestSnapshotVersion(dir)
    // UPDATE SET id = anything (NULL included) refuses, no commit
    val e1 = intercept[Exception](spark.sql(
      "UPDATE glc.ns_ide.t SET id = NULL WHERE v = 1"))
    assert(e1.getMessage.toLowerCase.contains("identity"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "UPDATE glc.ns_ide.t SET id = 999 WHERE v = 1"))
    assert(e2.getMessage.toLowerCase.contains("identity"), e2.getMessage)
    // MERGE UPDATE clause (conditioned => the general rewrite) refuses
    spark.range(2).selectExpr("id AS k", "id + 50 AS nv")
      .createOrReplaceTempView("ide_src")
    val e3 = intercept[Exception](spark.sql(
      "MERGE INTO glc.ns_ide.t t USING ide_src s ON t.v = s.k " +
        "WHEN MATCHED AND s.nv > 0 THEN UPDATE SET id = s.nv"))
    assert(e3.getMessage.toLowerCase.contains("identity"), e3.getMessage)
    // graft_update shares the refusal (Export.updateWhere owns it)
    val e4 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_update('$dir', 'id=7', 'v = 1')").collect())
    assert(e4.getMessage.toLowerCase.contains("identity"), e4.getMessage)
    // MERGE INSERT with an explicit ALWAYS value refuses PER ROW even
    // through the general (replace-commit) rewrite path
    val e5 = intercept[Exception](spark.sql(
      "MERGE INTO glc.ns_ide.t t USING ide_src s ON t.v = s.nv " +
        "WHEN MATCHED AND s.nv > 1000 THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.nv, s.k)"))
    assert(e5.getMessage.toLowerCase.contains("identity"), e5.getMessage)
    assert(Export.latestSnapshotVersion(dir) === v0,
      "refused identity DML must not commit")
    // an unassigned identity column through the same general-rewrite
    // insert leg still draws fresh ids
    spark.sql("MERGE INTO glc.ns_ide.t t USING ide_src s ON t.v = s.nv " +
      "WHEN MATCHED AND s.nv > 1000 THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.nv)")
    val ids = spark.sql("SELECT id FROM glc.ns_ide.t")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (1L to 6L),
      s"general-rewrite inserts must draw dense fresh ids, got $ids")
    // DROP + CREATE at the same path on the same thread: the new
    // table's sequence starts at START WITH, not the dropped table's
    // stale watermark (a commit stamps only the watermarks its own
    // epoch claimed)
    spark.sql("DROP TABLE glc.ns_ide.t")
    spark.sql("CREATE TABLE glc.ns_ide.t (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, v BIGINT)")
    spark.sql("INSERT INTO glc.ns_ide.t (v) VALUES (1)")
    assert(spark.sql("SELECT id FROM glc.ns_ide.t")
      .collect().map(_.getLong(0)).toSeq === Seq(1L),
      "a recreated table must restart its identity sequence")
    assert(!Export.snapshotMeta(dir,
        Export.latestSnapshotVersion(dir)).keys.exists(_ == "idc_id") ||
      Export.snapshotMeta(dir, Export.latestSnapshotVersion(dir))
        .get("idc_id") === Some("1"),
      "the fresh table must not inherit the dropped table's watermark")
  }

  test("DESCRIBE HISTORY falls back to Spark's column-describe when a real table named `history` exists") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_dh")
    spark.sql("DROP TABLE IF EXISTS glc.ns_dh.audit")
    spark.sql("CREATE TABLE glc.ns_dh.audit (doc_id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO glc.ns_dh.audit VALUES (1, 2)")
    // a TEMP VIEW named history: `DESCRIBE history doc_id` is Spark's
    // column-describe of it, not the lake statement
    spark.range(3).selectExpr("id AS doc_id").createOrReplaceTempView(
      "history")
    val cols = spark.sql("DESCRIBE history doc_id").collect()
      .map(_.getString(0)).toSeq
    assert(cols.contains("col_name") || cols.contains("doc_id"),
      s"expected a column-describe frame, got $cols")
    spark.catalog.dropTempView("history")
    // without such a table the lake error stays helpful
    val e = intercept[Exception](spark.sql("DESCRIBE HISTORY nosuch_t"))
    assert(e.getMessage.contains("not a lake table"), e.getMessage)
  }

  test("IDENTITY composes with a PARTITIONED layout: one claim covers the whole epoch across partitions, the sequence continues over commits, and partition pruning still works") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glc.ns_id")
    spark.sql("CREATE TABLE glc.ns_id.p (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, lang STRING, v BIGINT) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO glc.ns_id.p (lang, v) SELECT " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, id FROM range(6)")
    val ids1 = spark.sql("SELECT id FROM glc.ns_id.p")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 === (1L to 6L),
      "ids must be dense across the partitioned epoch's directories")
    spark.sql("INSERT INTO glc.ns_id.p (lang, v) VALUES ('fr', 9)")
    assert(spark.sql("SELECT id FROM glc.ns_id.p WHERE lang = 'fr'")
      .collect().map(_.getLong(0)).toSeq === Seq(7L),
      "the sequence must continue across commits")
    val dir = s"$wh/ns_id/p"
    val v = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotManifestEntries(dir, v)
      .forall(_.partition.contains("lang")),
      "every identity-epoch file must still carry its p= spec")
  }
}
