package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Export, Merge}
import graft.operators.Export.Layout
import graft.sources.GraftLakeCatalog

/** Native MERGE INTO / UPDATE SQL + the deferred-execution contract of
  * the DML procedures (r13 tasks #1/#2): EXPLAIN commits NOTHING, the
  * statements route to the audited commit paths, and the SQL results
  * are row-identical to the Scala-API merges they route to. */
class GraftLakeDmlSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("gld-warehouse").toFile
    spark.conf.set("spark.sql.catalog.gld",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.gld.warehouse", w.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gld.ns")
    w.getAbsolutePath
  }

  test("DML procedures defer to execution: EXPLAIN commits nothing, collect commits once, re-collect of the same frame does not recommit") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.defer (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.defer SELECT id, id FROM range(10)")
    val dir = s"$wh/ns/defer"
    val v0 = Export.latestSnapshotVersion(dir)
    val df = spark.sql(s"SELECT version FROM graft_delete('$dir', 'k % 2 = 0')")
    // ANALYSIS + EXPLAIN must not commit (the r12 execute-on-analyze wart)
    df.explain()
    assert(df.schema.fieldNames.toSeq === Seq("version"))
    assert(Export.latestSnapshotVersion(dir) === v0,
      "EXPLAIN of graft_delete committed a version")
    assert(spark.sql("SELECT count(*) FROM gld.ns.defer")
      .collect().head.getLong(0) === 10)
    // first action commits exactly once
    assert(df.collect().head.getLong(0) === (v0 + 1).toLong)
    assert(Export.latestSnapshotVersion(dir) === v0 + 1)
    // the same DataFrame re-collected shares the cached execution:
    // no second commit
    df.collect()
    assert(Export.latestSnapshotVersion(dir) === v0 + 1)
    assert(spark.sql("SELECT count(*) FROM gld.ns.defer")
      .collect().head.getLong(0) === 5)
  }

  test("TVFs and procedures accept CATALOG NAMES: graft_history/graft_snapshot/graft_delete('cat.ns.t') resolve to the table's directory; CREATE VIEW over a procedure commits nothing until read") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.byname (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.byname SELECT id, id FROM range(6)")
    val dir = s"$wh/ns/byname"
    // TVF reads by NAME = by path
    assert(spark.sql("SELECT count(*) FROM graft_snapshot('gld.ns.byname')")
      .collect().head.getLong(0) === 6)
    assert(spark.sql(
        "SELECT max(version) FROM graft_history('gld.ns.byname')")
      .collect().head.getInt(0) === 2)
    // CREATE VIEW over a DML procedure: analysis only — no commit
    val v0 = Export.latestSnapshotVersion(dir)
    spark.sql("CREATE OR REPLACE TEMP VIEW byname_del AS " +
      "SELECT * FROM graft_delete('gld.ns.byname', 'k = 0')")
    assert(Export.latestSnapshotVersion(dir) === v0,
      "CREATE VIEW over graft_delete committed a version")
    // reading the view IS the call
    assert(spark.sql("SELECT version FROM byname_del")
      .collect().head.getLong(0) === (v0 + 1).toLong)
    assert(spark.sql("SELECT count(*) FROM gld.ns.byname")
      .collect().head.getLong(0) === 5)
    // an unresolvable name passes through verbatim: no such directory →
    // the empty history every nonexistent path gets (no false resolve)
    assert(spark.sql("SELECT * FROM graft_history('gld.ns.nosuch')")
      .collect().isEmpty)
  }

  test("MERGE INTO (unpartitioned): plain SQL upsert ≡ the Scala-API Merge.upsert result") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.m1 (k BIGINT, v BIGINT, s STRING)")
    spark.sql("INSERT INTO gld.ns.m1 " +
      "SELECT id, id * 10, concat('r', id) FROM range(8)")
    spark.range(5, 12)
      .selectExpr("id AS k", "id * 100 AS v", "concat('u', id) AS s")
      .createOrReplaceTempView("m1_src")
    val dir = s"$wh/ns/m1"
    val before = Export.readSnapshot(spark,
      dir, Export.latestSnapshotVersion(dir))
    val expected = Merge.upsert(before, spark.table("m1_src"), Seq("k"))
      .collect().map(_.toSeq).toSet
    spark.sql("MERGE INTO gld.ns.m1 t USING m1_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val got = spark.sql("SELECT k, v, s FROM gld.ns.m1")
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(got.size === 12)
  }

  test("MERGE INTO a partitioned table with layout ⊆ keys routes PARTITION-SCOPED (merged_partitions stamped, untouched partition's files carried verbatim)") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.m2 (k BIGINT, dt STRING, v BIGINT) " +
      "PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gld.ns.m2 SELECT id, " +
      "CASE WHEN id < 5 THEN 'a' ELSE 'b' END, id FROM range(10)")
    val dir = s"$wh/ns/m2"
    val vBefore = Export.latestSnapshotVersion(dir)
    val filesA = Export.snapshotManifestEntries(dir, vBefore)
      .filter(_.partition.get("dt").contains("a")).map(_.path).toSet
    assert(filesA.nonEmpty)
    // updates touch ONLY dt='b'
    spark.range(7, 9).selectExpr("id AS k", "'b' AS dt", "id * 1000 AS v")
      .createOrReplaceTempView("m2_src")
    spark.sql("MERGE INTO gld.ns.m2 t USING m2_src s " +
      "ON t.k = s.k AND t.dt = s.dt " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val vAfter = Export.latestSnapshotVersion(dir)
    assert(vAfter === vBefore + 1)
    assert(Export.snapshotMeta(dir, vAfter).get("merged_partitions")
      === Some("1"))
    // the untouched partition's files carried verbatim — the
    // partition-scoped contract
    val filesAAfter = Export.snapshotManifestEntries(dir, vAfter)
      .filter(_.partition.get("dt").contains("a")).map(_.path).toSet
    assert(filesAAfter === filesA)
    val got = spark.sql("SELECT v FROM gld.ns.m2 WHERE k IN (7, 8) " +
        "ORDER BY k").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(7000L, 8000L))
    assert(spark.sql("SELECT count(*) FROM gld.ns.m2")
      .collect().head.getLong(0) === 10)
  }

  test("EXPLAIN MERGE INTO commits nothing; unsupported MERGE shapes are refused loudly") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.m3 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.m3 SELECT id, id FROM range(4)")
    spark.range(2, 6).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("m3_src")
    val dir = s"$wh/ns/m3"
    val v0 = Export.latestSnapshotVersion(dir)
    spark.sql("EXPLAIN MERGE INTO gld.ns.m3 t USING m3_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    assert(Export.latestSnapshotVersion(dir) === v0,
      "EXPLAIN MERGE INTO committed a version")
    // genuinely inexpressible shapes stay refused, nothing half-applied
    def msgOf(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    val e = intercept[Exception] {
      spark.sql("MERGE INTO gld.ns.m3 t USING m3_src s ON t.k >= s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    // r15: the message names the two supported conjunct shapes (a
    // cross-side inequality is neither a key equality nor a
    // target-side filter)
    assert(msgOf(e).contains("target=source column equality"))
    assert(Export.latestSnapshotVersion(dir) === v0)
    // an ON clause binding one target column to DIFFERENT source
    // expressions is refused — any single-join rewrite would silently
    // drop one equality (r13 ADVICE #4)
    val e2 = intercept[Exception] {
      spark.sql("MERGE INTO gld.ns.m3 t USING m3_src s " +
        "ON t.k = s.k AND t.k = s.v " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(msgOf(e2).contains("DIFFERENT source"))
    assert(Export.latestSnapshotVersion(dir) === v0)
    // INSERT-IF-ABSENT shape: only the keys NOT in the table append
    // (4,5 new; 2,3 skipped), the commit is an APPEND — no rewrite
    spark.sql("MERGE INTO gld.ns.m3 t USING m3_src s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(Export.latestSnapshotVersion(dir) === v0 + 1)
    assert(Export.snapshotOperation(dir, v0 + 1) === Some("append"))
    assert(spark.sql("SELECT k FROM gld.ns.m3 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === (0L to 5L))
    // MERGE-DELETE shape: matched keys vanish (0..5 matched by src 2..5)
    spark.sql("MERGE INTO gld.ns.m3 t USING m3_src s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE")
    assert(Export.latestSnapshotVersion(dir) === v0 + 2)
    assert(spark.sql("SELECT k FROM gld.ns.m3 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L))
  }

  test("UPDATE: SQL result matches the predicate semantics, prunes via manifest tags (untouched partition carried verbatim), and EXPLAIN UPDATE commits nothing") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.u1 (k BIGINT, dt STRING, v BIGINT) " +
      "PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gld.ns.u1 SELECT id, " +
      "CASE WHEN id < 5 THEN 'a' ELSE 'b' END, id FROM range(10)")
    val dir = s"$wh/ns/u1"
    val v0 = Export.latestSnapshotVersion(dir)
    spark.sql("EXPLAIN UPDATE gld.ns.u1 SET v = v + 1 WHERE dt = 'a'")
      .collect()
    assert(Export.latestSnapshotVersion(dir) === v0,
      "EXPLAIN UPDATE committed a version")
    val filesB = Export.snapshotManifestEntries(dir, v0)
      .filter(_.partition.get("dt").contains("b")).map(_.path).toSet
    spark.sql("UPDATE gld.ns.u1 SET v = v * 10 + k WHERE dt = 'a' AND k >= 2")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotOperation(dir, v1) === Some("update"))
    // dt='b' files provably excluded by the p= tag: carried verbatim
    val filesBAfter = Export.snapshotManifestEntries(dir, v1)
      .filter(_.partition.get("dt").contains("b")).map(_.path).toSet
    assert(filesBAfter === filesB,
      "UPDATE rewrote files its predicate provably excludes")
    val got = spark.sql("SELECT k, v FROM gld.ns.u1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L until 10L).map { k =>
      (k, if (k >= 2 && k < 5) k * 10 + k else k)
    }
    assert(got === expected)
  }

  test("updateWhere: NULL-evaluating predicates keep rows (SQL semantics) and a no-match predicate with full pruning is a no-op commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gld-upd").toFile.getAbsolutePath
    Seq((1L, Some(5L)), (2L, None), (3L, Some(9L)))
      .toDF("k", "v").write.format("graftlake").save(dir)
    val v1 = Export.updateWhere(spark, dir,
      Seq("v" -> (col("v") + 100L)), col("v") > 6L)
    // NULL predicate row (k=2) unchanged, k=3 updated
    val got = Export.readSnapshot(spark, dir, v1)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, 5L), (2L, -1L), (3L, 109L)))
    // stats-pruned no-op: k is s=-tagged? (plain epochs carry no s= tag,
    // so this exercises the no-crash path: predicate matches nothing,
    // but files can't be excluded — a real commit with identical rows)
    val v2 = Export.updateWhere(spark, dir,
      Seq("v" -> lit(0L)), col("k") > 100L)
    assert(Export.readSnapshot(spark, dir, v2)
      .filter(col("v") === 0L).count() === 0)
  }

  test("conditioned/mixed MERGE actions: first-true clause per row (CDC D/U/I shape), EXPLAIN commits nothing, deferred to execution") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.mc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.mc SELECT id, id * 10 FROM range(6)")
    // op D for k∈{0,3}; op U (v+1000) for k∈{1,4}; op I for k∈{10,11}
    spark.sql("""SELECT * FROM VALUES
        (0L, 0L, 'D'), (3L, 30L, 'D'),
        (1L, 1010L, 'U'), (4L, 1040L, 'U'),
        (10L, 100L, 'I'), (11L, 110L, 'I') AS t(k, v, op)""")
      .createOrReplaceTempView("mc_src")
    val dir = s"$wh/ns/mc"
    val v0 = Export.latestSnapshotVersion(dir)
    val stmt = "MERGE INTO gld.ns.mc t USING mc_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
      "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, v) " +
      "VALUES (s.k, s.v)"
    spark.sql(s"EXPLAIN $stmt").collect()
    assert(Export.latestSnapshotVersion(dir) === v0,
      "EXPLAIN of a conditioned MERGE committed a version")
    spark.sql(stmt)
    assert(Export.latestSnapshotVersion(dir) === v0 + 1)
    val got = spark.sql("SELECT k, v FROM gld.ns.mc ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 0,3 deleted; 1,4 updated; 2,5 carried; 10,11 inserted
    assert(got === Seq((1L, 1010L), (2L, 20L), (4L, 1040L),
      (5L, 50L), (10L, 100L), (11L, 110L)))
  }

  test("WHEN NOT MATCHED BY SOURCE: conditioned UPDATE and DELETE run per unmatched target row; matched update composes") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.mbs (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.mbs SELECT id, id FROM range(8)")
    spark.range(0, 4).selectExpr("id AS k", "id + 100 AS v")
      .createOrReplaceTempView("mbs_src")
    spark.sql("MERGE INTO gld.ns.mbs t USING mbs_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v - 1")
    val got = spark.sql("SELECT k, v FROM gld.ns.mbs ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 0..3 matched → v=k+100; 4,6 unmatched even → deleted;
    // 5,7 unmatched odd → v-1 (first-true resolution: the DELETE
    // clause fires first only where its condition holds)
    assert(got === Seq((0L, 100L), (1L, 101L), (2L, 102L), (3L, 103L),
      (5L, 4L), (7L, 6L)))
  }

  test("general MERGE refuses duplicate source merge keys (SQL cardinality law) BEFORE any write; conditioned insert-only commits as APPEND") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.mcard (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.mcard SELECT id, id FROM range(4)")
    spark.sql("SELECT * FROM VALUES (1L, 7L), (1L, 8L), (2L, 9L) " +
      "AS t(k, v)").createOrReplaceTempView("mcard_dup")
    val dir = s"$wh/ns/mcard"
    val v0 = Export.latestSnapshotVersion(dir)
    val e = intercept[Exception] {
      spark.sql("MERGE INTO gld.ns.mcard t USING mcard_dup s " +
        "ON t.k = s.k " +
        "WHEN MATCHED AND s.v > 7 THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    }
    assert((e.getMessage +
        Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("cardinality"))
    assert(Export.latestSnapshotVersion(dir) === v0,
      "a cardinality-violating MERGE must commit nothing")
    // conditioned insert-only (no matched/by-source clauses): APPEND
    // commit against the envelope-pruned key scan — never a rewrite
    spark.sql("SELECT * FROM VALUES (2L, 200L, false), (9L, 900L, true)," +
      " (8L, 800L, false) AS t(k, v, keep)")
      .createOrReplaceTempView("mcard_ins")
    spark.sql("MERGE INTO gld.ns.mcard t USING mcard_ins s ON t.k = s.k " +
      "WHEN NOT MATCHED AND s.keep THEN INSERT (k, v) VALUES (s.k, s.v)")
    assert(Export.latestSnapshotVersion(dir) === v0 + 1)
    assert(Export.snapshotOperation(dir, v0 + 1) === Some("append"))
    assert(spark.sql("SELECT k FROM gld.ns.mcard ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 9L))
  }

  test("native UPDATE routes merge-on-read via the graft.update.mode=mor table property; UNSET returns to copy-on-write") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.umor (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.umor SELECT id, id FROM range(10)")
    val dir = s"$wh/ns/umor"
    spark.sql("ALTER TABLE gld.ns.umor " +
      "SET TBLPROPERTIES ('graft.update.mode' = 'mor')")
    assert(Export.snapshotProperties(dir)
      .get("graft.update.mode") === Some("mor"))
    val v0 = Export.latestSnapshotVersion(dir)
    val filesBefore = Export.snapshotFiles(dir, v0).toSet
    spark.sql("UPDATE gld.ns.umor SET v = v + 100 WHERE k % 3 = 1")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotOperation(dir, v1) === Some("merge"),
      "property-routed UPDATE must take the MoR path")
    assert(Export.snapshotHasDeletionVectors(dir, v1))
    assert(filesBefore.subsetOf(Export.snapshotFiles(dir, v1).toSet),
      "MoR UPDATE must not rewrite existing data files")
    // UNSET: back to copy-on-write (op=update, no new DVs needed for
    // assertion — the op stamp is the router's fingerprint)
    spark.sql("ALTER TABLE gld.ns.umor " +
      "UNSET TBLPROPERTIES ('graft.update.mode')")
    assert(Export.snapshotProperties(dir).get("graft.update.mode")
      === None)
    spark.sql("UPDATE gld.ns.umor SET v = v + 1 WHERE k = 0")
    val v3 = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotOperation(dir, v3) === Some("update"),
      "without the property, UPDATE must stay copy-on-write")
    val got = spark.sql("SELECT k, v FROM gld.ns.umor ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L until 10L).map { k =>
      (k, if (k == 0) 1L else if (k % 3 == 1) k + 100 else k) }
    assert(got === expected)
  }

  test("conditioned MERGE on a partitioned table with layout ⊆ keys scopes to the touched partitions: untouched carried, emptied dropped, new-partition insert lands") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.mcp (k BIGINT, dt STRING, v BIGINT) " +
      "PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gld.ns.mcp SELECT id, " +
      "CASE WHEN id < 4 THEN 'a' WHEN id < 8 THEN 'b' ELSE 'c' END, id " +
      "FROM range(12)")
    val dir = s"$wh/ns/mcp"
    val v0 = Export.latestSnapshotVersion(dir)
    val filesC = Export.snapshotManifestEntries(dir, v0)
      .filter(_.partition.get("dt").contains("c")).map(_.path).toSet
    // delete ALL of 'b', update one 'a' row, insert into NEW 'd'
    spark.sql("""SELECT * FROM VALUES
        (4L, 'b', 0L, 'D'), (5L, 'b', 0L, 'D'),
        (6L, 'b', 0L, 'D'), (7L, 'b', 0L, 'D'),
        (1L, 'a', 111L, 'U'), (100L, 'd', 777L, 'I')
        AS t(k, dt, v, op)""").createOrReplaceTempView("mcp_src")
    spark.sql("MERGE INTO gld.ns.mcp t USING mcp_src s " +
      "ON t.k = s.k AND t.dt = s.dt " +
      "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
      "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, dt, v) " +
      "VALUES (s.k, s.dt, s.v)")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    // touched = the source keys' partitions: a, b, d
    assert(Export.snapshotMeta(dir, v1).get("merged_partitions")
      === Some("3"))
    val filesCAfter = Export.snapshotManifestEntries(dir, v1)
      .filter(_.partition.get("dt").contains("c")).map(_.path).toSet
    assert(filesCAfter === filesC,
      "scoped conditioned MERGE rewrote an untouched partition")
    assert(Export.snapshotManifestEntries(dir, v1)
      .forall(!_.partition.get("dt").contains("b")),
      "emptied partition must drop from the new version")
    val got = spark.sql("SELECT k, dt, v FROM gld.ns.mcp ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val expected = Seq((0L, "a", 0L), (1L, "a", 111L), (2L, "a", 2L),
      (3L, "a", 3L)) ++ (8L until 12L).map(k => (k, "c", k)) :+
      ((100L, "d", 777L))
    assert(got === expected)
  }

  test("native DELETE FROM: arbitrary (non-Filter) predicates work, EXPLAIN commits nothing, graft.delete.mode=mor routes deletion vectors") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.dl (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.dl SELECT id, id FROM range(12)")
    val dir = s"$wh/ns/dl"
    val v0 = Export.latestSnapshotVersion(dir)
    spark.sql("EXPLAIN DELETE FROM gld.ns.dl WHERE k % 3 = 0").collect()
    assert(Export.latestSnapshotVersion(dir) === v0,
      "EXPLAIN DELETE committed a version")
    // modulo is not expressible as a v2 source Filter — the rewrite
    // hands the full expression to deleteWhere (copy-on-write default)
    spark.sql("DELETE FROM gld.ns.dl WHERE k % 3 = 0 AND v * 2 >= k")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotOperation(dir, v1) === Some("delete"))
    assert(spark.sql("SELECT k FROM gld.ns.dl ORDER BY k")
      .collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L, 11L))
    // MoR routing via the table property
    spark.sql("ALTER TABLE gld.ns.dl " +
      "SET TBLPROPERTIES ('graft.delete.mode' = 'mor')")
    val filesBefore = Export.snapshotFiles(dir,
      Export.latestSnapshotVersion(dir)).toSet
    spark.sql("DELETE FROM gld.ns.dl WHERE k % 4 = 1")
    val v3 = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotHasDeletionVectors(dir, v3),
      "property-routed DELETE must take the MoR path")
    assert(filesBefore.subsetOf(Export.snapshotFiles(dir, v3).toSet),
      "MoR DELETE must not rewrite existing data files")
    assert(spark.sql("SELECT k FROM gld.ns.dl ORDER BY k")
      .collect().map(_.getLong(0)).toSeq ===
      Seq(2L, 4L, 7L, 8L, 10L, 11L))
  }

  test("canonical SET*/INSERT* MERGE on a graft.cluster.key table is ZONE-SCOPED: envelope-disjoint files carry verbatim, fresh epoch re-clusters") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.mz (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.cluster.key' = 'k')")
    spark.sql("INSERT INTO gld.ns.mz SELECT id, id FROM range(100)")
    val dir = s"$wh/ns/mz"
    Export.compactSnapshot(spark, dir,
      layout = Some(Layout.Clustered("k", nFiles = 5)))
    val v0 = Export.latestSnapshotVersion(dir)
    val hiBefore = Export.snapshotManifestEntries(dir, v0)
      .filter(_.zone.exists(_._1 > 9L)).map(_.path).toSet
    assert(hiBefore.nonEmpty, "fixture must have zone-disjoint files")
    spark.sql("SELECT id AS k, id + 100 AS v FROM range(10) " +
      "UNION ALL SELECT -5L, 777L")
      .createOrReplaceTempView("mz_src")
    spark.sql("MERGE INTO gld.ns.mz t USING mz_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(hiBefore.subsetOf(Export.snapshotFiles(dir, v1).toSet),
      "zone-scoped canonical upsert rewrote envelope-disjoint files")
    // fresh epoch re-clustered: every line still zoned
    assert(Export.snapshotManifestEntries(dir, v1)
      .forall(_.zone.nonEmpty), "merge must not erode the zoned layout")
    val got = spark.sql("SELECT k, v FROM gld.ns.mz ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = ((-5L, 777L) +: (0L until 100L).map(k =>
      (k, if (k < 10) k + 100 else k))).toSeq
    assert(got === expected)
  }

  test("MERGE-DELETE with layout ⊆ keys routes PARTITION-SCOPED: deleted_partitions stamped, untouched partition carried verbatim, emptied partition dropped") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.mdp (k BIGINT, dt STRING, v BIGINT) " +
      "PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gld.ns.mdp SELECT id, " +
      "CASE WHEN id < 4 THEN 'a' WHEN id < 8 THEN 'b' ELSE 'c' END, id " +
      "FROM range(12)")
    val dir = s"$wh/ns/mdp"
    val v0 = Export.latestSnapshotVersion(dir)
    val filesC = Export.snapshotManifestEntries(dir, v0)
      .filter(_.partition.get("dt").contains("c")).map(_.path).toSet
    // delete HALF of 'a' and ALL of 'b' — 'c' untouched
    spark.sql("SELECT * FROM VALUES (0L, 'a'), (1L, 'a'), (4L, 'b'), " +
      "(5L, 'b'), (6L, 'b'), (7L, 'b') AS t(k, dt)")
      .createOrReplaceTempView("mdp_keys")
    spark.sql("MERGE INTO gld.ns.mdp t USING mdp_keys s " +
      "ON t.k = s.k AND t.dt = s.dt WHEN MATCHED THEN DELETE")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotMeta(dir, v1).get("deleted_partitions")
      === Some("2"))
    val filesCAfter = Export.snapshotManifestEntries(dir, v1)
      .filter(_.partition.get("dt").contains("c")).map(_.path).toSet
    assert(filesCAfter === filesC,
      "partition-scoped MERGE-DELETE rewrote an untouched partition")
    // 'b' emptied ENTIRELY: its lines must drop even though the fresh
    // epoch wrote no file for it (the explicit replace-tuple law)
    assert(Export.snapshotManifestEntries(dir, v1)
      .forall(!_.partition.get("dt").contains("b")))
    assert(spark.sql("SELECT k FROM gld.ns.mdp ORDER BY k")
      .collect().map(_.getLong(0)).toSeq ===
      Seq(2L, 3L, 8L, 9L, 10L, 11L))
  }

  test("MERGE WITH SCHEMA EVOLUTION: new source columns land as metadata-only ADD COLUMN commits, pre-evolution rows read back null, SET*/INSERT* carry the evolved width") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.ev (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.ev SELECT id, id FROM range(4)")
    spark.range(2, 6)
      .selectExpr("id AS k", "id * 10 AS v", "concat('t', id) AS tag")
      .createOrReplaceTempView("ev_src")
    val dir = s"$wh/ns/ev"
    val v0 = Export.latestSnapshotVersion(dir)
    // WITHOUT the clause, the same statement must NOT silently evolve:
    // SET */INSERT * expand against the target's columns only, so the
    // extra source column is ignored and the schema stays 2-wide
    spark.sql("MERGE INTO gld.ns.ev t USING ev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(Export.snapshotSchema(dir,
        Export.latestSnapshotVersion(dir)).get.fieldNames.toSeq ===
      Seq("k", "v"))
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO gld.ns.ev t " +
      "USING ev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val head = Export.latestSnapshotVersion(dir)
    assert(Export.snapshotSchema(dir, head).get.fieldNames.toSeq ===
      Seq("k", "v", "tag"),
      "WITH SCHEMA EVOLUTION must add the source-only column")
    // the evolution itself is a metadata-only commit (op=widen family,
    // zero data files rewritten for it) followed by the merge commit
    assert(head > v0 + 1, "expected ADD COLUMN commit + merge commit")
    val rows = spark.sql(
        "SELECT k, v, tag FROM gld.ns.ev ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq === Seq(
      (0L, 0L, null), (1L, 1L, null), (2L, 20L, "t2"), (3L, 30L, "t3"),
      (4L, 40L, "t4"), (5L, 50L, "t5")))
    // pre-evolution versions still time-travel with their own width
    assert(Export.readSnapshot(spark, dir, v0).columns.toSeq ===
      Seq("k", "v"))
  }

  test("TRUNCATE TABLE: one zero-line replace commit - rows gone, schema and declared layout survive, old versions time-travel, partition-scoped DML still works after the next insert") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.tr (k BIGINT, dt STRING, v BIGINT) " +
      "PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gld.ns.tr SELECT id, " +
      "CASE WHEN id < 4 THEN 'a' ELSE 'b' END, id FROM range(8)")
    val dir = s"$wh/ns/tr"
    val v0 = Export.latestSnapshotVersion(dir)
    spark.sql("TRUNCATE TABLE gld.ns.tr")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(spark.sql("SELECT count(*) FROM gld.ns.tr")
      .collect().head.getLong(0) === 0L)
    assert(Export.snapshotFiles(dir, v1).isEmpty,
      "TRUNCATE must commit zero data lines")
    // pre-truncate state still time-travels (logical replace, no
    // file deletes)
    assert(Export.readSnapshot(spark, dir, v0).count() === 8L)
    // the declared layout SURVIVES the zero-line head: the next insert
    // lands partitioned and partition-scoped DML keeps working
    assert(Export.declaredPartitionColumns(dir) === Seq("dt"))
    spark.sql("INSERT INTO gld.ns.tr SELECT id, " +
      "CASE WHEN id < 2 THEN 'a' ELSE 'b' END, id * 2 FROM range(4)")
    spark.sql("SELECT * FROM VALUES (0L, 'a') AS t(k, dt)")
      .createOrReplaceTempView("tr_keys")
    spark.sql("MERGE INTO gld.ns.tr t USING tr_keys s " +
      "ON t.k = s.k AND t.dt = s.dt WHEN MATCHED THEN DELETE")
    assert(Export.snapshotMeta(dir, Export.latestSnapshotVersion(dir))
      .get("deleted_partitions") === Some("1"),
      "post-truncate table must still route partition-scoped")
    assert(spark.sql("SELECT k FROM gld.ns.tr ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("INSERT OVERWRITE under dynamic partition-overwrite mode replaces ONLY the touched partitions (untouched files carried verbatim); EXPLAIN commits nothing; static mode keeps the full replace") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.dyn (k BIGINT, dt STRING) " +
      "PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gld.ns.dyn SELECT id, " +
      "CASE WHEN id < 4 THEN 'a' ELSE 'b' END FROM range(8)")
    val dir = s"$wh/ns/dyn"
    val v0 = Export.latestSnapshotVersion(dir)
    val filesB = Export.snapshotManifestEntries(dir, v0)
      .filter(_.partition.get("dt").contains("b")).map(_.path).toSet
    assert(filesB.nonEmpty)
    val prev = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      // EXPLAIN plans the deferred command without committing
      spark.sql("EXPLAIN INSERT OVERWRITE gld.ns.dyn " +
        "SELECT id + 100, 'a' FROM range(2)").collect()
      assert(Export.latestSnapshotVersion(dir) === v0,
        "EXPLAIN INSERT OVERWRITE (dynamic) committed a version")
      spark.sql("INSERT OVERWRITE gld.ns.dyn " +
        "SELECT id + 100, 'a' FROM range(2)")
      val v1 = Export.latestSnapshotVersion(dir)
      assert(v1 === v0 + 1)
      assert(Export.snapshotMeta(dir, v1).get("overwritten_partitions")
        === Some("1"))
      val filesBAfter = Export.snapshotManifestEntries(dir, v1)
        .filter(_.partition.get("dt").contains("b")).map(_.path).toSet
      assert(filesBAfter === filesB,
        "dynamic overwrite rewrote an untouched partition")
      assert(spark.sql("SELECT k FROM gld.ns.dyn ORDER BY k")
        .collect().map(_.getLong(0)).toSeq ===
        Seq(4L, 5L, 6L, 7L, 100L, 101L))
    } finally {
      prev.fold(spark.conf.unset(
        "spark.sql.sources.partitionOverwriteMode"))(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    }
    // back in static mode: INSERT OVERWRITE is the classic full replace
    spark.sql("INSERT OVERWRITE gld.ns.dyn SELECT id, 'c' FROM range(3)")
    assert(spark.sql("SELECT count(*) FROM gld.ns.dyn")
      .collect().head.getLong(0) === 3L)
  }

  test("MERGE-DELETE on a graft.cluster.key table is ZONE-SCOPED: envelope-disjoint files carry verbatim, deleted_envelope stamped") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.zd (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.cluster.key' = 'k')")
    spark.sql("INSERT INTO gld.ns.zd SELECT id, id FROM range(1000)")
    val dir = s"$wh/ns/zd"
    Export.compactSnapshot(spark, dir,
      layout = Some(Layout.Clustered("k", nFiles = 5)))
    val v0 = Export.latestSnapshotVersion(dir)
    val hiBefore = Export.snapshotManifestEntries(dir, v0)
      .filter(_.zone.exists(_._1 > 400L)).map(_.path).toSet
    assert(hiBefore.nonEmpty, "fixture produced no high-zone files")
    // delete keys 0..99 — the low zone only
    spark.range(0, 100).selectExpr("id AS k")
      .createOrReplaceTempView("zd_keys")
    spark.sql("MERGE INTO gld.ns.zd t USING zd_keys s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotMeta(dir, v1).contains("deleted_envelope"),
      "MERGE-DELETE on a clustered table must route zone-scoped")
    assert(hiBefore.subsetOf(Export.snapshotFiles(dir, v1).toSet),
      "zone-scoped MERGE-DELETE rewrote envelope-disjoint files")
    assert(spark.sql("SELECT count(*), min(k) FROM gld.ns.zd")
      .collect().head.toSeq === Seq(900L, 100L))
  }

  test("MERGE on a TIMESTAMP graft.cluster.key scopes by the micros envelope: files sharing only the batch's second carry verbatim, the replayed rows land") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.tsz (ts TIMESTAMP, v BIGINT) " +
      "TBLPROPERTIES ('graft.cluster.key' = 'ts')")
    // two epochs inside the same seconds: 10.0-10.4 s and 10.6-11.0 s
    spark.sql("INSERT INTO gld.ns.tsz SELECT timestamp_micros(" +
      "1700000010000000 + id * 100000), id FROM range(5)")
    spark.sql("INSERT INTO gld.ns.tsz SELECT timestamp_micros(" +
      "1700000010600000 + id * 100000), 10 + id FROM range(5)")
    val dir = s"$wh/ns/tsz"
    val v0 = Export.latestSnapshotVersion(dir)
    val late = Export.snapshotAddedFiles(dir, v0).toSet
    // update 10.2 s, insert 10.25 s: the envelope misses every late file
    spark.sql("SELECT timestamp_micros(1700000010200000) AS ts, 99L AS v " +
      "UNION ALL SELECT timestamp_micros(1700000010250000), 98L")
      .createOrReplaceTempView("tsz_src")
    spark.sql("MERGE INTO gld.ns.tsz t USING tsz_src s ON t.ts = s.ts " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(late.subsetOf(Export.snapshotFiles(dir, v1).toSet),
      "a file the micros envelope rules out was rewritten")
    val got = spark.sql("SELECT unix_micros(ts) - 1700000010000000, v " +
      "FROM gld.ns.tsz").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val want = ((0L until 5L).map(i => (i * 100000, if (i == 2) 99L else i)) ++
      Seq((250000L, 98L)) ++
      (0L until 5L).map(i => (600000 + i * 100000, 10 + i))).sortBy(_._1)
    assert(got === want)
  }

  test("struct-field UPDATE: SET meta.score folds into one withField rebuild - values row-exact, NULL struct stays NULL, overlapping assignments refuse without a commit") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.nup (k BIGINT, lang STRING, " +
      "meta STRUCT<n: BIGINT, score: DOUBLE>)")
    spark.sql("INSERT INTO gld.ns.nup SELECT id, 'en', " +
      "CASE WHEN id = 3 THEN NULL " +
      "ELSE named_struct('n', id * 10, 'score', CAST(id AS DOUBLE)) END " +
      "FROM range(6)")
    val dir = s"$wh/ns/nup"
    val v0 = Export.latestSnapshotVersion(dir)
    // overlapping root assignments refuse BEFORE any write
    val overlap = intercept[Exception](spark.sql(
      "UPDATE gld.ns.nup SET meta = NULL, meta.score = 1.0 WHERE k = 1"))
    assert(overlap.getMessage.toLowerCase.contains("assign"))
    assert(Export.latestSnapshotVersion(dir) === v0,
      "refused UPDATE must not commit")
    // two fields of one struct + a sibling top-level column in ONE
    // statement; the untouched field (meta.n) carries
    spark.sql("UPDATE gld.ns.nup SET meta.score = meta.score * 2 + k, " +
      "meta.n = meta.n + 1, lang = 'xx' WHERE k % 2 = 1")
    assert(Export.latestSnapshotVersion(dir) === v0 + 1)
    val got = spark.sql("SELECT k, lang, meta.n, meta.score " +
      "FROM gld.ns.nup ORDER BY k").collect().map(_.toSeq)
    assert(got(1) === Seq(1L, "xx", 11L, 3.0))   // 1*2+1
    assert(got(5) === Seq(5L, "xx", 51L, 15.0))  // 5*2+5
    assert(got(2) === Seq(2L, "en", 20L, 2.0))   // unmatched carries
    assert(got(3) === Seq(3L, "xx", null, null), // NULL struct stays NULL
      "a NULL struct must stay NULL through a field update")
  }

  test("struct-field MERGE UPDATE: a conditioned clause assigns t.meta.score + s.bump; nested INSERT targets refuse; MoR property routes the nested UPDATE with zero rewrites") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.nmg (k BIGINT, " +
      "meta STRUCT<n: BIGINT, score: DOUBLE>)")
    spark.sql("INSERT INTO gld.ns.nmg SELECT id, " +
      "named_struct('n', id, 'score', CAST(id AS DOUBLE)) FROM range(8)")
    val dir = s"$wh/ns/nmg"
    spark.range(0, 12, 2).selectExpr("id AS k", "CAST(id % 3 AS DOUBLE) AS bump")
      .createOrReplaceTempView("nmg_src")
    spark.sql("MERGE INTO gld.ns.nmg t USING nmg_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.bump > 0 " +
      "THEN UPDATE SET meta.score = t.meta.score + s.bump " +
      "WHEN NOT MATCHED THEN INSERT (k, meta) VALUES (s.k, " +
      "named_struct('n', CAST(-1 AS BIGINT), 'score', s.bump))")
    val got = spark.sql("SELECT k, meta.n, meta.score FROM gld.ns.nmg " +
      "ORDER BY k").collect().map(_.toSeq)
    // matched, bump>0: k=2 (bump 2.0) -> 4.0; k=4 (bump 1.0) -> 5.0;
    // matched, bump=0: k=0, k=6 carry; odd rows carry; 8,10 insert
    assert(got.toSeq === Seq(
      Seq(0L, 0L, 0.0), Seq(1L, 1L, 1.0), Seq(2L, 2L, 4.0),
      Seq(3L, 3L, 3.0), Seq(4L, 4L, 5.0), Seq(5L, 5L, 5.0),
      Seq(6L, 6L, 6.0), Seq(7L, 7L, 7.0), Seq(8L, -1L, 2.0),
      Seq(10L, -1L, 1.0)))
    // nested INSERT target: no base row to rebuild - refuse loudly
    val e = intercept[Exception](spark.sql(
      "MERGE INTO gld.ns.nmg t USING nmg_src s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k, meta.score) VALUES " +
        "(s.k, s.bump)"))
    assert(e.getMessage.contains("INSERT") ||
      e.getMessage.toLowerCase.contains("field"))
    // MoR property: the nested UPDATE deletion-vectors + appends, no
    // data file rewritten
    spark.sql("ALTER TABLE gld.ns.nmg " +
      "SET TBLPROPERTIES ('graft.update.mode' = 'mor')")
    val v0 = Export.latestSnapshotVersion(dir)
    val before = Export.snapshotFiles(dir, v0).toSet
    spark.sql("UPDATE gld.ns.nmg SET meta.score = 0.5 WHERE k = 7")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotHasDeletionVectors(dir, v1))
    assert(before.subsetOf(Export.snapshotFiles(dir, v1).toSet),
      "MoR nested UPDATE must not rewrite data files")
    assert(spark.sql("SELECT meta.score FROM gld.ns.nmg WHERE k = 7")
      .collect().head.getDouble(0) === 0.5)
  }

  test("MERGE INSERT clauses honor column DEFAULTs: an unassigned column takes its declared DEFAULT, not NULL") {
    spark.sql("CREATE TABLE gld.ns.mdef (k BIGINT, " +
      "lang STRING DEFAULT 'und', v BIGINT)")
    spark.sql("INSERT INTO gld.ns.mdef VALUES (1, 'en', 10), " +
      "(2, 'de', 20)")
    spark.range(2, 5).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("mdef_src")
    spark.sql("MERGE INTO gld.ns.mdef t USING mdef_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    val got = spark.sql("SELECT k, lang, v FROM gld.ns.mdef ORDER BY k")
      .collect().map(_.toSeq)
    assert(got.toSeq === Seq(
      Seq(1L, "en", 10L), Seq(2L, "de", 200L),
      Seq(3L, "und", 300L), Seq(4L, "und", 400L)),
      "unassigned INSERT columns must take their DEFAULT")
  }

  test("graft_detail: one manifest-only row - version/op/file+byte counts, layout, DV count, schema width, properties, constraints") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.dtl (k BIGINT, lang STRING, " +
      "v BIGINT, CONSTRAINT pos CHECK (v >= 0)) PARTITIONED BY (lang) " +
      "TBLPROPERTIES ('graft.update.mode' = 'mor')")
    spark.sql("INSERT INTO gld.ns.dtl SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, id FROM range(8)")
    spark.sql("UPDATE gld.ns.dtl SET v = v + 1 WHERE k = 3") // MoR: dv=
    val dir = s"$wh/ns/dtl"
    val r = spark.sql(s"SELECT * FROM graft_detail('$dir')")
      .collect().head
    def s(n: String) = r.getString(r.fieldIndex(n))
    def l(n: String) = r.getLong(r.fieldIndex(n))
    assert(s("format") === "graftlake")
    assert(l("version") === Export.latestSnapshotVersion(dir).toLong)
    assert(s("operation") === "merge") // the MoR UPDATE's commit kind
    assert(l("num_files") >= 2 && l("size_bytes") > 0)
    assert(l("num_dv_files") >= 1, "the MoR update must show dv files")
    assert(s("partition_columns") === "lang")
    assert(l("num_columns") === 3)
    assert(s("properties").contains("graft.update.mode=mor"))
    assert(s("constraints") === "pos: v >= 0")
    // by NAME too, like every TVF
    assert(spark.sql("SELECT num_files FROM graft_detail('gld.ns.dtl')")
      .collect().head.getLong(0) === l("num_files"))
  }

  test("graft_update accepts dotted struct-field assignments (meta.score=expr), folding per root; duplicate whole-column assignment refuses") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.ndt (k BIGINT, " +
      "meta STRUCT<n: BIGINT, score: DOUBLE>)")
    spark.sql("INSERT INTO gld.ns.ndt SELECT id, " +
      "named_struct('n', id, 'score', CAST(id AS DOUBLE)) FROM range(4)")
    val dir = s"$wh/ns/ndt"
    val v = spark.sql(s"SELECT version FROM graft_update('$dir', " +
      "'meta.score=meta.score + 100;meta.n=k', 'k >= 2')")
      .collect().head.getLong(0)
    assert(v === Export.latestSnapshotVersion(dir).toLong)
    val got = spark.sql("SELECT k, meta.n, meta.score FROM gld.ns.ndt " +
      "ORDER BY k").collect().map(_.toSeq)
    assert(got.toSeq === Seq(Seq(0L, 0L, 0.0), Seq(1L, 1L, 1.0),
      Seq(2L, 2L, 102.0), Seq(3L, 3L, 103.0)))
    val dup = intercept[Exception](spark.sql(
      s"SELECT version FROM graft_update('$dir', " +
        "'meta=NULL;meta.score=1', 'k = 0')").collect())
    assert(dup.getMessage.contains("more than once"))
  }

  test("MERGE ON-clause filter conjuncts: a target-side literal folds into the match semantics AND prunes the partition rewrite; nondeterministic residuals refuse") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.onf (doc_id BIGINT, lang STRING, " +
      "v BIGINT) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO gld.ns.onf SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' " +
      "ELSE 'fr' END, id FROM range(12)")
    val dir = s"$wh/ns/onf"
    val v0 = Export.latestSnapshotVersion(dir)
    val othersBefore = Export.snapshotManifestEntries(dir, v0)
      .filterNot(_.partition.get("lang").contains("en")).map(_.path)
      .toSet
    spark.range(12).selectExpr("id AS doc_id", "id * 100 AS v")
      .createOrReplaceTempView("onf_src")
    // layout (lang) is NOT ⊆ keys (doc_id) — without the residual this
    // is a full-table rewrite; WITH it, only the lang='en' partition
    // rewrites and everything else carries verbatim
    spark.sql("MERGE INTO gld.ns.onf t USING onf_src s " +
      "ON t.doc_id = s.doc_id AND t.lang = 'en' " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    val v1 = Export.latestSnapshotVersion(dir)
    assert(v1 === v0 + 1)
    assert(Export.snapshotMeta(dir, v1).get("merged_partitions")
      === Some("1"),
      "the ON residual must scope the rewrite to the lang='en' partition")
    val othersAfter = Export.snapshotManifestEntries(dir, v1)
      .filterNot(_.partition.get("lang").contains("en")).map(_.path)
      .toSet
    assert(othersAfter === othersBefore,
      "non-en partition files must carry verbatim")
    // match semantics: only en rows took the update
    val got = spark.sql(
        "SELECT lang, sum(v) FROM gld.ns.onf GROUP BY lang")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("en") === (0 + 300 + 600 + 900),
      "en rows must take the matched UPDATE")
    assert(got("de") === (1 + 4 + 7 + 10) && got("fr") === (2 + 5 + 8 + 11),
      "residual-false rows must carry unchanged")
    // a source row keyed ONLY to residual-false incumbents is NOT
    // MATCHED: with an insert clause it INSERTS (no silent drop)
    spark.sql("SELECT CAST(1 AS BIGINT) AS doc_id, CAST(-1 AS BIGINT) AS v")
      .createOrReplaceTempView("onf_src2")
    spark.sql("MERGE INTO gld.ns.onf t USING onf_src2 s " +
      "ON t.doc_id = s.doc_id AND t.lang = 'en' " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (doc_id, lang, v) " +
      "VALUES (s.doc_id, 'xx', s.v)")
    assert(spark.sql(
        "SELECT v FROM gld.ns.onf WHERE lang = 'xx'")
      .collect().map(_.getLong(0)).toSeq === Seq(-1L),
      "doc 1 is de (residual-false): the source row must INSERT")
    assert(spark.sql(
        "SELECT v FROM gld.ns.onf WHERE doc_id = 1 AND lang = 'de'")
      .collect().head.getLong(0) === 1L,
      "the de incumbent must not be updated through the residual")
    // with layout ⊆ keys, a layout-column residual SHRINKS the source-
    // derived touched set
    spark.sql("CREATE TABLE gld.ns.onf2 (doc_id BIGINT, lang STRING, " +
      "v BIGINT) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO gld.ns.onf2 SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, id FROM range(8)")
    spark.sql("SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'en' " +
      "ELSE 'de' END AS lang, doc_id * 10 AS v FROM onf_src")
      .createOrReplaceTempView("onf_src3")
    spark.sql("MERGE INTO gld.ns.onf2 t USING onf_src3 s " +
      "ON t.doc_id = s.doc_id AND t.lang = s.lang AND t.lang = 'en' " +
      "WHEN MATCHED THEN UPDATE SET v = s.v")
    val dir2 = s"$wh/ns/onf2"
    assert(Export.snapshotMeta(dir2,
        Export.latestSnapshotVersion(dir2)).get("merged_partitions")
      === Some("1"),
      "the residual must shrink the ⊆-keys touched set to en alone")
    assert(spark.sql("SELECT sum(v) FROM gld.ns.onf2 WHERE lang = 'de'")
      .collect().head.getLong(0) === (1 + 3 + 5 + 7),
      "de rows must carry")
    // NONDETERMINISTIC residuals stay refused (source-side residuals
    // fold into the match condition since r16 — own spec below)
    val e = intercept[UnsupportedOperationException](spark.sql(
      "MERGE INTO gld.ns.onf t USING onf_src s " +
        "ON t.doc_id = s.doc_id AND rand() > 0.5 " +
        "WHEN MATCHED THEN UPDATE SET v = s.v"))
    assert(e.getMessage.contains("nondeterministic"), e.getMessage)
  }

  test("MERGE ON filter + WHEN NOT MATCHED BY SOURCE: a residual-false target row is NOT MATCHED and runs the by-source clauses (the SQL law, pinned because it surprises)") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.onfb (doc_id BIGINT, lang STRING, " +
      "v BIGINT)")
    spark.sql("INSERT INTO gld.ns.onfb VALUES " +
      "(0, 'en', 0), (1, 'de', 1), (2, 'en', 2)")
    spark.range(3).selectExpr("id AS doc_id", "id * 10 + 100 AS v")
      .createOrReplaceTempView("onfb_src")
    // the de row HAS a key partner, but the residual voids the match:
    // per SQL MERGE it is NOT MATCHED BY SOURCE and the DELETE fires —
    // exactly the Delta-manual warning about prune-assisted merges
    spark.sql("MERGE INTO gld.ns.onfb t USING onfb_src s " +
      "ON t.doc_id = s.doc_id AND t.lang = 'en' " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    val got = spark.sql(
        "SELECT doc_id, lang, v FROM gld.ns.onfb ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, "en", 100L), (2L, "en", 120L)),
      s"residual-false rows must run the by-source clauses: " +
        got.mkString(", "))
  }

  test("SOURCE-side MERGE ON residuals fold into the match condition: a residual-false source row is NOT MATCHED (inserts even over an incumbent key), source-only residuals exempt from the cardinality law, mixed residuals evaluate per pair, and the insert-only path carries referenced target columns") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.srcres (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.srcres SELECT id, id * 10 FROM range(4)")
    // source rows: k=1 ok, k=2 NOT ok (must insert at k+100), k=9 ok
    // but unmatched (plain insert)
    spark.sql("SELECT * FROM VALUES (1L, 111L, 1), (2L, 222L, 0), " +
      "(9L, 999L, 1) AS t(k, nv, ok)").createOrReplaceTempView("sr_src")
    spark.sql("MERGE INTO gld.ns.srcres t USING sr_src s " +
      "ON t.k = s.k AND s.ok = 1 " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 100, s.nv)")
    val got = spark.sql("SELECT k, v FROM gld.ns.srcres ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((0L, 0L), (1L, 111L), (2L, 20L), (3L, 30L),
      (102L, 222L), (109L, 999L)),
      s"residual-false k=2 must keep its incumbent AND insert at 102: " +
        got.mkString(", "))
    // source-only residuals exempt residual-false DUPLICATE keys from
    // the cardinality law (they can match nothing)
    spark.sql("SELECT * FROM VALUES (1L, 5L, 1), (1L, 6L, 0) " +
      "AS t(k, nv, ok)").createOrReplaceTempView("sr_dup")
    spark.sql("MERGE INTO gld.ns.srcres t USING sr_dup s " +
      "ON t.k = s.k AND s.ok = 1 " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 200, s.nv)")
    assert(spark.sql("SELECT v FROM gld.ns.srcres WHERE k = 1")
      .collect().head.getLong(0) === 5L)
    assert(spark.sql("SELECT v FROM gld.ns.srcres WHERE k = 201")
      .collect().head.getLong(0) === 6L)
    // a TRUE duplicate among residual-true rows still refuses
    spark.sql("SELECT * FROM VALUES (1L, 5L, 1), (1L, 6L, 1) " +
      "AS t(k, nv, ok)").createOrReplaceTempView("sr_dup2")
    val ec = intercept[Exception](spark.sql(
      "MERGE INTO gld.ns.srcres t USING sr_dup2 s " +
        "ON t.k = s.k AND s.ok = 1 " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv"))
    assert(ec.getMessage.contains("cardinality"), ec.getMessage)
    // MIXED residual (references both sides): evaluated per pair —
    // only incumbents with v < nv update; others' source rows insert
    spark.sql("CREATE TABLE gld.ns.srcres2 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.srcres2 VALUES (1, 100), (2, 5)")
    spark.sql("SELECT * FROM VALUES (1L, 50L), (2L, 50L) AS t(k, nv)")
      .createOrReplaceTempView("sr_mix")
    spark.sql("MERGE INTO gld.ns.srcres2 t USING sr_mix s " +
      "ON t.k = s.k AND t.v < s.nv " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 10, s.nv)")
    val got2 = spark.sql("SELECT k, v FROM gld.ns.srcres2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 === Seq((1L, 100L), (2L, 50L), (11L, 50L)),
      s"mixed residual must match per pair: ${got2.mkString(", ")}")
    // insert-only shape with a mixed residual: the incumbents frame
    // carries the referenced target column
    spark.sql("CREATE TABLE gld.ns.srcres3 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.srcres3 VALUES (1, 100), (2, 5)")
    spark.sql("MERGE INTO gld.ns.srcres3 t USING sr_mix s " +
      "ON t.k = s.k AND t.v > s.nv " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 10, s.nv)")
    val got3 = spark.sql("SELECT k, v FROM gld.ns.srcres3 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got3 === Seq((1L, 100L), (2L, 5L), (12L, 50L)),
      s"insert-only mixed residual: k=1 blocks (100>50), k=2 inserts " +
        s"(5<50): ${got3.mkString(", ")}")
  }

  test("DML with subqueries: uncorrelated IN-subquery DELETE (the retention shape) and scalar-subquery UPDATE work; equality-correlated EXISTS decorrelates, range-correlated EXISTS executes (r17), correlated scalar assignments refuse loudly") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.sq (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.sq SELECT id, id FROM range(10)")
    spark.range(3).selectExpr("id * 2 AS bad")
      .createOrReplaceTempView("gld_quarantine")
    spark.sql("DELETE FROM gld.ns.sq WHERE k IN " +
      "(SELECT bad FROM gld_quarantine)")
    assert(spark.sql("SELECT count(*) FROM gld.ns.sq")
      .collect().head.getLong(0) === 7, "k in {0,2,4} must delete")
    spark.sql("UPDATE gld.ns.sq SET v = " +
      "(SELECT max(bad) FROM gld_quarantine) WHERE k = 5")
    assert(spark.sql("SELECT v FROM gld.ns.sq WHERE k = 5")
      .collect().head.getLong(0) === 4)
    // equality-correlated EXISTS DECORRELATES (r16) into the same
    // uncorrelated semi-join — the quarantine shape works natively
    // (the inner side may be any self-contained expression)
    val dir = s"$wh/ns/sq"
    spark.sql("DELETE FROM gld.ns.sq t WHERE EXISTS " +
      "(SELECT 1 FROM gld_quarantine q WHERE q.bad + 1 = t.k)")
    val kept = spark.sql("SELECT k FROM gld.ns.sq ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(6L, 7L, 8L, 9L),
      s"EXISTS delete must remove k in {1,3,5}, kept $kept")
    // NON-EQUALITY (range) correlation EXECUTES since r17 through the
    // __graft_outer__ rebind: bad+5 ∈ {5,7,9} exceeds k for 6,7,8 —
    // only 9 survives
    spark.sql("DELETE FROM gld.ns.sq t WHERE EXISTS " +
      "(SELECT 1 FROM gld_quarantine q WHERE q.bad + 5 > t.k)")
    val kept2 = spark.sql("SELECT k FROM gld.ns.sq ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(kept2 === Seq(9L),
      s"range-correlated EXISTS delete must remove 6..8, kept $kept2")
    // correlated SCALAR assignments still refuse with a rewrite hint,
    // never an INTERNAL_ERROR from the deferred thunk, no commit
    val v0 = Export.latestSnapshotVersion(dir)
    val e = intercept[Exception](spark.sql(
      "UPDATE gld.ns.sq t SET v = (SELECT max(q.bad) " +
        "FROM gld_quarantine q WHERE q.bad = t.k)"))
    assert(e.getMessage.contains("correlated"), e.getMessage)
    assert(Export.latestSnapshotVersion(dir) === v0)
  }

  test("DESCRIBE HISTORY / DESCRIBE DETAIL statements serve the graft_history/graft_detail frames verbatim: by name, by quoted path, abbreviated, and short-named under USE; plain DESCRIBE still reaches Spark") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.dh (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gld.ns.dh SELECT id, id FROM range(5)")
    spark.sql("INSERT INTO gld.ns.dh VALUES (9, 9)")
    val dir = s"$wh/ns/dh"
    def rows(sql: String): Seq[String] =
      spark.sql(sql).collect().map(_.toString).toSeq
    val histTvf = rows(s"SELECT * FROM graft_history('$dir')")
    assert(histTvf.size >= 2)
    assert(rows("DESCRIBE HISTORY gld.ns.dh") === histTvf)
    assert(rows(s"DESCRIBE HISTORY '$dir'") === histTvf,
      "the quoted-path form must resolve too")
    assert(rows("DESC HISTORY gld.ns.dh") === histTvf,
      "DESC abbreviates DESCRIBE")
    val detTvf = rows(s"SELECT * FROM graft_detail('$dir')")
    assert(rows("DESCRIBE DETAIL gld.ns.dh") === detTvf)
    // short name under USE resolves through the current catalog/ns
    try {
      spark.sql("USE gld.ns")
      assert(rows("DESCRIBE DETAIL dh") === detTvf)
    } finally spark.sql("USE spark_catalog.default")
    // the probe claims ONLY these two shapes: ordinary DESCRIBE forms
    // pass through to Spark untouched
    assert(spark.sql("DESCRIBE TABLE gld.ns.dh").collect()
      .map(_.getString(0)).contains("k"))
    // a non-table target refuses loudly, naming the statement
    val e = intercept[Exception](spark.sql(
      "DESCRIBE DETAIL gld.ns.nosuch_table"))
    assert(e.getMessage.contains("DESCRIBE DETAIL"), e.getMessage)
  }

  test("OPTIMIZE / VACUUM statements ride the delegating parser onto the audited maintenance commits: bare OPTIMIZE compacts (honoring a declared cluster key), WHERE scopes partitions, ZORDER re-lays files, VACUUM drops history and reclaims files, and EXPLAIN-free analysis commits nothing") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.opt (k BIGINT, v BIGINT)")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO gld.ns.opt SELECT id + ${i * 100}, id FROM range(50)"))
    val dir = s"$wh/ns/opt"
    val E = Export
    val before = E.snapshotFiles(dir, E.latestSnapshotVersion(dir)).size
    assert(before >= 3)
    // bare OPTIMIZE: one compacted file, same rows; returns the
    // procedure twin's (version, n_files) row
    val r = spark.sql("OPTIMIZE gld.ns.opt").collect().head
    val vC = r.getLong(0).toInt
    assert(r.getLong(1) === 1L &&
      vC === E.latestSnapshotVersion(dir) &&
      E.snapshotFiles(dir, vC).size === 1)
    assert(spark.sql("SELECT count(*) FROM gld.ns.opt")
      .collect().head.getLong(0) === 150)
    // ZORDER BY (a, b) writes fresh zones; ZORDER BY (k) re-clusters
    spark.sql("OPTIMIZE gld.ns.opt ZORDER BY (k, v)").collect()
    assert(E.snapshotOperation(dir, E.latestSnapshotVersion(dir))
      === Some("compact"))
    spark.sql("OPTIMIZE gld.ns.opt ZORDER BY (k)").collect()
    assert(spark.sql("SELECT count(*) FROM gld.ns.opt")
      .collect().head.getLong(0) === 150,
      "re-layout must never change row content")
    // OPTIMIZE ... WHERE on a partitioned table rewrites ONLY the
    // matching partition's files; others carry verbatim
    spark.sql("CREATE TABLE gld.ns.optp (k BIGINT, lang STRING) " +
      "PARTITIONED BY (lang)")
    (0 until 2).foreach(_ => spark.sql("INSERT INTO gld.ns.optp " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END " +
      "FROM range(20)"))
    val dirP = s"$wh/ns/optp"
    val vP0 = E.latestSnapshotVersion(dirP)
    val deBefore = E.snapshotManifestEntries(dirP, vP0)
      .filter(_.partition.get("lang").contains("de")).map(_.path).toSet
    spark.sql("OPTIMIZE gld.ns.optp WHERE lang = 'en'").collect()
    val vP1 = E.latestSnapshotVersion(dirP)
    val deAfter = E.snapshotManifestEntries(dirP, vP1)
      .filter(_.partition.get("lang").contains("de")).map(_.path).toSet
    assert(deAfter === deBefore,
      "OPTIMIZE ... WHERE must carry non-matching partitions verbatim")
    assert(E.snapshotManifestEntries(dirP, vP1)
      .count(_.partition.get("lang").contains("en")) === 1,
      "the matching partition must compact to one file")
    // a non-equality / non-partition WHERE refuses loudly
    val ew = intercept[Exception](spark.sql(
      "OPTIMIZE gld.ns.optp WHERE k > 3").collect())
    assert(ew.getMessage.contains("partition-column equality") ||
      ew.getMessage.contains("partition-column"), ew.getMessage)
    // TYPED literals stringify through CAST — `WHERE dt = DATE'...'`
    // must hit the p= spec's "2024-01-02" form, not the internal day
    // count (which silently compacted nothing)
    spark.sql("CREATE TABLE gld.ns.optd (k BIGINT, dt DATE) " +
      "PARTITIONED BY (dt)")
    (0 until 2).foreach(_ => spark.sql("INSERT INTO gld.ns.optd " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN DATE'2024-01-01' " +
      "ELSE DATE'2024-01-02' END FROM range(10)"))
    val dirD = s"$wh/ns/optd"
    spark.sql("OPTIMIZE gld.ns.optd WHERE dt = DATE'2024-01-02'")
      .collect()
    val vD = E.latestSnapshotVersion(dirD)
    assert(E.snapshotManifestEntries(dirD, vD)
      .count(_.partition.get("dt").contains("2024-01-02")) === 1,
      "the DATE-spec'd partition must compact to one file")
    assert(E.snapshotManifestEntries(dirD, vD)
      .count(_.partition.get("dt").contains("2024-01-01")) === 2,
      "the other partition's files must carry verbatim")
    // RANGE scope (r17, judge item #7): `WHERE dt >= DATE'...'`
    // compacts exactly the overlapping partitions — fragment a third
    // day, then the range covers 01-02 and 01-03 but never 01-01
    (0 until 2).foreach(_ => spark.sql("INSERT INTO gld.ns.optd " +
      "SELECT id, DATE'2024-01-03' FROM range(5)"))
    val d1Before = E.snapshotManifestEntries(dirD,
        E.latestSnapshotVersion(dirD))
      .filter(_.partition.get("dt").contains("2024-01-01"))
      .map(_.path).toSet
    spark.sql(
        "OPTIMIZE gld.ns.optd WHERE dt >= DATE'2024-01-02'").collect()
    val vR = E.latestSnapshotVersion(dirD)
    val entsR = E.snapshotManifestEntries(dirD, vR)
    assert(entsR.filter(_.partition.get("dt").contains("2024-01-01"))
      .map(_.path).toSet === d1Before,
      "partitions below the range bound must carry verbatim")
    Seq("2024-01-02", "2024-01-03").foreach(d =>
      assert(entsR.count(_.partition.get("dt").contains(d)) === 1,
        s"the in-range $d partition must compact to one file"))
    assert(spark.sql("SELECT count(*) FROM gld.ns.optd")
      .collect().head.getLong(0) === 30,
      "a range-scoped OPTIMIZE must preserve every row")
    // a range over a NON-partition column still refuses
    val er = intercept[Exception](spark.sql(
      "OPTIMIZE gld.ns.optd WHERE k >= 3").collect())
    assert(er.getMessage.contains("partition-column"), er.getMessage)
    // DRY RUN first: reports what a real run would reclaim, touches
    // NOTHING (versions and files all still present)
    val versionsBefore = E.snapshotVersions(dir)
    val dr = spark.sql(s"VACUUM '$dir' RETAIN 0 HOURS DRY RUN")
      .collect().head
    assert(dr.getLong(0) > 0, "DRY RUN must report droppable versions")
    assert(E.snapshotVersions(dir) === versionsBefore,
      "DRY RUN must not drop versions")
    // VACUUM: quoted-path form; RETAIN 0 HOURS is below the
    // in-flight-commit floor, so it refuses without the explicit
    // override (advisor r17) and reclaims everything with it
    val files0 = E.snapshotFiles(dir, vC).size
    // the shared test session opts out of the floor (SparkSpec); pin
    // the refusal DEFAULT here by setting the check back on
    spark.conf.set("spark.graft.vacuum.retentionCheck", "true")
    try intercept[Exception](
      spark.sql(s"VACUUM '$dir' RETAIN 0 HOURS").collect())
    finally spark.conf.set("spark.graft.vacuum.retentionCheck", "false")
    val vr = spark.sql(s"VACUUM '$dir' RETAIN 0 HOURS").collect().head
    assert(vr.getLong(0) > 0, "VACUUM must drop old versions")
    assert(spark.sql("SELECT count(*) FROM gld.ns.opt")
      .collect().head.getLong(0) === 150,
      "VACUUM must never touch the head's data")
    assert(files0 > 0)
    // by-name parity with the procedure twin: same result columns
    val proc = spark.sql(s"SELECT * FROM graft_vacuum('$dir', 1)")
    assert(proc.columns.toSeq ===
      Seq("dropped_versions", "deleted_files"))
    assert(spark.sql(s"VACUUM '$dir'").columns.toSeq ===
      Seq("dropped_versions", "deleted_files"))
  }

  test("ANALYZE TABLE ... COMPUTE STATISTICS backfills n=/s= tags metadata-only: file pruning and metadata-only counts unlock on a bulk-loaded table; non-lake targets fall back to Spark's own ANALYZE") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.anl (k BIGINT, s STRING)")
    (0 until 3).foreach(i => spark.sql("INSERT INTO gld.ns.anl " +
      s"SELECT id + ${i * 100}, CAST(id AS STRING) FROM range(50)"))
    val dir = s"$wh/ns/anl"
    val v0 = Export.latestSnapshotVersion(dir)
    val before = Export.snapshotFiles(dir, v0).toSet
    // bulk-loaded: no tags, so no metadata-only count and no pruning
    assert(Export.metadataCount(dir, v0).isEmpty)
    // the backfill: ONE metadata-only commit, files identical
    val r = spark.sql("ANALYZE TABLE gld.ns.anl COMPUTE STATISTICS")
      .collect().head
    val v1 = r.getLong(0).toInt
    assert(v1 === v0 + 1 &&
      Export.snapshotFiles(dir, v1).toSet === before,
      "ANALYZE must re-point the exact files, zero rewrites")
    assert(Export.metadataCount(dir, v1) === Some(150L))
    assert(Export.metadataRange(dir, v1, "k") === Some((0L, 249L)))
    // pruning unlocked: a range DELETE now carries disjoint files
    val vd = Export.deleteWhere(spark, dir,
      org.apache.spark.sql.functions.col("k") >= 200)
    val carried = before intersect Export.snapshotFiles(dir, vd).toSet
    assert(carried.nonEmpty && carried.size < before.size,
      s"post-ANALYZE DELETE must carry range-disjoint files, " +
        s"carried ${carried.size} of ${before.size}")
    assert(spark.sql("SELECT count(*) FROM gld.ns.anl")
      .collect().head.getLong(0) === 100)
    // FOR COLUMNS subset + refusals; procedure twin shares the path
    spark.sql("ANALYZE TABLE gld.ns.anl COMPUTE STATISTICS " +
      "FOR COLUMNS k").collect()
    val e1 = intercept[Exception](spark.sql(
      "ANALYZE TABLE gld.ns.anl COMPUTE STATISTICS FOR COLUMNS s")
      .collect())
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "ANALYZE TABLE gld.ns.anl COMPUTE STATISTICS FOR COLUMNS nope")
      .collect())
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    assert(spark.sql(s"SELECT * FROM graft_analyze('$dir', 'k')")
      .columns.toSeq === Seq("version"))
    // non-lake target: Spark's own ANALYZE still works (fallback)
    spark.sql("DROP TABLE IF EXISTS spark_catalog.default.anl_plain")
    spark.sql("CREATE TABLE spark_catalog.default.anl_plain (k BIGINT)" +
      " USING parquet")
    spark.sql("INSERT INTO spark_catalog.default.anl_plain VALUES (1)")
    spark.sql("ANALYZE TABLE spark_catalog.default.anl_plain " +
      "COMPUTE STATISTICS")
    // NOSCAN never matches the probe: straight to Spark's grammar
    spark.sql("ANALYZE TABLE spark_catalog.default.anl_plain " +
      "COMPUTE STATISTICS NOSCAN")
    // Spark's PARTITION form: the target isn't a bare identifier, so
    // the probe falls through — a previously valid statement must
    // never break (it errors Spark-side only because the table isn't
    // partitioned, NOT with a parse error from the probe)
    val ep = intercept[Exception](spark.sql(
      "ANALYZE TABLE spark_catalog.default.anl_plain " +
        "PARTITION (ds='x') COMPUTE STATISTICS"))
    assert(!ep.getMessage.toLowerCase.contains("syntax error") &&
      !ep.isInstanceOf[org.apache.spark.sql.catalyst.parser
        .ParseException], s"the probe must not hijack Spark's " +
        s"partition form: ${ep.getMessage.take(120)}")
    spark.sql("DROP TABLE spark_catalog.default.anl_plain")
  }

  test("RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF rolls the head with zero data movement (graft_restore's statement face)") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.rst (k BIGINT)")
    spark.sql("INSERT INTO gld.ns.rst VALUES (1)")
    spark.sql("INSERT INTO gld.ns.rst VALUES (2)")
    val dir = s"$wh/ns/rst"
    def cnt: Long = spark.sql("SELECT count(*) FROM gld.ns.rst")
      .collect().head.getLong(0)
    assert(cnt === 2)
    val r = spark.sql("RESTORE TABLE gld.ns.rst TO VERSION AS OF 2")
      .collect().head
    assert(r.getLong(0).toInt === Export.latestSnapshotVersion(dir))
    assert(cnt === 1, "the head must serve version 2's content")
    // forward restore by TIMESTAMP resolves exactly like time travel
    val ts3 = Export.snapshotTimestamp(dir, 3)
    spark.sql(s"RESTORE gld.ns.rst TO TIMESTAMP AS OF $ts3").collect()
    assert(cnt === 2, "the timestamp must resolve to version 3")
    // quoted-path form works like the other statements
    spark.sql(s"RESTORE TABLE '$dir' TO VERSION AS OF 2").collect()
    assert(cnt === 1)
  }

  test("graft_update shares the SQL UPDATE assignment law: overlapping nested paths refuse, a backtick-quoted dotted top-level column stays addressable") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.adv (k BIGINT, " +
      "meta STRUCT<a: STRUCT<b: BIGINT>, c: BIGINT>, `x.y` BIGINT)")
    spark.sql("INSERT INTO gld.ns.adv SELECT id, " +
      "named_struct('a', named_struct('b', id), 'c', id), id " +
      "FROM range(3)")
    val dir = s"$wh/ns/adv"
    // overlapping nested paths have no defined apply order — refuse
    // (the foldAssignments law, shared through DmlAssignments)
    val e = intercept[Exception](spark.sql(
      s"SELECT version FROM graft_update('$dir', " +
        "'meta.a=named_struct(\"b\", CAST(1 AS BIGINT));meta.a.b=2', " +
        "'k = 0')").collect())
    assert(e.getMessage.contains("overlap"), e.getMessage)
    // a dotted TOP-LEVEL column, backtick-quoted, assigns as one
    // column instead of being unsplittable (the r14 gap: bare
    // split('.') made it unaddressable)
    spark.sql(s"SELECT version FROM graft_update('$dir', " +
      "'`x.y`=`x.y` + 10', 'k >= 1')").collect()
    val got = spark.sql("SELECT `x.y` FROM gld.ns.adv ORDER BY k")
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(0L, 11L, 12L))
  }

  test("graft_update array/map element targets: tags[0] rebuilds ONE element, attrs['k'] upserts ONE entry, NULL containers stay NULL, whole-container overlap refuses") {
    val wh = warehouse
    spark.sql("CREATE TABLE gld.ns.advc (k BIGINT, " +
      "tags ARRAY<STRING>, attrs MAP<STRING, BIGINT>)")
    spark.sql("INSERT INTO gld.ns.advc VALUES " +
      "(0, array('a', 'b'), map('a', CAST(1 AS BIGINT), 'b', " +
      "CAST(2 AS BIGINT))), " +
      "(1, array('c'), map('a', CAST(5 AS BIGINT))), " +
      "(2, NULL, NULL)")
    val dir = s"$wh/ns/advc"
    spark.sql(s"""SELECT version FROM graft_update('$dir', "tags[0]=upper(tags[0]);attrs['a']=attrs['a'] + 10;attrs['c']=CAST(99 AS BIGINT)", 'k <= 2')""")
      .collect()
    val got = spark.sql("SELECT k, tags, attrs['a'], attrs['b'], " +
        "attrs['c'], attrs IS NULL, tags IS NULL " +
        "FROM gld.ns.advc ORDER BY k")
      .collect().map(r => (r.getLong(0),
        Option(r.getSeq[String](1)).map(_.toSeq),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getBoolean(5), r.getBoolean(6)))
    assert(got(0) === ((0L, Some(Seq("A", "b")), 11L, 2L, 99L,
      false, false)),
      s"row 0: ${got(0)}")
    assert(got(1) === ((1L, Some(Seq("C")), 15L, -1L, 99L,
      false, false)))
    // NULL array / NULL map stay NULL - no phantom containers
    assert(got(2)._6 && got(2)._7, s"row 2: ${got(2)}")
    // a whole-array assignment overlapping an element refuses (no
    // defined order), nothing committed
    val v0 = Export.latestSnapshotVersion(dir)
    val e = intercept[Exception](spark.sql(
      s"SELECT version FROM graft_update('$dir', " +
        "'tags=array();tags[0]=upper(tags[0])', 'k = 0')").collect())
    assert(e.getMessage.contains("overlap") ||
      e.getMessage.contains("more than once"), e.getMessage)
    assert(Export.latestSnapshotVersion(dir) === v0)
  }

  test("BETWEEN in DML predicates and assignments: CoW and MoR UPDATE and DELETE leave the same head as the >= AND <= spelling") {
    val wh = warehouse
    val mor = " TBLPROPERTIES ('graft.update.mode' = 'mor', " +
      "'graft.delete.mode' = 'mor')"
    def run(t: String, props: String, between: Boolean): Seq[(Long, Long)] = {
      def in(lo: Int, hi: Int): String =
        if (between) s"k BETWEEN $lo AND $hi" else s"k >= $lo AND k <= $hi"
      spark.sql(s"CREATE TABLE gld.ns.$t (k BIGINT, v BIGINT)$props")
      spark.sql(s"INSERT INTO gld.ns.$t SELECT id, id FROM range(20)")
      spark.sql(s"UPDATE gld.ns.$t SET v = CASE WHEN ${in(4, 5)} THEN 0 " +
        s"ELSE v + 100 END WHERE ${in(3, 7)}")
      spark.sql(s"DELETE FROM gld.ns.$t WHERE ${in(10, 12)}")
      spark.sql(s"SELECT k, v FROM gld.ns.$t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val cow = run("bw_cow_b", "", between = true)
    assert(cow === run("bw_cow_r", "", between = false))
    assert(cow === (0L until 20L).filterNot(k => k >= 10 && k <= 12)
      .map(k => k -> (if (k == 4 || k == 5) 0L
        else if (k >= 3 && k <= 7) k + 100 else k)))
    val morRows = run("bw_mor_b", mor, between = true)
    assert(morRows === run("bw_mor_r", mor, between = false))
    assert(morRows === cow)
    val morDir = s"$wh/ns/bw_mor_b"
    assert(Export.snapshotHasDeletionVectors(morDir,
      Export.latestSnapshotVersion(morDir)),
      "the MoR table must take the deletion-vector paths")
  }
}
