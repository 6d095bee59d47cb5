package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.Export.Layout

/** DML file pruning (r16): CoW DELETE is manifest-pruned like UPDATE
  * (it used to rewrite the whole table), and SUBQUERY predicates —
  * `k IN (SELECT ...)`, the quarantine shape, including the
  * decorrelated-EXISTS form — prune through planner-side expansion:
  * the self-contained subquery runs FIRST, small lists become literal
  * IN conjuncts (file-exact `s=` pruning), large lists become the
  * value envelope (range pruning). Pruning-only: the original
  * predicate still evaluates per row, so results never depend on the
  * expansion. */
object DmlPruningSpec {
  val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
}

class DmlPruningSpec extends SparkSpec {
  import spark.implicits._

  private def statted(name: String, n: Long = 100L): String = {
    val out = Files.createTempDirectory(name).toFile.getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out))
    val rows = (0L until n).map(i => (i, s"p_$i")).toDF("k", "s")
    // 5 k-range files with s= stats: k in [0,19], [20,39], ...
    Export.appendSnapshot(spark, rows, out,
      Layout.Statted(Seq("k"), nFiles = 5))
    out
  }

  private def filesOf(dir: String): Set[String] =
    Export.snapshotFiles(dir,
      Export.latestSnapshotVersion(dir)).toSet

  test("CoW DELETE carries provably-missing files verbatim: a literal range delete rewrites only the overlapping files") {
    val dir = statted("dmlprune-lit")
    val before = filesOf(dir)
    assert(before.size === 5)
    val v = Export.deleteWhere(spark, dir, col("k") < 10)
    val after = filesOf(dir)
    assert((before intersect after).size === 4,
      s"4 of 5 range-disjoint files must carry verbatim, " +
        s"carried ${(before intersect after).size}")
    assert(Export.snapshotMeta(dir, v).get("deleted_files")
      === Some("1"))
    assert(Export.readSnapshot(spark, dir, v).count() === 90)
  }

  test("a SMALL IN-subquery expands to a literal IN conjunct: only the files holding quarantined keys rewrite") {
    val dir = statted("dmlprune-inq")
    val before = filesOf(dir)
    spark.range(3).selectExpr("id + 40 AS bad") // keys 40..42: 1 file
      .createOrReplaceTempView("dmlp_quar")
    spark.read.parquet(before.toSeq: _*) // warm nothing; keep lazy
    val cond = org.apache.spark.sql.GraftColumnBridge.column(
      spark.sessionState.sqlParser.parseExpression(
        "k IN (SELECT bad FROM dmlp_quar)"))
    // the parsed IN-subquery analyzes inside deleteWhere's frame
    val v = Export.deleteWhere(spark, dir, cond)
    val after = filesOf(dir)
    assert((before intersect after).size >= 3 &&
      (before intersect after).size < 5,
      "keys 40..42 live in 1-2 of five sampled k-range files - the " +
        s"rest must carry verbatim, carried " +
        s"${(before intersect after).size}")
    val kept = Export.readSnapshot(spark, dir, v)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === (0L until 100L).filterNot(k => k >= 40 && k <= 42))
  }

  test("a LARGE IN-subquery (>64 values) expands to its envelope: range-disjoint files still carry") {
    val dir = statted("dmlprune-env", n = 200L)
    val before = filesOf(dir)
    assert(before.size === 5) // k-ranges of 40
    // 70 keys all inside [100, 169]: the envelope spans 2 of 5 files
    spark.range(70).selectExpr("id + 100 AS bad")
      .createOrReplaceTempView("dmlp_quar_big")
    val cond = org.apache.spark.sql.GraftColumnBridge.column(
      spark.sessionState.sqlParser.parseExpression(
        "k IN (SELECT bad FROM dmlp_quar_big)"))
    val v = Export.deleteWhere(spark, dir, cond)
    val after = filesOf(dir)
    // repartitionByRange boundaries are SAMPLED (not exact
    // 40-multiples): the envelope can overlap 2-3 of the 5 files —
    // the lock is that range-disjoint files carry (strict subset
    // rewritten), not an exact count
    assert((before intersect after).size >= 2 &&
      (before intersect after).size < 5,
      s"files range-disjoint from the envelope [100,169] must " +
        s"carry, carried ${(before intersect after).size} of 5")
    assert(Export.readSnapshot(spark, dir, v).count() === 130)
  }

  test("MoR DELETE prunes its match scan the same way, and a no-possible-match predicate commits nothing on either path") {
    val dir = statted("dmlprune-mor")
    val v0 = Export.latestSnapshotVersion(dir)
    // provably-missing predicate: no commit, CoW and MoR alike
    assert(Export.deleteWhere(spark, dir, col("k") > 1000) === v0)
    assert(Export.deleteWhereMoR(spark, dir, col("k") > 1000) === v0)
    // MoR delete through an IN-subquery: DVs land, zero rewrites
    spark.range(2).selectExpr("id + 7 AS bad")
      .createOrReplaceTempView("dmlp_quar_mor")
    val cond = org.apache.spark.sql.GraftColumnBridge.column(
      spark.sessionState.sqlParser.parseExpression(
        "k IN (SELECT bad FROM dmlp_quar_mor)"))
    val before = filesOf(dir)
    val v1 = Export.deleteWhereMoR(spark, dir, cond)
    assert(v1 === v0 + 1)
    assert(before.subsetOf(filesOf(dir)),
      "MoR delete must not rewrite data files")
    assert(Export.readSnapshot(spark, dir, v1).count() === 98)
  }

  test("the DML subquery is PINNED and runs exactly ONCE (advisor r17): the pruning probe and the execution filter read one materialized snapshot, so prune and execution can never tear") {
    val dir = statted("dmlprune-pin")
    DmlPruningSpec.ticks.set(0L)
    // every evaluation of the subquery's projection ticks the counter;
    // nondeterministic so no optimizer fold can hide an extra run
    spark.udf.register("dmlp_tick",
      udf((x: Long) => { DmlPruningSpec.ticks.incrementAndGet(); x })
        .asNondeterministic())
    spark.range(3).selectExpr("id + 40 AS k0")
      .createOrReplaceTempView("dmlp_quar_pin")
    val cond = org.apache.spark.sql.GraftColumnBridge.column(
      spark.sessionState.sqlParser.parseExpression(
        "k IN (SELECT dmlp_tick(k0) AS bad FROM dmlp_quar_pin)"))
    val v = Export.deleteWhere(spark, dir, cond)
    // pre-pin this was 3 evaluations of the source (probe agg, distinct
    // collect, execution filter) — a commit to the source between any
    // two made carried files hold now-matching rows, a torn read
    assert(DmlPruningSpec.ticks.get() === 3L,
      s"the subquery source must be read exactly once (3 rows), " +
        s"ticked ${DmlPruningSpec.ticks.get()} evaluations")
    val kept = Export.readSnapshot(spark, dir, v)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === (0L until 100L).filterNot(k => k >= 40 && k <= 42))
  }

  test("DATE-typed s= stats (r17): ANALYZE records epoch-day ranges on an unpartitioned date column and a date-range DELETE carries disjoint files verbatim; the batch scan prunes the same way") {
    val out = Files.createTempDirectory("dmlprune-date").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out))
    // 100 rows over 100 consecutive days, clustered by day into 5
    // range files — the time-series shape
    val rows = spark.range(100).selectExpr("id AS k",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS dt")
    Export.appendSnapshot(spark, rows, out,
      Layout.Statted(Seq("dt"), nFiles = 5, clusterBy = Some("dt")))
    val before = filesOf(out)
    assert(before.size === 5)
    // a date-range DELETE rewrites only overlapping files
    val v = Export.deleteWhere(spark, out,
      col("dt") < lit(java.sql.Date.valueOf("2024-01-10")))
    val after = filesOf(out)
    assert((before intersect after).size >= 3 &&
      (before intersect after).size < 5,
      s"date-disjoint files must carry verbatim, carried " +
        s"${(before intersect after).size} of 5")
    assert(Export.readSnapshot(spark, out, v).count() === 91)
    // ANALYZE (the retrofit path) also accepts DATE: strip to a fresh
    // table without stats, backfill, then pin the batch-scan prune
    val out2 = Files.createTempDirectory("dmlprune-date2").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out2))
    (0 until 4).foreach(i => Export.appendSnapshot(spark,
      rows.filter(col("k") >= i * 25L && col("k") < (i + 1) * 25L)
        .coalesce(1), out2))
    assert(Export.metadataCount(out2,
      Export.latestSnapshotVersion(out2)).isEmpty)
    val va = Export.analyzeSnapshotStats(spark, out2, Seq("dt", "k"))
    assert(Export.metadataCount(out2, va) === Some(100L))
    val beforeA = filesOf(out2)
    assert(beforeA.size === 4) // one file per disjoint date quartile
    val vd = Export.deleteWhere(spark, out2,
      col("dt") >= lit(java.sql.Date.valueOf("2024-04-01")))
    assert((beforeA intersect filesOf(out2)).size === 3,
      "post-ANALYZE date DELETE must carry the 3 provably-disjoint " +
        "quartile files verbatim")
    assert(Export.readSnapshot(spark, out2, vd).count() === 91)
  }

  test("TIMESTAMP-typed s= stats (r17): event-time ranges record as epoch micros; a time-range DELETE carries disjoint files verbatim and ANALYZE backfills the same") {
    val out = Files.createTempDirectory("dmlprune-ts").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out))
    // 100 rows over 100 consecutive hours, clustered into 5 range files
    val rows = spark.range(100).selectExpr("id AS k",
      "timestamp_micros(1704067200000000 + id * 3600000000) AS ts")
    Export.appendSnapshot(spark, rows, out,
      Layout.Statted(Seq("ts"), nFiles = 5, clusterBy = Some("ts")))
    val before = filesOf(out)
    assert(before.size === 5)
    // delete everything before hour 20: only overlapping files rewrite
    val v = Export.deleteWhere(spark, out,
      col("ts") < lit(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1704067200L + 20 * 3600))))
    val after = filesOf(out)
    assert((before intersect after).size >= 3 &&
      (before intersect after).size < 5,
      s"time-disjoint files must carry verbatim, carried " +
        s"${(before intersect after).size} of 5")
    assert(Export.readSnapshot(spark, out, v).count() === 80)
    // ANALYZE accepts TIMESTAMP and the SQL front door prunes too
    val out2 = Files.createTempDirectory("dmlprune-ts2").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out2))
    (0 until 4).foreach(i => Export.appendSnapshot(spark,
      rows.filter(col("k") >= i * 25L && col("k") < (i + 1) * 25L)
        .coalesce(1), out2))
    Export.analyzeSnapshotStats(spark, out2, Seq("ts"))
    val beforeA = filesOf(out2)
    assert(beforeA.size === 4)
    val vd = Export.deleteWhere(spark, out2,
      col("ts") >= lit(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1704067200L + 75 * 3600))))
    assert((beforeA intersect filesOf(out2)).size === 3,
      "post-ANALYZE time-range DELETE must carry the 3 " +
        "provably-disjoint quartile files verbatim")
    assert(Export.readSnapshot(spark, out2, vd).count() === 75)
    // event-time CLUSTERED landing table (the streaming-sink shape):
    // the named s= zone stat rides the typed #us key, so a pushed
    // time-range prunes there too
    val out3 = Files.createTempDirectory("dmlprune-ts3").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out3))
    Export.appendSnapshot(spark, rows, out3, Layout.Clustered("ts", 5))
    val before3 = filesOf(out3)
    assert(before3.size === 5)
    val v3 = Export.deleteWhere(spark, out3,
      col("ts") >= lit(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1704067200L + 80 * 3600))))
    assert((before3 intersect filesOf(out3)).size >= 3 &&
      (before3 intersect filesOf(out3)).size < 5,
      "an event-time clustered table must carry time-disjoint files " +
        s"verbatim, carried ${(before3 intersect filesOf(out3)).size}")
    assert(Export.readSnapshot(spark, out3, v3).count() === 80)
  }

  test("metadataRange resolves the TYPED stat key: an analyzed event-time column answers min/max metadata-only in epoch micros") {
    val out = Files.createTempDirectory("dmlprune-metats").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out))
    val rows = spark.range(100).selectExpr("id AS k",
      "timestamp_micros(1704067200000000 + id * 3600000000) AS ts",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS dt")
    Export.appendSnapshot(spark, rows.coalesce(2), out)
    assert(Export.metadataRange(out, 1, "ts").isEmpty,
      "no stats committed yet - min/max must refuse, not guess")
    val v = Export.analyzeSnapshotStats(spark, out, Seq("ts", "dt", "k"))
    assert(Export.metadataRange(out, v, "ts") ===
      Some((1704067200000000L, 1704067200000000L + 99 * 3600000000L)),
      "event-time min/max must answer metadata-only, in epoch micros")
    assert(Export.metadataRange(out, v, "dt") ===
      Some((19723L, 19723L + 99L)),
      "date min/max answers in epoch days")
    assert(Export.metadataRange(out, v, "k") === Some((0L, 99L)))
  }

  test("legacy SECONDS-encoded timestamp stats are never consulted (r17 review): a plain-key s= tag cannot unsoundly exclude a micros literal, and re-ANALYZE strips it for the #us key") {
    val out = Files.createTempDirectory("dmlprune-legacyts").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out))
    val rows = spark.range(100).selectExpr("id AS k",
      "timestamp_micros(1704067200000000 + id * 3600000000) AS ts")
    Export.appendSnapshot(spark, rows.coalesce(1), out)
    // forge the pre-r17 tag: CAST(ts AS LONG) recorded SECONDS under
    // the PLAIN key — the upgrade hazard the #us key exists to dodge
    val mf = java.nio.file.Paths.get(out, "_v1.manifest")
    val forged = java.nio.file.Files.readAllLines(mf).toArray.toSeq
      .map(_.toString)
      .map(l => if (l.startsWith("#")) l
        else l + s"\ts=ts:1704067200:${1704067200L + 99 * 3600}")
    java.nio.file.Files.write(mf,
      forged.mkString("\n").getBytes("UTF-8"))
    // a micros literal (~1.7e15) against the seconds range (~1.7e9)
    // would "prove" every file disjoint and silently no-op the DELETE
    // if the plain key were consulted — it must not be
    val v = Export.deleteWhere(spark, out,
      col("ts") >= lit(java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(1704067200L + 50 * 3600))))
    assert(Export.readSnapshot(spark, out, v).count() === 50,
      "the legacy seconds tag must never exclude a micros predicate")
    // re-ANALYZE strips the stale plain tag and installs the #us key
    val va = Export.analyzeSnapshotStats(spark, out, Seq("ts"))
    val tags = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(out, s"_v$va.manifest"))
      .toArray.toSeq.map(_.toString).filterNot(_.startsWith("#"))
      .flatMap(_.split('\t').toSeq)
    assert(tags.exists(_.startsWith("s=ts#us:")),
      "ANALYZE must install the micros-keyed stat")
    assert(!tags.exists(t => t.startsWith("s=ts:")),
      "ANALYZE must strip the stale plain-key timestamp tag")
  }

  test("pruning is PRUNING-ONLY: NULL-predicate rows survive and results equal the unpruned semantics") {
    val out = Files.createTempDirectory("dmlprune-null").toFile
      .getAbsolutePath
    graft.util.Dirs.deleteRec(new java.io.File(out))
    val rows = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("k", "v")
    Export.appendSnapshot(spark, rows, out,
      Layout.Statted(Seq("v"), nFiles = 1))
    val v = Export.deleteWhere(spark, out, col("v") < 10)
    val left = Export.readSnapshot(spark, out, v)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(left === Set((2L, None), (3L, Some(50L))),
      "a NULL-evaluating predicate must KEEP its row")
  }
}
