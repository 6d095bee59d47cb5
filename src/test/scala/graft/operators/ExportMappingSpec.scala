package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Export.Layout

/** COLUMN MAPPING laws: RENAME/DROP COLUMN are single manifest commits
  * that never rewrite or alias data bytes — physical names are
  * assigned once, renames move only the logical name, drops retire the
  * physical name forever, and every reader/writer in the funnel agrees
  * on the mapping. */
class ExportMappingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-colmap").toFile.getAbsolutePath

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"d$i", i % 3)).toDF("id", "s", "m")

  test("rename is METADATA-ONLY: same data files, new logical name, " +
      "old values; time travel keeps the old name; op stamped") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 5), t)
    val before = Export.snapshotFiles(t, 1)
    val v = Export.renameSnapshotColumn(t, "s", "label")
    assert(v === 2)
    assert(Export.snapshotFiles(t, 2) === before, "no data rewrite")
    assert(Export.snapshotOperation(t, 2) === Some("rename"))
    val now = Export.readSnapshot(spark, t, 2)
    assert(now.columns.toSeq === Seq("id", "label", "m"))
    assert(now.select("id", "label").as[(Long, String)].collect()
      .sortBy(_._1).toSeq === (0 until 5).map(i => (i.toLong, s"d$i")))
    val old = Export.readSnapshot(spark, t, 1)
    assert(old.columns.toSeq === Seq("id", "s", "m"),
      "pre-rename versions time-travel under their own names")
  }

  test("appends after a rename use the new logical name; reads, " +
      "compaction and chained renames stay consistent") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 3), t)
    Export.renameSnapshotColumn(t, "s", "label")
    Export.appendSnapshot(spark,
      (3 until 6).map(i => (i.toLong, s"d$i", i % 3))
        .toDF("id", "label", "m"), t)
    def ids(df: DataFrame) =
      df.select("id", "label").as[(Long, String)].collect()
        .sortBy(_._1).toSeq
    val want = (0 until 6).map(i => (i.toLong, s"d$i"))
    assert(ids(Export.readSnapshot(spark, t,
      Export.latestSnapshotVersion(t))) === want,
      "old epochs (physical name) and new epochs decode to one table")
    Export.compactSnapshot(spark, t)
    assert(ids(Export.readSnapshot(spark, t,
      Export.latestSnapshotVersion(t))) === want,
      "compaction of a renamed table preserves rows")
    Export.renameSnapshotColumn(t, "label", "title")
    val twice = Export.readSnapshot(spark, t,
      Export.latestSnapshotVersion(t))
    assert(twice.columns.toSeq === Seq("id", "title", "m"))
    assert(twice.select("id", "title").as[(Long, String)].collect()
      .sortBy(_._1).toSeq === want, "renames chain")
  }

  test("rename refusals: live logical, live physical, retired name, " +
      "partition column") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 4), t)
    Export.renameSnapshotColumn(t, "s", "label")
    intercept[IllegalArgumentException](
      Export.renameSnapshotColumn(t, "m", "label"))
    intercept[IllegalArgumentException](
      Export.renameSnapshotColumn(t, "m", "s")) // s is label's physical
    Export.dropSnapshotColumn(t, "m")
    intercept[IllegalArgumentException](
      Export.renameSnapshotColumn(t, "label", "m")) // m retired
    val t2 = tmp()
    Export.appendSnapshot(spark, rows(0, 4), t2,
      Layout.Partitioned(cols = Seq("m"), nFiles = 1))
    intercept[IllegalArgumentException](
      Export.dropSnapshotColumn(t2, "m")) // the layout needs m
  }

  test("TYPE WIDENING is metadata-only: old int32 files decode as " +
      "long, time travel keeps the narrow type, the lattice refuses " +
      "narrowing/retyping, and evolved appends resolve to the wider " +
      "side in either direction") {
    import org.apache.spark.sql.types._
    val t = tmp()
    Export.appendSnapshot(spark,
      (0 until 3).map(i => (i.toLong, i * 10)).toDF("id", "n"), t)
    val before = Export.snapshotFiles(t, 1)
    val v2 = Export.widenSnapshotColumn(t, "n", LongType)
    assert(Export.snapshotFiles(t, v2) === before, "no data rewrite")
    assert(Export.snapshotOperation(t, v2) === Some("widen"))
    val head = Export.readSnapshot(spark, t, v2)
    assert(head.schema("n").dataType === LongType)
    assert(head.select("n").as[Long].collect().sorted.toSeq ===
      Seq(0L, 10L, 20L), "old int32 bytes upcast at read")
    assert(Export.readSnapshot(spark, t, 1).schema("n").dataType ===
      IntegerType, "pre-widen versions keep the narrow type")
    intercept[IllegalArgumentException](
      Export.widenSnapshotColumn(t, "n", IntegerType)) // narrowing
    intercept[IllegalArgumentException](
      Export.widenSnapshotColumn(t, "n", StringType)) // retyping
    // a NARROW append after the widen still unions to long
    val v3 = Export.appendSnapshotEvolved(spark,
      (3 until 5).map(i => (i.toLong, i * 10)).toDF("id", "n"), t)
    val after = Export.readSnapshot(spark, t, v3)
    assert(after.schema("n").dataType === LongType)
    assert(after.select("n").as[Long].collect().sorted.toSeq ===
      (0 until 5).map(_ * 10L))
    // and a WIDE append into a narrow table widens implicitly
    val t2 = tmp()
    Export.appendSnapshot(spark,
      Seq((1L, 1.5f)).toDF("id", "x"), t2)
    val w = Export.appendSnapshotEvolved(spark,
      Seq((2L, 2.5d)).toDF("id", "x"), t2)
    assert(Export.readSnapshot(spark, t2, w).schema("x").dataType ===
      DoubleType)
    assert(Export.readSnapshot(spark, t2, w)
      .select("x").as[Double].collect().sorted.toSeq === Seq(1.5, 2.5))
    // widening composes with renames: widen the RENAMED column
    val t3 = tmp()
    Export.appendSnapshot(spark,
      (0 until 3).map(i => (i.toLong, i)).toDF("id", "n"), t3)
    Export.renameSnapshotColumn(t3, "n", "count")
    val v3b = Export.widenSnapshotColumn(t3, "count", LongType)
    assert(Export.readSnapshot(spark, t3, v3b)
      .select("count").as[Long].collect().sorted.toSeq ===
      Seq(0L, 1L, 2L))
  }

  test("even PARTITION columns rename: p= specs are physical-keyed, " +
      "pruned reads and partition-scoped DML translate, dropping a " +
      "partition column still refuses") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 6), t,
      Layout.Partitioned(cols = Seq("m"), nFiles = 1))
    Export.renameSnapshotColumn(t, "m", "bucket")
    // pruned read by the NEW name over the OLD epoch's physical specs
    val v = Export.latestSnapshotVersion(t)
    assert(Export.readSnapshot(spark, t, v)
      .filter(col("bucket").cast("string") === "1")
      .select("id").as[Long].collect().sorted.toSeq ===
      (0L until 6L).filter(_ % 3 == 1))
    // partitioned append under the new name lands in the SAME physical
    // partition key; dynamic overwrite replaces exactly one partition
    Export.appendSnapshot(spark,
      (6 until 9).map(i => (i.toLong, s"d$i", i % 3))
        .toDF("id", "s", "bucket"), t,
      Layout.Partitioned(cols = Seq("bucket"), nFiles = 1))
    Export.overwritePartitions(spark,
      Seq((100L, "x", 0)).toDF("id", "s", "bucket"), t,
      partitionCols = Seq("bucket"), nFiles = 1)
    val got = Export.readSnapshot(spark, t,
        Export.latestSnapshotVersion(t))
      .select("id", "bucket").as[(Long, Int)].collect().sortBy(_._1)
    val want = ((0L until 9L).filter(_ % 3 != 0).map(i =>
      (i, (i % 3).toInt)) :+ ((100L, 0))).sortBy(_._1)
    assert(got.toSeq === want,
      "bucket=0 replaced, other partitions carried")
    intercept[IllegalArgumentException](
      Export.dropSnapshotColumn(t, "bucket"))
  }

  test("drop is metadata-only and the retired physical name NEVER " +
      "resurfaces: a re-added column is null for old rows") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 3), t)
    val before = Export.snapshotFiles(t, 1)
    val v = Export.dropSnapshotColumn(t, "s")
    assert(Export.snapshotFiles(t, v) === before, "no data rewrite")
    val now = Export.readSnapshot(spark, t, v)
    assert(now.columns.toSeq === Seq("id", "m"))
    assert(Export.readSnapshot(spark, t, 1).columns.contains("s"),
      "pre-drop versions still carry the column")
    // re-add the SAME logical name: old bytes must stay invisible
    Export.appendSnapshotEvolved(spark,
      (3 until 5).map(i => (i.toLong, i % 3, s"NEW$i"))
        .toDF("id", "m", "s"), t)
    val got = Export.readSnapshot(spark, t,
        Export.latestSnapshotVersion(t))
      .select("id", "s").as[(Long, Option[String])].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq((0L, None), (1L, None), (2L, None),
      (3L, Some("NEW3")), (4L, Some("NEW4"))),
      "dropped bytes resurfaced" )
  }

  test("diffs align versions by PHYSICAL identity: a rename commit is " +
      "an EMPTY change feed, and changes across a rename emit under " +
      "the NEW names") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 4), t)
    val v2 = Export.renameSnapshotColumn(t, "s", "label")
    assert(Export.snapshotDiff(spark, t, 1, v2).count() === 0L,
      "a rename changes labels, not bytes")
    val v3 = Export.deleteWhere(spark, t, col("m") === 0)
    val d = Export.snapshotDiff(spark, t, 1, v3)
    assert(d.columns.toSeq === Seq("id", "label", "m", "_change"))
    assert(d.select("id", "_change").as[(Long, String)].collect()
      .sortBy(_._1).toSeq === Seq((0L, "delete"), (3L, "delete")))
    val k = Export.snapshotDiffKeyed(spark, t, 1, v3, Seq("id"))
    assert(k.filter(col("_change") === "delete").select("id")
      .as[Long].collect().sorted.toSeq === Seq(0L, 3L))
  }

  test("DML on a renamed table: CoW delete and MoR delete evaluate " +
      "predicates on the NEW logical name") {
    val t = tmp()
    Export.appendSnapshot(spark, rows(0, 6), t)
    Export.renameSnapshotColumn(t, "m", "bucket")
    Export.deleteWhere(spark, t, col("bucket") === 0)
    def ids(v: Int) = Export.readSnapshot(spark, t, v)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(Export.latestSnapshotVersion(t)) ===
      (0L until 6L).filterNot(_ % 3 == 0))
    Export.deleteWhereMoR(spark, t, col("bucket") === 1)
    assert(ids(Export.latestSnapshotVersion(t)) ===
      (0L until 6L).filter(_ % 3 == 2))
  }

  test("stats/bloom tags are PHYSICAL-keyed: layout writers accept a " +
      "renamed key and pruned reads translate the queried name, in " +
      "either order (stat-then-rename, rename-then-stat)") {
    val t = tmp()
    Export.appendSnapshot(spark,
      (0 until 4).map(i => (i.toLong, (i * 10).toLong, i % 3))
        .toDF("id", "n", "m"), t)
    Export.renameSnapshotColumn(t, "n", "chars")
    val more = (4 until 8).map(i => (i.toLong, (i * 10).toLong, i % 3))
      .toDF("id", "chars", "m")
    val v = Export.appendSnapshot(spark, more, t,
      Layout.Statted(cols = Seq("chars"), nFiles = 2))
    // the tag rides the PHYSICAL name (n) while the query uses the
    // logical one (chars) - and prunes: only the statted epoch's
    // overlapping file plus the unstatted epoch's files get planned
    val (fs, _) = Export.fsRoot(t)
    assert(Export.snapshotFiles(t, v).nonEmpty)
    val got = Export.readSnapshot(spark, t, v)
      .filter(col("chars").between(60L, 70L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(6L, 7L))
    // bloom on a renamed key: b= tag physical, probe logical
    val t2 = tmp()
    Export.appendSnapshot(spark,
      (0 until 4).map(i => (i.toLong, s"d$i")).toDF("k", "s"), t2)
    Export.renameSnapshotColumn(t2, "k", "key")
    val v2 = Export.appendSnapshot(spark,
      (4 until 8).map(i => (i.toLong, s"d$i")).toDF("key", "s"), t2,
      Layout.Bloomed(key = "key", nFiles = 2))
    assert(Export.readSnapshot(spark, t2, v2).filter(col("key") === 5L)
      .select("s").as[String].collect().toSeq === Seq("d5"))
    // the other order too: stat FIRST (tags under the original name),
    // THEN rename - the lookup still translates and prunes
    val t3 = tmp()
    Export.appendSnapshot(spark,
      (0 until 8).map(i => (i.toLong, (i * 10).toLong))
        .toDF("id", "n"), t3, Layout.Statted(cols = Seq("n"), nFiles = 4))
    val v3 = Export.renameSnapshotColumn(t3, "n", "chars")
    assert(Export.readSnapshot(spark, t3, v3)
      .filter(col("chars").between(60L, 70L))
      .select("id").as[Long].collect().sorted.toSeq === Seq(6L, 7L))
    assert(Export.metadataRange(t3, v3, "chars") === Some((0L, 70L)))
  }
}
