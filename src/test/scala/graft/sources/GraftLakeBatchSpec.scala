package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Export
import graft.operators.Export.Layout

/** Laws of the BATCH `format("graftlake")` relation: read/write through
  * the plain format API, version/timestamp time travel, filter pushdown
  * into the parquet scan, manifest-tag FILE pruning behind pushed
  * literal conjuncts, and transparent service of column-mapped heads
  * (physical-renaming parquet format) and DV-bearing heads (the
  * extension's anti-join rewrite). */
class GraftLakeBatchSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"d$i", (i % 3).toString))
      .toDF("id", "s", "m")

  test("write then read via the format API: modes map to commit kinds, time travel via versionAsOf/timestampAsOf") {
    val t = tmp("glb-rt").getAbsolutePath
    rows(0, 5).write.format("graftlake").save(t) // first write appends
    rows(5, 8).write.format("graftlake").mode("append").save(t)
    assert(Export.snapshotVersions(t) === Seq(1, 2))
    assert(Export.snapshotOperation(t, 2) === Some("append"))
    val got = spark.read.format("graftlake").load(t)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 8L))
    // versionAsOf
    assert(spark.read.format("graftlake").option("versionAsOf", "1")
      .load(t).count() === 5)
    // timestampAsOf resolves to the newest commit at or before
    val ts1 = Export.snapshotTimestamp(t, 1)
    assert(spark.read.format("graftlake")
      .option("timestampAsOf", ts1.toString)
      .load(t).count() === 5)
    // overwrite = full-replace VERSION; old state still time-travels
    rows(100, 102).write.format("graftlake").mode("overwrite").save(t)
    assert(Export.snapshotOperation(t, 3) === Some("replace"))
    assert(spark.read.format("graftlake").load(t).count() === 2)
    assert(spark.read.format("graftlake").option("versionAsOf", "2")
      .load(t).count() === 8)
    // errorIfExists / ignore
    intercept[IllegalStateException](
      rows(0, 1).write.format("graftlake").mode("errorifexists").save(t))
    rows(0, 1).write.format("graftlake").mode("ignore").save(t)
    assert(Export.latestSnapshotVersion(t) === 3)
  }

  test("pushed filters reach the parquet scan (PushedFilters) and the manifest stats prune FILES at planning time") {
    val t = tmp("glb-prune").getAbsolutePath
    val df = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    Export.appendSnapshot(spark, df, t,
      Layout.Statted(cols = Seq("id"), nFiles = 8))
    val q = spark.read.format("graftlake").load(t)
      .filter(col("id") >= 300L && col("id") <= 340L)
    // correctness first
    assert(q.select("id").as[Long].collect().sorted.toSeq ===
      (300L to 340L))
    // pushdown proof: the physical plan's scan carries the id filters
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(id,300)"), plan.take(2000))
    // file-pruning proof: the scan reads fewer files than the manifest
    // lists (the 8 range-clustered files cover disjoint id ranges)
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(Nil,
            f.dataFilters).map(_.files.size).sum
      }).sum
    val total = Export.snapshotFiles(t, 1).size
    assert(total === 8)
    assert(scanned <= 2, s"expected <=2 of $total files planned, " +
      s"got $scanned")
  }

  test("partition option lays out + p=-tags the epoch; equality conjuncts prune files from the manifest") {
    val t = tmp("glb-part").getAbsolutePath
    rows(0, 30).write.format("graftlake")
      .option("partitionBy", "m").save(t)
    val files = Export.snapshotFiles(t, 1)
    assert(files.exists(_.contains("_p_m=0")) &&
      files.exists(_.contains("_p_m=2")))
    val q = spark.read.format("graftlake").load(t)
      .filter(col("m") === "1")
    assert(q.select("id").as[Long].collect().sorted.toSeq ===
      (0L until 30L).filter(_ % 3 == 1))
    val index = new GraftLakeFileIndex(spark, t, 1,
      Export.snapshotSchema(t, 1).get)
    val pruned = index.listFiles(Nil, Seq(
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "m", org.apache.spark.sql.types.StringType)(),
        org.apache.spark.sql.catalyst.expressions.Literal("1"))))
      .map(_.files.size).sum
    assert(pruned < files.size, s"pruned=$pruned of ${files.size}")
    // and a conjunct on an untagged column prunes nothing (never wrong)
    val open = index.listFiles(Nil, Seq(
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "s", org.apache.spark.sql.types.StringType)(),
        org.apache.spark.sql.catalyst.expressions.Literal("d1"))))
      .map(_.files.size).sum
    assert(open === files.size)
  }

  test("DV-bearing head serves transparently: the extension's anti-join rewrite subtracts MoR-deleted rows, bit-identical to the read funnel") {
    val t = tmp("glb-dv").getAbsolutePath
    rows(0, 6).write.format("graftlake").save(t)
    Export.deleteWhereMoR(spark, t, col("id") < 2)
    val viaFormat = spark.read.format("graftlake").load(t)
    assert(viaFormat.select("id").as[Long].collect().sorted.toSeq ===
      (2L until 6L))
    // bit-identity with the Scala read funnel (same anti-join semantics)
    assert(viaFormat.exceptAll(Export.readSnapshot(spark, t, 2))
      .isEmpty)
    assert(Export.readSnapshot(spark, t, 2).exceptAll(viaFormat)
      .isEmpty)
    // the pre-delete version plans NO anti-join and still serves
    assert(spark.read.format("graftlake").option("versionAsOf", "1")
      .load(t).count() === 6)
    // a REPEATED MoR delete consolidates: still one subtraction, right rows
    Export.deleteWhereMoR(spark, t, col("id") === 5L)
    assert(spark.read.format("graftlake").load(t)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
    // compaction materializes the DVs -> back to the bare-scan plan
    Export.compactSnapshot(spark, t)
    val clean = spark.read.format("graftlake").load(t)
    assert(clean.select("id").as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L, 4L))
    assert(!clean.queryExecution.executedPlan.toString
      .contains("LeftAnti"), "compacted head must not pay the anti-join")
  }

  test("column-mapped head serves transparently: logical names, physical bytes, pushdown and file pruning survive the rename") {
    val t = tmp("glb-map").getAbsolutePath
    val df = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    Export.appendSnapshot(spark, df, t,
      Layout.Statted(cols = Seq("id"), nFiles = 8))
    Export.renameSnapshotColumn(t, "id", "doc_id")
    Export.renameSnapshotColumn(t, "s", "label")
    val q = spark.read.format("graftlake").load(t)
      .filter(col("doc_id") >= 300L && col("doc_id") <= 340L)
    assert(q.columns.toSeq === Seq("doc_id", "label"))
    assert(q.select("doc_id").as[Long].collect().sorted.toSeq ===
      (300L to 340L))
    assert(q.select("label").as[String].collect().toSet ===
      (300 to 340).map(i => s"v$i").toSet)
    // the s= tags are keyed by the PHYSICAL name (id) - pruning holds
    // under the new logical name
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(Nil,
            f.dataFilters).map(_.files.size).sum
      }).sum
    assert(scanned <= 2, s"expected <=2 of 8 files planned, got $scanned")
    // and the pushed filters reach the parquet scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual"), plan.take(2000))
    // DROP retires the bytes: the dropped column disappears, the rest
    // still decodes
    Export.dropSnapshotColumn(t, "label")
    val dropped = spark.read.format("graftlake").load(t)
    assert(dropped.columns.toSeq === Seq("doc_id"))
    assert(dropped.count() === 400)
  }

  test("column mapping and deletion vectors COMPOSE through the format: rename, MoR-delete, read - and a catalog-free session refuses the DV head") {
    val t = tmp("glb-mapdv").getAbsolutePath
    rows(0, 10).write.format("graftlake").save(t)
    Export.renameSnapshotColumn(t, "id", "doc_id")
    Export.deleteWhereMoR(spark, t, col("doc_id") % 2 === 0)
    val got = spark.read.format("graftlake").load(t)
    assert(got.columns.contains("doc_id"))
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 5L, 7L, 9L))
    // agreement with the funnel on the composed head
    val funnel = Export.readSnapshot(spark, t,
      Export.latestSnapshotVersion(t))
    assert(got.exceptAll(funnel).isEmpty &&
      funnel.exceptAll(got).isEmpty)
  }

  test("batch write interleaves with the streaming sink's exactly-once guard (append commits carry no batch header but never reset it)") {
    val t = tmp("glb-mix")
    val s = new GraftLakeSink(spark,
      Map("path" -> t.getAbsolutePath), Seq.empty,
      org.apache.spark.sql.streaming.OutputMode.Append())
    s.addBatch(0, rows(0, 2))
    rows(2, 4).write.format("graftlake").mode("append")
      .save(t.getAbsolutePath)
    s.addBatch(0, rows(50, 52)) // replay refused across the batch write
    assert(Export.lastAppliedBatch(t.getAbsolutePath) === 0L)
    assert(spark.read.format("graftlake").load(t.getAbsolutePath)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 4L))
  }
}
