package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkSpec
import graft.operators.Export

/** Laws of the graftlake STREAMING SINK: built-in exactly-once batch
  * guard, output-mode → commit-kind mapping (append / replace /
  * order-resolved upsert), partitionBy layout, autoCompact, and the
  * option validation surface. */
class GraftLakeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  private def sink(dir: File, mode: OutputMode,
      opts: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = Seq.empty) =
    new GraftLakeSink(spark, opts + ("path" -> dir.getAbsolutePath),
      partitionCols, mode)

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"d$i", i % 3)).toDF("id", "s", "m")

  test("append: one epoch per batch, #batch= carried, replayed batch " +
      "ids REFUSED (at and below the high-water mark)") {
    val t = tmp("gls-append")
    val s = sink(t, OutputMode.Append())
    s.addBatch(0, rows(0, 3))
    s.addBatch(1, rows(3, 5))
    s.addBatch(1, rows(90, 95)) // replay: same id, different rows
    s.addBatch(0, rows(90, 95)) // replay: older id
    assert(Export.latestSnapshotVersion(t.getAbsolutePath) === 2)
    assert(Export.lastAppliedBatch(t.getAbsolutePath) === 1L)
    val got = Export.readSnapshot(spark, t.getAbsolutePath, 2)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 5L))
  }

  test("append honors the DECLARED graft.cluster.key: every " +
      "micro-batch lands zoned (parity with INSERT INTO), no " +
      "per-query clusterBy option needed") {
    val t = tmp("gls-declared-ck")
    val path = t.getAbsolutePath
    // the table exists with the property BEFORE the stream starts
    // (the CREATE TABLE ... TBLPROPERTIES shape)
    Export.createEmptySnapshot(path, rows(0, 1).schema)
    Export.setSnapshotProperties(path,
      Map("graft.cluster.key" -> "id"))
    val s = sink(t, OutputMode.Append())
    s.addBatch(0, rows(0, 50))
    s.addBatch(1, rows(50, 100))
    val head = Export.latestSnapshotVersion(path)
    val entries = Export.snapshotManifestEntries(path, head)
    assert(entries.nonEmpty && entries.forall(_.zone.nonEmpty),
      "declared-key appends must write zoned epochs")
    assert(Export.readSnapshot(spark, path, head).count() === 100)
  }

  test("Complete mode REPLACES the head each batch; old refreshes " +
      "time-travel") {
    val t = tmp("gls-complete")
    val s = sink(t, OutputMode.Complete())
    s.addBatch(0, rows(0, 3))
    s.addBatch(1, rows(10, 12))
    assert(Export.readSnapshot(spark, t.getAbsolutePath, 2)
      .select("id").as[Long].collect().sorted.toSeq === Seq(10L, 11L))
    assert(Export.readSnapshot(spark, t.getAbsolutePath, 1)
      .select("id").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L))
  }

  test("Update mode upserts by key with order-resolved merges; " +
      "out-of-order batches settle to the global resolution") {
    val t = tmp("gls-update")
    val s = sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id", "orderBy" -> "seq",
        "allowFullRewrite" -> "true"))
    def kv(triples: (Long, String, Int)*): DataFrame =
      triples.toDF("id", "s", "seq")
    s.addBatch(0, kv((1L, "new", 5), (2L, "b0", 1)))
    // older seq for key 1 arrives LATE - must lose
    s.addBatch(1, kv((1L, "stale", 2), (3L, "c0", 7)))
    val got = Export.readSnapshot(spark, t.getAbsolutePath,
        Export.latestSnapshotVersion(t.getAbsolutePath))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "new", 5), (2L, "b0", 1), (3L, "c0", 7)))
  }

  test("Update + morUpsert: O(batch) MERGE-ON-READ commits — no data " +
      "file ever rewritten, state equals the CoW Update sink's, " +
      "exactly-once guard holds, autoCompact materializes") {
    val t = tmp("gls-morupsert")
    val s = sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id", "orderBy" -> "seq",
        "morUpsert" -> "true"))
    def kv(triples: (Long, String, Int)*): DataFrame =
      triples.toDF("id", "s", "seq")
    val p = t.getAbsolutePath
    s.addBatch(0, kv((1L, "a0", 1), (2L, "b0", 1))) // bootstrap append
    val files1 = Export.snapshotFiles(p, 1).toSet
    s.addBatch(1, kv((1L, "a1", 5), (3L, "c0", 2))) // update + insert
    s.addBatch(2, kv((1L, "stale", 3), (2L, "b1", 9))) // stale loses
    s.addBatch(1, kv((1L, "replay", 99))) // replayed batch id: refused
    val head = Export.latestSnapshotVersion(p)
    // every original file still referenced - MoR never rewrites
    assert(files1.subsetOf(Export.snapshotFiles(p, head).toSet))
    assert(Export.snapshotHasDeletionVectors(p, head))
    val got = Export.readSnapshot(spark, p, head)
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a1", 5), (2L, "b1", 9), (3L, "c0", 2)))
    // the format API serves the MoR head too (anti-join rewrite)
    assert(spark.read.format("graftlake").load(p)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq === got.toSeq)
    // compaction materializes; state unchanged
    Export.compactSnapshot(spark, p)
    assert(Export.readSnapshot(spark, p,
        Export.latestSnapshotVersion(p))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq === got.toSeq)
    // morUpsert satisfies the scale contract (no allowFullRewrite
    // needed) but refuses a partition layout
    intercept[IllegalArgumentException](sink(tmp("gls-morbad"),
      OutputMode.Update(),
      Map("mergeKeys" -> "id,m", "orderBy" -> "seq",
        "morUpsert" -> "true"),
      partitionCols = Seq("m")))
  }

  test("partitionBy lays out hive-style epochs; the partition-pruned " +
      "read plans only matching files") {
    val t = tmp("gls-part")
    val s = sink(t, OutputMode.Append(),
      partitionCols = Seq("m"))
    s.addBatch(0, rows(0, 6))
    s.addBatch(1, rows(6, 9))
    val v = Export.latestSnapshotVersion(t.getAbsolutePath)
    val pruned = Export.readSnapshot(spark, t.getAbsolutePath, v)
      .filter(col("m").cast("string") === "1")
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ===
      (0L until 9L).filter(_ % 3 == 1))
    // layout proof: manifest lines of matching partitions only
    val all = Export.snapshotFiles(t.getAbsolutePath, v)
    assert(all.exists(_.contains("m=1")) && all.exists(_.contains("m=2")))
  }

  test("autoCompactEvery folds accumulated epochs and carries the " +
      "batch watermark, so exactly-once survives compaction") {
    val t = tmp("gls-autocompact")
    val s = sink(t, OutputMode.Append(),
      Map("autoCompactEvery" -> "3"))
    s.addBatch(0, rows(0, 2))
    s.addBatch(1, rows(2, 4))
    s.addBatch(2, rows(4, 6)) // version 3 -> compaction commits v4
    val v = Export.latestSnapshotVersion(t.getAbsolutePath)
    assert(v === 4)
    assert(Export.snapshotOperation(t.getAbsolutePath, 4)
      === Some("compact"))
    assert(Export.snapshotFiles(t.getAbsolutePath, 4).size === 1)
    assert(Export.lastAppliedBatch(t.getAbsolutePath) === 2L)
    s.addBatch(2, rows(50, 55)) // replay after compaction: refused
    assert(Export.latestSnapshotVersion(t.getAbsolutePath) === 4)
    assert(Export.readSnapshot(spark, t.getAbsolutePath, 4)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 6L))
  }

  test("option validation: Update needs mergeKeys+orderBy, mergeKeys " +
      "only in Update, partitions must be a subset of keys, " +
      "autoCompact refuses partitioned tables") {
    val t = tmp("gls-validate")
    intercept[IllegalArgumentException](sink(t, OutputMode.Update()))
    intercept[IllegalArgumentException](sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id")))
    intercept[IllegalArgumentException](sink(t, OutputMode.Append(),
      Map("mergeKeys" -> "id")))
    intercept[IllegalArgumentException](sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id", "orderBy" -> "seq"),
      partitionCols = Seq("m")))
    intercept[IllegalArgumentException](sink(t, OutputMode.Append(),
      Map("autoCompactEvery" -> "3"), partitionCols = Seq("m")))
  }

  test("Update + clusterBy: zone-pruned file-scoped merges — bootstrap " +
      "clusters, later batches carry non-overlapping files verbatim, " +
      "result equals the global resolution") {
    val t = tmp("gls-clustered")
    val s = sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id", "orderBy" -> "seq",
        "clusterBy" -> "id", "filesPerCommit" -> "6"))
    def kv(rs: Seq[(Long, String, Int)]): DataFrame = {
      import spark.implicits._
      rs.toDF("id", "s", "seq")
    }
    s.addBatch(0, kv((1L to 300L).map(i => (i, s"v$i", 0))))
    val files1 = Export.snapshotFiles(t.getAbsolutePath, 1)
    assert(files1.size === 6)
    // a range-local batch: only the overlapping zone files rewrite
    s.addBatch(1, kv(Seq((290L, "new", 5), (310L, "ins", 5))))
    val files2 = Export.snapshotFiles(t.getAbsolutePath, 2)
    assert(files2.toSet.intersect(files1.toSet).size >= 4,
      "zone-pruned merge rewrote non-overlapping files")
    // stale replay + late stale record resolve exactly as global
    s.addBatch(1, kv(Seq((290L, "replay", 9)))) // refused: batch id
    s.addBatch(2, kv(Seq((290L, "stale", 2)))) // loses on seq
    val got = Export.readSnapshot(spark, t.getAbsolutePath,
        Export.latestSnapshotVersion(t.getAbsolutePath))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.length === 301)
    assert(got.find(_._1 == 290L).get === ((290L, "new", 5)))
    assert(got.find(_._1 == 310L).get === ((310L, "ins", 5)))
    // validation: clusterBy must be a merge key; clusterBy alone
    // satisfies the unpartitioned-Update contract (no allowFullRewrite)
    intercept[IllegalArgumentException](sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id", "orderBy" -> "seq", "clusterBy" -> "s")))
  }

  test("scale contract: unpartitioned Update refuses without an " +
      "explicit allowFullRewrite; Complete refuses partitionBy instead " +
      "of silently dropping the layout") {
    val t = tmp("gls-contract")
    // O(table)-per-batch rewrite needs the opt-in...
    val e = intercept[IllegalArgumentException](sink(t, OutputMode.Update(),
      Map("mergeKeys" -> "id", "orderBy" -> "seq")))
    assert(e.getMessage.contains("allowFullRewrite"))
    // ...and the opt-in (or a partition layout) unlocks it
    sink(t, OutputMode.Update(), Map("mergeKeys" -> "id",
      "orderBy" -> "seq", "allowFullRewrite" -> "true"))
    sink(t, OutputMode.Update(), Map("mergeKeys" -> "id,m",
      "orderBy" -> "seq"), partitionCols = Seq("m"))
    // Complete commits via replaceSnapshot (unpartitioned); a requested
    // layout must fail loudly, not vanish (ADVICE r11)
    val c = intercept[IllegalArgumentException](sink(t,
      OutputMode.Complete(), partitionCols = Seq("m")))
    assert(c.getMessage.contains("partitionBy"))
  }

  test("autoVacuumKeep housekeeping: 20 micro-batches leave a BOUNDED " +
      "log (versions, manifests, epoch dirs), exactly-once survives " +
      "retention, final rows complete") {
    val t = tmp("gls-autovacuum")
    val s = sink(t, OutputMode.Append(),
      Map("autoCompactEvery" -> "4", "autoVacuumKeep" -> "2",
        "autoVacuumHorizonMs" -> "0"))
    (0 until 20).foreach(b => s.addBatch(b, rows(b * 3, b * 3 + 3)))
    // the version LIST is bounded by keep, not by batch count
    val versions = Export.snapshotVersions(t.getAbsolutePath)
    assert(versions.size <= 2, s"unbounded log: $versions")
    // the physical root is bounded too: manifests + live epoch dirs +
    // the hint, not one dir per historical batch
    val rootEntries = t.listFiles().map(_.getName)
    assert(rootEntries.count(_.startsWith("epoch=")) <= 8,
      s"epoch dirs unbounded: ${rootEntries.count(_.startsWith("epoch="))}")
    assert(rootEntries.count(_.endsWith(".manifest")) <= 2)
    // exactly-once watermark survived compaction + retention
    assert(Export.lastAppliedBatch(t.getAbsolutePath) === 19L)
    s.addBatch(19, rows(900, 903)) // replay refused across retention
    s.addBatch(3, rows(900, 903))
    assert(Export.lastAppliedBatch(t.getAbsolutePath) === 19L)
    // every batch's rows present exactly once
    val got = Export.readSnapshot(spark, t.getAbsolutePath,
        Export.latestSnapshotVersion(t.getAbsolutePath))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 60L))
  }

  test("end-to-end through the engine: readStream graftlake -> " +
      "writeStream graftlake equals the batch transform") {
    val src = tmp("gls-e2e-src")
    val dst = tmp("gls-e2e-dst")
    Export.appendSnapshot(spark, rows(0, 5), src.getAbsolutePath)
    Export.appendSnapshot(spark, rows(5, 9), src.getAbsolutePath)
    val q = spark.readStream.format("graftlake")
      .option("maxVersionsPerTrigger", "1")
      .load(src.getAbsolutePath)
      .filter(col("m") =!= 2)
      .writeStream.format("graftlake")
      .option("path", dst.getAbsolutePath)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("gls-e2e-cp").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    assert(Export.latestSnapshotVersion(dst.getAbsolutePath) === 2)
    val got = Export.readSnapshot(spark, dst.getAbsolutePath, 2)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 9L).filter(_ % 3 != 2))
  }

  test("CHECK constraints reach the STREAMING sink: a violating " +
      "micro-batch aborts with the constraint named, nothing commits, " +
      "and a clean batch still lands afterwards") {
    val t = tmp("gls-check")
    val s = sink(t, OutputMode.Append())
    s.addBatch(0, rows(0, 3))
    Export.setSnapshotCheck(spark, t.getAbsolutePath,
      "id_small", Some("id < 100"))
    val v = Export.latestSnapshotVersion(t.getAbsolutePath)
    val e = intercept[Exception](s.addBatch(1, rows(98, 103)))
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++
        msgs(t.getCause))
    assert(msgs(e).exists(_.contains("id_small")),
      s"expected the constraint named, got: ${msgs(e)}")
    assert(Export.latestSnapshotVersion(t.getAbsolutePath) === v,
      "a violating micro-batch must not commit")
    // the guard did not burn the batch id: the RETRY (the streaming
    // engine's replay of the failed batch) commits once fixed
    s.addBatch(1, rows(10, 13))
    assert(Export.readSnapshot(spark, t.getAbsolutePath,
        Export.latestSnapshotVersion(t.getAbsolutePath))
      .select("id").as[Long].collect().sorted.toSeq ===
      Seq(0L, 1L, 2L, 10L, 11L, 12L))
  }
}
