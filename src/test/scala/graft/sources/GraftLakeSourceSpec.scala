package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.operators.Export
import graft.operators.Export.Layout

/** Laws of the graftlake STREAMING SOURCE: version-offset batching,
  * admission control, the appends-only refusal/skip contract for change
  * commits, CDF mode, startingVersion, and checkpointed resume. */
class GraftLakeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"d$i", i % 3)).toDF("id", "s", "m")

  /** Drain the stream with foreachBatch into an in-memory ledger of
    * (batchId, rows); ProcessingTime(0) + processAllAvailable so
    * admission control actually yields multiple micro-batches (the
    * AvailableNow fallback for DSv1 sources is single-batch). */
  private def drain(stream: DataFrame, cp: File)
      : Seq[(Long, Seq[(Long, String, Int)])] = {
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Long, String, Int)])]
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", cp.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val r = b.select("id", "s", "m").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
        got.synchronized { got += ((id, r)) }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    got.toSeq
  }

  test("one micro-batch per version under maxVersionsPerTrigger=1, " +
      "each batch exactly that version's appended rows") {
    val table = tmp("glk-batching")
    val slices = Seq(rows(0, 5), rows(5, 7), rows(7, 12))
    slices.foreach(df =>
      Export.appendSnapshot(spark, df, table.getAbsolutePath))
    val stream = spark.readStream.format("graftlake")
      .option("maxVersionsPerTrigger", "1")
      .load(table.getAbsolutePath)
    val got = drain(stream, tmp("glk-batching-cp"))
    val nonEmpty = got.filter(_._2.nonEmpty)
    assert(nonEmpty.size === 3)
    nonEmpty.sortBy(_._1).zip(slices).foreach { case ((_, g), want) =>
      val w = want.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      assert(g.sortBy(_._1) === w.sortBy(_._1))
    }
  }

  test("admission control: 5 versions at maxVersionsPerTrigger=2 " +
      "drain in 3 batches; unlimited drains in 1") {
    val table = tmp("glk-admission")
    (0 until 5).foreach(k =>
      Export.appendSnapshot(spark, rows(k * 2, k * 2 + 2),
        table.getAbsolutePath))
    val capped = drain(spark.readStream.format("graftlake")
        .option("maxVersionsPerTrigger", "2")
        .load(table.getAbsolutePath), tmp("glk-admission-cp"))
      .filter(_._2.nonEmpty)
    assert(capped.size === 3)
    assert(capped.map(_._2.size).sorted === Seq(2, 4, 4))
    val open = drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), tmp("glk-admission-cp2"))
      .filter(_._2.nonEmpty)
    assert(open.size === 1 && open.head._2.size === 10)
  }

  test("a change commit FAILS the appends-only stream by default, " +
      "naming skipChangeCommits") {
    val table = tmp("glk-refuse")
    Export.appendSnapshot(spark, rows(0, 6), table.getAbsolutePath)
    Export.deleteWhere(spark, table.getAbsolutePath, col("m") === 1)
    val ex = intercept[StreamingQueryException] {
      drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), tmp("glk-refuse-cp"))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("skipChangeCommits")))
  }

  test("skipChangeCommits=true: the delete's rewritten files are never " +
      "emitted; appends before and after flow") {
    val table = tmp("glk-skip")
    Export.appendSnapshot(spark, rows(0, 6), table.getAbsolutePath)
    Export.deleteWhere(spark, table.getAbsolutePath, col("m") === 1)
    Export.appendSnapshot(spark, rows(6, 9), table.getAbsolutePath)
    val got = drain(spark.readStream.format("graftlake")
        .option("skipChangeCommits", "true")
        .load(table.getAbsolutePath), tmp("glk-skip-cp"))
      .flatMap(_._2).sortBy(_._1)
    // v1's 6 rows + v3's 3 rows; the delete commit contributes nothing
    assert(got.map(_._1) === (0L until 9L))
  }

  test("startingVersion serves only later commits") {
    val table = tmp("glk-startv")
    Export.appendSnapshot(spark, rows(0, 4), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(4, 6), table.getAbsolutePath)
    val got = drain(spark.readStream.format("graftlake")
        .option("startingVersion", "2")
        .load(table.getAbsolutePath), tmp("glk-startv-cp"))
      .flatMap(_._2).map(_._1).sorted
    assert(got === Seq(4L, 5L))
  }

  test("checkpointed resume: a restarted stream serves ONLY versions " +
      "committed after the stop, and the union is the whole table") {
    val table = tmp("glk-resume")
    val cp = tmp("glk-resume-cp")
    Export.appendSnapshot(spark, rows(0, 3), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(3, 5), table.getAbsolutePath)
    def run() = drain(spark.readStream.format("graftlake")
      .load(table.getAbsolutePath), cp)
    val first = run().flatMap(_._2)
    assert(first.map(_._1).sorted === (0L until 5L))
    Export.appendSnapshot(spark, rows(5, 8), table.getAbsolutePath)
    val second = run().flatMap(_._2)
    assert(second.map(_._1).sorted === Seq(5L, 6L, 7L),
      "a resumed stream must not re-serve checkpointed versions")
  }

  test("readChangeFeed: inserts per append version, deletes from a " +
      "delete commit, each stamped with its commit version") {
    val table = tmp("glk-cdf")
    Export.appendSnapshot(spark, rows(0, 4), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(4, 7), table.getAbsolutePath)
    Export.deleteWhere(spark, table.getAbsolutePath, col("m") === 0)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    val q = spark.readStream.format("graftlake")
      .option("readChangeFeed", "true")
      .load(table.getAbsolutePath)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("glk-cdf-cp").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.select("id", "s", "_change", "_commit_version")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3)))
        got.synchronized { got ++= r }
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val want =
      (0 until 4).map(i => (i.toLong, s"d$i", "insert", 1L)) ++
        (4 until 7).map(i => (i.toLong, s"d$i", "insert", 2L)) ++
        (0 until 7).filter(_ % 3 == 0)
          .map(i => (i.toLong, s"d$i", "delete", 3L))
    assert(got.toSeq.sorted === want.sorted)
  }

  test("CDF catch-up plan width is O(non-append commits): a 50-version " +
      "append run shares ONE scan group; rows and version stamps are " +
      "exact (r13 task #6)") {
    val table = tmp("glk-cdfwide")
    (0 until 50).foreach(i =>
      Export.appendSnapshot(spark, rows(i * 2, i * 2 + 2),
        table.getAbsolutePath))
    Export.deleteWhere(spark, table.getAbsolutePath, col("id") === 0L)
    val src = new GraftLakeSource(spark.sqlContext.sparkSession,
      Map("path" -> table.getAbsolutePath, "readChangeFeed" -> "true"))
    // plan-width proof: 50 appends share the single scan group, only
    // the delete commit keeps a per-version diff plan
    val (grouped, perVersion) = src.cdfGroups((1L to 51L),
      Export.snapshotVersions(table.getAbsolutePath))
    assert(grouped === (1L to 50L))
    assert(perVersion === Seq(51L))
    // row proof through the real engine: every append row stamped with
    // ITS commit version (the broadcast file→version join), the delete
    // rows with the delete's
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long)]
    val q = spark.readStream.format("graftlake")
      .option("readChangeFeed", "true")
      .load(table.getAbsolutePath)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("glk-cdfwide-cp").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.select("id", "_change", "_commit_version").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        got.synchronized { got ++= r }
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val want =
      (0 until 100).map(i => (i.toLong, "insert", (i / 2 + 1).toLong)) :+
        ((0L, "delete", 51L))
    assert(got.toSeq.sorted === want.sorted)
  }

  test("Trigger.AvailableNow drains version-per-batch and SELF-" +
      "TERMINATES at the end pinned when the trigger started") {
    val table = tmp("glk-availnow")
    val slices = Seq(rows(0, 4), rows(4, 6), rows(6, 9))
    slices.foreach(df =>
      Export.appendSnapshot(spark, df, table.getAbsolutePath))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int)]
    val q = spark.readStream.format("graftlake")
      .option("maxVersionsPerTrigger", "1")
      .load(table.getAbsolutePath)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tmp("glk-availnow-cp").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        got.synchronized { got += ((id, b.count().toInt)) }
        ()
      }.start()
    assert(q.awaitTermination(120000),
      "AvailableNow must terminate on its own")
    assert(got.filter(_._2 > 0).map(_._2).toSeq === Seq(4, 2, 3),
      "one batch per version, in commit order")
  }

  test("a mid-stream vacuumed version FAILS the stream by default " +
      "(failOnDataLoss); opting out serves the best-effort diff") {
    val table = tmp("glk-dataloss")
    val cp = tmp("glk-dataloss-cp")
    Export.appendSnapshot(spark, rows(0, 3), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(3, 5), table.getAbsolutePath)
    val first = drain(spark.readStream.format("graftlake")
      .load(table.getAbsolutePath), cp).flatMap(_._2)
    assert(first.map(_._1).sorted === (0L until 5L))
    Export.appendSnapshot(spark, rows(5, 7), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(7, 8), table.getAbsolutePath)
    // keep only v4: v3 (and the stream's diff base v2) vanish
    Export.vacuumSnapshots(table.getAbsolutePath, keep = 1,
      horizonMs = 0L)
    val ex = intercept[StreamingQueryException] {
      drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), cp)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("failOnDataLoss")))
    // best-effort: v4's diff has no surviving base -> re-serves the
    // accumulated state; the stream is told exactly that trade
    val healed = drain(spark.readStream.format("graftlake")
      .option("failOnDataLoss", "false")
      .load(table.getAbsolutePath), cp).flatMap(_._2)
    assert(healed.map(_._1).sorted === (0L until 8L))
  }

  test("initial-snapshot bootstrap: a fresh stream over a compacted-" +
      "then-vacuumed log serves the surviving compaction whole instead " +
      "of refusing it; later change commits still refuse") {
    val table = tmp("glk-bootcompact")
    Export.appendSnapshot(spark, rows(0, 4), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(4, 7), table.getAbsolutePath)
    Export.compactSnapshot(spark, table.getAbsolutePath)
    Export.vacuumSnapshots(table.getAbsolutePath, keep = 1,
      horizonMs = 0L)
    Export.appendSnapshot(spark, rows(7, 9), table.getAbsolutePath)
    val got = drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), tmp("glk-bootcompact-cp"))
      .flatMap(_._2)
    assert(got.map(_._1).sorted === (0L until 9L))
    // the exemption is bootstrap-only: a fresh stream pointed ABOVE
    // the first survivor still refuses a change commit there
    Export.compactSnapshot(spark, table.getAbsolutePath)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(spark.readStream.format("graftlake")
        .option("startingVersion",
          Export.latestSnapshotVersion(table.getAbsolutePath).toString)
        .load(table.getAbsolutePath), tmp("glk-bootcompact-cp2"))
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("skipChangeCommits")))
  }

  test("startingVersion=latest tails only commits made after the " +
      "stream existed") {
    val table = tmp("glk-tail")
    Export.appendSnapshot(spark, rows(0, 5), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(5, 7), table.getAbsolutePath)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graftlake")
      .option("startingVersion", "latest")
      .load(table.getAbsolutePath)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("glk-tail-cp").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized {
          got ++= b.select("id").collect().map(_.getLong(0))
        }
        ()
      }.start()
    q.processAllAvailable()
    assert(got.isEmpty, "nothing committed since stream creation")
    Export.appendSnapshot(spark, rows(7, 9), table.getAbsolutePath)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq === Seq(7L, 8L))
  }

  test("metadata-only rename/drop commits flow through the appends-" +
      "only stream, and a MAPPED table's old epochs decode by " +
      "physical name under the pinned schema") {
    val table = tmp("glk-mapped")
    Export.appendSnapshot(spark, rows(0, 3), table.getAbsolutePath)
    Export.renameSnapshotColumn(table.getAbsolutePath, "s", "label")
    Export.appendSnapshot(spark,
      (3 until 6).map(i => (i.toLong, s"d$i", i % 3))
        .toDF("id", "label", "m"), table.getAbsolutePath)
    Export.dropSnapshotColumn(table.getAbsolutePath, "m")
    val stream = spark.readStream.format("graftlake")
      .load(table.getAbsolutePath)
    assert(stream.schema.fieldNames.toSeq === Seq("id", "label"))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String)]
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tmp("glk-mapped-cp").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized {
          got ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
        }
        ()
      }.start()
    assert(q.awaitTermination(120000))
    assert(got.sortBy(_._1).toSeq ===
      (0 until 6).map(i => (i.toLong, s"d$i")),
      "v1's bytes (physical name 's') must decode under 'label'")
  }

  test("CDF across a rename boundary: the rename version emits NOTHING " +
      "and all changes align to the pinned (new-name) schema") {
    val table = tmp("glk-cdfrename")
    Export.appendSnapshot(spark, rows(0, 4), table.getAbsolutePath)
    Export.renameSnapshotColumn(table.getAbsolutePath, "s", "label")
    Export.deleteWhere(spark, table.getAbsolutePath, col("m") === 0)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    val q = spark.readStream.format("graftlake")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(table.getAbsolutePath)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tmp("glk-cdfrename-cp").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.select("id", "label", "_change", "_commit_version")
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3)))
        got.synchronized { got ++= r }
        ()
      }.start()
    assert(q.awaitTermination(120000))
    val want =
      (0 until 4).map(i => (i.toLong, s"d$i", "insert", 1L)) ++
        Seq((0L, "d0", "delete", 3L), (3L, "d3", "delete", 3L))
    assert(got.toSeq.sorted === want.sorted,
      "rename version 2 must contribute zero change rows")
  }

  test("a fresh stream over a HEAD-vacuumed log serves the first " +
      "survivor's accumulated state once, no loss flagged") {
    val table = tmp("glk-headvac")
    Export.appendSnapshot(spark, rows(0, 3), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(3, 6), table.getAbsolutePath)
    Export.vacuumSnapshots(table.getAbsolutePath, keep = 1,
      horizonMs = 0L)
    val got = drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), tmp("glk-headvac-cp"))
      .flatMap(_._2)
    assert(got.map(_._1).sorted === (0L until 6L))
  }

  test("a DV-bearing bootstrap (MoR delete then head-vacuum) excludes " +
      "the deleted rows: the boot batch routes through the DV-aware " +
      "read, not the raw file scan") {
    val table = tmp("glk-morboot")
    Export.appendSnapshot(spark, rows(0, 6), table.getAbsolutePath)
    // MoR delete: data files untouched, positions in a dv= sidecar —
    // a raw scan of the head's files would re-emit ids 0..2
    Export.deleteWhereMoR(spark, table.getAbsolutePath, col("id") < 3)
    Export.vacuumSnapshots(table.getAbsolutePath, keep = 1,
      horizonMs = 0L)
    assert(Export.snapshotHasDeletionVectors(table.getAbsolutePath,
      Export.latestSnapshotVersion(table.getAbsolutePath)))
    val got = drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), tmp("glk-morboot-cp"))
      .flatMap(_._2)
    assert(got.map(_._1).sorted === (3L until 6L),
      "bootstrap re-emitted MoR-deleted rows")
    // and appends AFTER the DV-bearing bootstrap still flow normally
    Export.appendSnapshot(spark, rows(10, 12), table.getAbsolutePath)
    val got2 = drain(spark.readStream.format("graftlake")
        .load(table.getAbsolutePath), tmp("glk-morboot-cp2"))
      .flatMap(_._2)
    assert(got2.map(_._1).sorted === Seq(3L, 4L, 5L, 10L, 11L))
  }

  test("a partition-filtered stream over a partitioned table PLANS only " +
      "matching files per batch (manifest-tag pruning, not just pushed " +
      "predicates); output unchanged") {
    val table = tmp("glk-streamprune")
    Export.appendSnapshot(spark, rows(0, 12),
      table.getAbsolutePath, Layout.Partitioned(Seq("m"), nFiles = 2))
    Export.appendSnapshot(spark, rows(12, 24),
      table.getAbsolutePath, Layout.Partitioned(Seq("m"), nFiles = 2))
    val src = new GraftLakeSource(spark.sqlContext.sparkSession,
      Map("path" -> table.getAbsolutePath, "where" -> "m = 1"))
    // planning proof: every planned file is an m=1 partition file, and
    // strictly fewer files are planned than the manifests list
    val planned = Seq(1L, 2L).flatMap(src.plannedAddedEntries).map(_.path)
    assert(planned.nonEmpty)
    assert(planned.forall(_.contains("_p_m=1")),
      s"planned non-matching files: " +
        planned.filterNot(_.contains("_p_m=1")).mkString(", "))
    assert(planned.length < Export.snapshotFiles(
      table.getAbsolutePath, 2).size)
    // row proof through the real engine: exactly the m=1 rows
    val got = drain(spark.readStream.format("graftlake")
        .option("where", "m = 1").load(table.getAbsolutePath),
      tmp("glk-streamprune-cp")).flatMap(_._2)
    assert(got.map(_._1).sorted === (0L until 24L).filter(_ % 3 == 1))
    // and a range conjunct on a statted column prunes via s= tags too
    val statted = tmp("glk-streamprune2")
    Export.appendSnapshot(spark, rows(0, 100),
      statted.getAbsolutePath, Layout.Statted(cols = Seq("id"), nFiles = 5))
    val src2 = new GraftLakeSource(spark.sqlContext.sparkSession,
      Map("path" -> statted.getAbsolutePath, "where" -> "id >= 90"))
    val planned2 = src2.plannedAddedEntries(1L)
    assert(planned2.nonEmpty && planned2.length < 5)
    val got2 = drain(spark.readStream.format("graftlake")
        .option("where", "id >= 90").load(statted.getAbsolutePath),
      tmp("glk-streamprune2-cp")).flatMap(_._2)
    assert(got2.map(_._1).sorted === (90L until 100L))
  }

  test("source-side where/select: the stream schema is the projection, " +
      "rows are pre-filtered, and unknown select columns are refused") {
    val table = tmp("glk-pushdown")
    Export.appendSnapshot(spark, rows(0, 6), table.getAbsolutePath)
    Export.appendSnapshot(spark, rows(6, 10), table.getAbsolutePath)
    val stream = spark.readStream.format("graftlake")
      .option("where", "m = 1")
      .option("select", "id,m")
      .load(table.getAbsolutePath)
    assert(stream.schema.fieldNames.toSeq === Seq("id", "m"))
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        tmp("glk-pushdown-cp").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized {
          got ++= b.select("id").collect().map(_.getLong(0))
        }
        ()
      }.start()
    assert(q.awaitTermination(120000))
    assert(got.sorted.toSeq === (0L until 10L).filter(_ % 3 == 1))
    intercept[IllegalArgumentException] {
      spark.readStream.format("graftlake")
        .option("select", "id,nope").load(table.getAbsolutePath).schema
    }
  }

  test("the stream schema is the committed schema; an un-evolved old " +
      "epoch's absent column null-fills") {
    val table = tmp("glk-schema")
    Export.appendSnapshot(spark, rows(0, 2), table.getAbsolutePath)
    Export.appendSnapshotEvolved(spark,
      rows(2, 4).withColumn("extra", col("id") * 10),
      table.getAbsolutePath)
    val stream = spark.readStream.format("graftlake")
      .load(table.getAbsolutePath)
    assert(stream.schema.fieldNames.toSeq ===
      Seq("id", "s", "m", "extra"))
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Long])]
    val q = stream.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("glk-schema-cp").getAbsolutePath)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val r = b.select("id", "extra").collect().map(r =>
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        got.synchronized { got ++= r }
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(got.toSeq.sortBy(_._1) === Seq(
      (0L, None), (1L, None), (2L, Some(20L)), (3L, Some(30L))))
  }
}
