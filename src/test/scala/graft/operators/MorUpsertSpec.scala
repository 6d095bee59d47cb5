package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Export.Layout

/** Laws of [[Export.upsertSnapshotMoR]] — the merge-on-read UPSERT:
  * deletion-vector the beaten incumbents, append the winners, never
  * rewrite a data file.
  *
  *  - EQUIVALENCE: folding micro-batches through the MoR commit settles
  *    to exactly the [[Merge.upsertLatest]] fold, in any arrival order
  *    (the CDC convergence law the sink depends on).
  *  - NO REWRITE: every pre-existing data file survives every commit
  *    verbatim; only sidecars and insert epochs appear.
  *  - A DV'd (deleted) incumbent must NOT outrank a live update.
  *  - CLUSTERED SCOPE: zone-disjoint files are not even scanned, their
  *    manifest lines carry byte-verbatim; insert epochs land zoned.
  *  - Compaction materializes the state unchanged.
  */
class MorUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = new java.io.File(new java.io.File("target", "testtmp"), name)
    graft.util.Dirs.deleteRec(d)
    d.getAbsolutePath
  }

  private def df(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("k", "ts", "v")

  private val keys = Seq("k")
  private val order = Seq("ts")

  private def state(out: String): Set[(Long, Long, String)] =
    Export.readSnapshot(spark, out, Export.latestSnapshotVersion(out))
      .as[(Long, Long, String)].collect().toSet

  test("equivalence law: MoR fold == upsertLatest fold, any batch order, zero data-file rewrites") {
    val base = df((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"),
      (4L, 10L, "d"))
    val batches = Seq(
      df((1L, 20L, "a2"), (5L, 20L, "e")), // update + insert
      df((2L, 5L, "stale"), (3L, 30L, "c2")), // stale loses, fresh wins
      df((1L, 15L, "mid"), (6L, 1L, "f"))) // loses to batch-1's 20
    for (perm <- batches.permutations.take(3).toSeq) {
      val out = tmp(s"morconv${perm.hashCode}")
      Export.appendSnapshot(spark, base, out)
      var files = Export.snapshotFiles(out, 1).toSet
      perm.foreach { b =>
        Export.upsertSnapshotMoR(spark, out, b, keys, order)
        val now = Export.snapshotFiles(out,
          Export.latestSnapshotVersion(out)).toSet
        assert(files.subsetOf(now),
          "a pre-existing data file vanished: MoR must never rewrite")
        files = now
      }
      val cow = perm.foldLeft(base)(
        (acc, b) => Merge.upsertLatest(acc, b, keys, order))
        .as[(Long, Long, String)].collect().toSet
      assert(state(out) === cow, s"order ${perm.map(_.hashCode)}")
      // the head really is MoR: DVs present, original files referenced
      val head = Export.latestSnapshotVersion(out)
      assert(Export.snapshotHasDeletionVectors(out, head))
      // compaction materializes the same state
      Export.compactSnapshot(spark, out)
      assert(state(out) === cow)
    }
  }

  test("a deleted incumbent does not outrank a live update; a wholly-stale batch is a no-op commit") {
    val out = tmp("mordel")
    Export.appendSnapshot(spark, df((1L, 100L, "old"), (2L, 50L, "keep")),
      out)
    Export.deleteWhereMoR(spark, out, col("k") === 1L)
    assert(state(out) === Set((2L, 50L, "keep")))
    // ts=60 < the DV'd row's ts=100: the tombstoned incumbent must not
    // win the resolution and suppress this insert
    val v = Export.upsertSnapshotMoR(spark, out, df((1L, 60L, "new")),
      keys, order)
    assert(state(out) === Set((1L, 60L, "new"), (2L, 50L, "keep")))
    // wholly-stale batch: nothing beaten, nothing inserted, no commit
    val v2 = Export.upsertSnapshotMoR(spark, out, df((1L, 1L, "older")),
      keys, order)
    assert(v2 === v, "stale batch must not churn the log")
    assert(state(out) === Set((1L, 60L, "new"), (2L, 50L, "keep")))
  }

  test("identical re-delivery keeps the incumbent: no DV, no insert, no commit") {
    val out = tmp("moridem")
    Export.appendSnapshot(spark, df((1L, 10L, "a")), out)
    val v1 = Export.latestSnapshotVersion(out)
    val v2 = Export.upsertSnapshotMoR(spark, out, df((1L, 10L, "a")),
      keys, order)
    assert(v2 === v1, "an exact duplicate row must prefer the incumbent")
    assert(!Export.snapshotHasDeletionVectors(out, v2))
  }

  test("clustered scope: zone-disjoint lines carry byte-verbatim, insert epoch lands zoned for the next batch") {
    val out = tmp("morclust")
    val base = (0L until 400L).map(k => (k, 10L, s"v$k")).toDF("k", "ts", "v")
    Export.appendSnapshot(spark, base, out, Layout.Clustered("k", nFiles = 8))
    val linesBefore = Export.snapshotManifestEntries(out, 1)
    // envelope-local batch: keys 0..40 -> only the low-zone files scan
    val batch = (0L until 40L by 2L).map(k => (k, 20L, s"u$k"))
      .toDF("k", "ts", "v")
    val v2 = Export.upsertSnapshotMoR(spark, out, batch, keys, order,
      clusterKey = Some("k"), nFiles = 2)
    val after = Export.snapshotManifestEntries(out, v2)
    // every high-zone file's entry carries verbatim: same stats, no dv
    val untouchedBefore = linesBefore.filter(
      _.stats.get("k").exists(_._1 >= 50))
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { e =>
      val now = after.find(_.path == e.path)
      assert(now.contains(e), s"zone-disjoint line changed: ${e.path}")
    }
    // the insert epoch is zoned on k (next batch can prune it)
    val freshEntries = after.filterNot(e =>
      linesBefore.exists(_.path == e.path))
    assert(freshEntries.nonEmpty &&
      freshEntries.forall(_.stats.contains("k")),
      "insert epoch must carry k zones")
    // and the table state is the CoW answer
    val cow = Merge.upsertLatest(base, batch, keys, order)
      .as[(Long, Long, String)].collect().toSet
    assert(state(out) === cow)
  }

  test("empty table (catalog CREATE TABLE shape): first MoR batch is pure insert") {
    val out = tmp("morempty")
    Export.appendSnapshot(spark, df().limit(0), out)
    Export.upsertSnapshotMoR(spark, out, df((1L, 5L, "x"), (2L, 6L, "y")),
      keys, order)
    assert(state(out) === Set((1L, 5L, "x"), (2L, 6L, "y")))
    val head = Export.latestSnapshotVersion(out)
    assert(!Export.snapshotHasDeletionVectors(out, head),
      "pure-insert batch must not write a sidecar")
  }

  test("DECLARED-but-empty partitioned table refuses MoR upsert: the lines-only guard would pass vacuously and the first write would poison partition-scoped DML (r13 ADVICE #2)") {
    val out = tmp("mordeclared")
    Export.createEmptySnapshot(out,
      df().limit(0).schema, meta = Map("partition_cols" -> "v"))
    val e = intercept[IllegalArgumentException] {
      Export.upsertSnapshotMoR(spark, out, df((1L, 5L, "x")), keys, order)
    }
    assert(e.getMessage.contains("hive-partitioned"))
    assert(Export.latestSnapshotVersion(out) === 1,
      "the refused MoR upsert must commit nothing")
  }

  test("TIMESTAMP cluster key: cast-to-long is total, so timestamp-clustered MoR upserts zone-prune like integral ones (r13 ADVICE #3)") {
    val out = tmp("morts")
    val base = spark.sql(
      """SELECT timestamp_seconds(1700000000 + id * 3600) AS ts,
        |  1L AS ord, CAST(id AS STRING) AS v FROM range(100)""".stripMargin)
    Export.appendSnapshot(spark, base, out, Layout.Clustered("ts", nFiles = 5))
    val linesBefore = Export.snapshotManifestEntries(out, 1)
    assert(linesBefore.forall(_.zone.nonEmpty), "fixture must be zoned")
    // a batch confined to the earliest hours: late files must carry
    val batch = spark.sql(
      """SELECT timestamp_seconds(1700000000 + id * 3600) AS ts,
        |  2L AS ord, concat('u', id) AS v FROM range(5)""".stripMargin)
    Export.upsertSnapshotMoR(spark, out, batch,
      Seq("ts"), Seq("ord"), clusterKey = Some("ts"))
    val head = Export.latestSnapshotVersion(out)
    val after = Export.snapshotManifestEntries(out, head)
    val batchHi = 1700000000L + 4 * 3600
    val disjoint = linesBefore.filter(_.zone.exists(_._1 > batchHi))
    assert(disjoint.nonEmpty, "fixture must have zone-disjoint files")
    disjoint.foreach { e =>
      val now = after.find(_.path == e.path)
      assert(now.exists(_.dv.isEmpty),
        s"zone-disjoint file ${e.path} must carry without a DV")
    }
    val got = Export.readSnapshot(spark, out, head)
      .selectExpr("CAST(ts AS LONG) AS t", "v")
      .as[(Long, String)].collect().toMap
    (0L until 100L).foreach { id =>
      val expected = if (id < 5) s"u$id" else id.toString
      assert(got(1700000000L + id * 3600) === expected)
    }
  }
}
