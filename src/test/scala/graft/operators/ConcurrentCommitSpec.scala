package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Export.Layout

/** Optimistic concurrency for non-append commits (r13 task #3): a
  * maintenance/rewrite commit losing its race RETRIES when the
  * interleaved winners provably commute — compaction vs appends,
  * partition-scoped rewrites vs commits on disjoint partitions — and
  * raises the typed [[Export.ConcurrentCommitException]] (naming the
  * winning version) when they don't. The settled table must equal the
  * SERIAL result in every commuting case. */
class ConcurrentCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, s"d$i", i % 3)).toDF("id", "s", "m")

  private def ids(dir: String): Seq[Long] =
    Export.readSnapshot(spark, dir, Export.latestSnapshotVersion(dir))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("compaction racing a concurrent APPEND retries and commutes: both commits land, settled table = serial result, appended epoch carried") {
    val dir = tmp("ccs-compact")
    Export.appendSnapshot(spark, rows(0, 10), dir)
    Export.appendSnapshot(spark, rows(10, 20), dir)
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) {
        injected = true
        Export.appendSnapshot(spark, rows(20, 25), dir)
      })
    try {
      val v = Export.compactSnapshot(spark, dir, nFiles = 1)
      assert(injected, "race was never injected")
      // the append won version 3; the compaction retried and landed at 4
      assert(v === 4)
      assert(Export.snapshotOperation(dir, 3) === Some("append"))
      assert(Export.snapshotOperation(dir, 4) === Some("compact"))
      assert(ids(dir) === (0L until 25L))
      // the racing append's epoch is CARRIED into the compacted head
      // (its rows were not part of the compacted bytes)
      val appended = Export.snapshotAddedFiles(dir, 3).toSet
      val headFiles = Export.snapshotFiles(dir, 4).toSet
      assert(appended.subsetOf(headFiles))
    } finally Export.rewriteRaceInjector = None
  }

  test("z-ordered compaction racing a concurrent APPEND retries and commutes: the append lands at v3, the compaction at v4, the appended epoch carried") {
    val dir = tmp("ccs-zcompact")
    Export.appendSnapshot(spark, rows(0, 10), dir)
    Export.appendSnapshot(spark, rows(10, 20), dir)
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) {
        injected = true
        Export.appendSnapshot(spark, rows(20, 25), dir)
      })
    try {
      val v = Export.compactSnapshot(spark, dir,
        layout = Some(Layout.Zordered("id", "m", 2)))
      assert(injected, "race was never injected")
      assert(v === 4)
      assert(Export.snapshotOperation(dir, 3) === Some("append"))
      assert(Export.snapshotOperation(dir, 4) === Some("compact"))
      assert(ids(dir) === (0L until 25L))
      val appended = Export.snapshotAddedFiles(dir, 3).toSet
      assert(appended.subsetOf(Export.snapshotFiles(dir, 4).toSet))
      // the compacted files carry their 2-D zones
      assert(Export.snapshotManifestEntries(dir, 4)
        .filterNot(e => appended(e.path)).forall(_.zone2.nonEmpty))
    } finally Export.rewriteRaceInjector = None
  }

  test("compaction racing a concurrent DELETE raises the typed conflict naming the winning version (a delete does not commute with a whole-table rewrite)") {
    val dir = tmp("ccs-compactdel")
    Export.appendSnapshot(spark, rows(0, 10), dir)
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) {
        injected = true
        Export.deleteWhere(spark, dir, col("id") < 3L)
      })
    try {
      val e = intercept[Export.ConcurrentCommitException] {
        Export.compactSnapshot(spark, dir, nFiles = 1)
      }
      assert(e.winning === 2)
      // the winner's state is intact: the deleted rows stay deleted
      assert(ids(dir) === (3L until 10L))
    } finally Export.rewriteRaceInjector = None
  }

  test("partition-scoped merges on DISJOINT partitions both succeed and settle to the serial result") {
    val dir = tmp("ccs-merge")
    Export.appendSnapshot(spark, rows(0, 12), dir, Layout.Partitioned(Seq("m")))
    val base = Export.readSnapshot(spark, dir, 1)
    // merge A touches m=1 rows; the injected merge B touches m=2
    val updA = rows(0, 12).filter(col("m") === 1)
      .withColumn("s", concat(lit("A"), col("s")))
    val updB = rows(0, 12).filter(col("m") === 2)
      .withColumn("s", concat(lit("B"), col("s")))
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) {
        injected = true
        Export.mergeSnapshotPartitioned(spark, dir, updB,
          keyCols = Seq("id", "m"), partitionCols = Seq("m"))
      })
    try {
      val v = Export.mergeSnapshotPartitioned(spark, dir, updA,
        keyCols = Seq("id", "m"), partitionCols = Seq("m"))
      assert(injected)
      assert(v === 3) // B landed v2, A retried onto v3
      val got = Export.readSnapshot(spark, dir, v)
      val serial = Merge.upsert(Merge.upsert(base, updB,
        Seq("id", "m")), updA, Seq("id", "m"))
      assert(got.exceptAll(serial).isEmpty &&
        serial.exceptAll(got).isEmpty,
        "settled table diverged from the serial merge result")
    } finally Export.rewriteRaceInjector = None
  }

  test("partition-scoped merges on the SAME partition conflict with the typed error; the winner's rows survive untouched") {
    val dir = tmp("ccs-mergeconflict")
    Export.appendSnapshot(spark, rows(0, 12), dir, Layout.Partitioned(Seq("m")))
    val updA = rows(0, 12).filter(col("m") === 1)
      .withColumn("s", concat(lit("A"), col("s")))
    val updB = rows(0, 12).filter(col("m") === 1)
      .withColumn("s", concat(lit("B"), col("s")))
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) {
        injected = true
        Export.mergeSnapshotPartitioned(spark, dir, updB,
          keyCols = Seq("id", "m"), partitionCols = Seq("m"))
      })
    try {
      val e = intercept[Export.ConcurrentCommitException] {
        Export.mergeSnapshotPartitioned(spark, dir, updA,
          keyCols = Seq("id", "m"), partitionCols = Seq("m"))
      }
      assert(e.winning === 2)
      // B's merge is the settled state — replaying A would have
      // silently dropped it, the one outcome the conflict must prevent
      val got = Export.readSnapshot(spark, dir, 2)
        .filter(col("m") === 1).select("s").collect()
        .map(_.getString(0)).toSeq
      assert(got.nonEmpty && got.forall(_.startsWith("B")))
    } finally Export.rewriteRaceInjector = None
  }

  test("updateWhereMoR: matched rows DV'd + updated copies appended, zero files rewritten; pruned-out files keep their OLD dv tags (shared-sidecar carry)") {
    val dir = tmp("ccs-updmor")
    // one statted epoch of 2 files: ids 0..49 and 50..99 (s= tags prune)
    Export.appendSnapshot(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s"), dir,
      Layout.Statted(cols = Seq("id"), nFiles = 2, clusterBy = Some("id")))
    // a MoR delete spanning BOTH files → one SHARED dv sidecar
    Export.deleteWhereMoR(spark, dir, col("id") % 10 === 0L)
    assert(Export.snapshotHasDeletionVectors(dir, 2))
    val filesV2 = Export.snapshotFiles(dir, 2).toSet
    // MoR update confined to ids < 30: the high file is s=-pruned out
    val v = Export.updateWhereMoR(spark, dir,
      Seq("s" -> concat(lit("U"), col("s"))),
      col("id") < 30L && col("id") % 3 === 1L)
    assert(v === 3)
    assert(Export.snapshotOperation(dir, 3) === Some("merge"))
    // zero data files rewritten; the updated copies are a fresh epoch
    assert(filesV2.subsetOf(Export.snapshotFiles(dir, 3).toSet))
    // the pruned-out high file keeps its ORIGINAL dv dir (shared
    // sidecar): its deleted rows must stay deleted
    val entriesV2 = Export.snapshotManifestEntries(dir, 2)
    val entriesV3 = Export.snapshotManifestEntries(dir, 3)
    def dvOfHigh(es: Seq[Export.ManifestEntry]) = es
      .filter(e => e.stats.get("id").exists(_._1 >= 50)).flatMap(e => e.dv)
    assert(dvOfHigh(entriesV3).nonEmpty &&
      dvOfHigh(entriesV3) === dvOfHigh(entriesV2),
      "pruned-out file lost (or churned) its deletion-vector tag")
    // row law: deletes stay deleted, matched rows updated exactly once
    val got = Export.readSnapshot(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = (0L until 100L).filter(_ % 10 != 0).map { i =>
      (i, if (i < 30 && i % 3 == 1) s"Uv$i" else s"v$i")
    }
    assert(got.toSeq === want)
    // no-match update commits nothing
    assert(Export.updateWhereMoR(spark, dir,
      Seq("s" -> lit("x")), col("id") < 0L) === 3)
  }

  test("row-level rewrites commute with concurrent APPENDS (rewrite-first serialization): CoW delete and MoR upsert both retry, appended rows survive untouched; racing two rewrites conflicts typed") {
    // CoW delete racing an append: deleted-at-base rows gone, the
    // racing append's rows present even where they match the predicate
    // (they were never visible to it — the valid serial order)
    val d1 = tmp("ccs-delapp")
    Export.appendSnapshot(spark, rows(0, 10), d1)
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) { injected = true
        Export.appendSnapshot(spark, rows(10, 14), d1) })
    try {
      val v = Export.deleteWhere(spark, d1, col("id") < 12L)
      assert(injected && v === 3)
      assert(ids(d1) === (10L until 14L),
        "serial delete-then-append: appended rows survive, base rows < 12 gone")
    } finally Export.rewriteRaceInjector = None
    // MoR upsert racing an append: both land, DV semantics intact
    val d2 = tmp("ccs-morapp")
    Export.appendSnapshot(spark, rows(0, 6), d2)
    val upd = rows(0, 3).withColumn("s", concat(lit("U"), col("s")))
      .withColumn("ts", lit(9L))
    val base2 = Export.readSnapshot(spark, d2, 1).withColumn("ts", lit(1L))
    Export.replaceSnapshot(spark, base2, d2) // give the table a ts col
    injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) { injected = true
        Export.appendSnapshot(spark,
          rows(6, 8).withColumn("ts", lit(1L)), d2) })
    try {
      val v = Export.upsertSnapshotMoR(spark, d2, upd,
        keyCols = Seq("id"), orderCols = Seq("ts"))
      assert(injected && v === 4)
      val got = Export.readSnapshot(spark, d2, v)
        .select("id", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val want = (0L until 8L).map(i =>
        (i, if (i < 3) s"Ud$i" else s"d$i"))
      assert(got === want)
    } finally Export.rewriteRaceInjector = None
    // two rewrites racing: typed conflict, winner intact
    val d3 = tmp("ccs-updconflict")
    Export.appendSnapshot(spark, rows(0, 10), d3)
    injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) { injected = true
        Export.deleteWhere(spark, d3, col("id") === 9L) })
    try {
      val e = intercept[Export.ConcurrentCommitException] {
        Export.updateWhere(spark, d3,
          Seq("s" -> lit("x")), col("id") < 5L)
      }
      assert(e.winning === 2)
      assert(ids(d3) === (0L until 9L)) // the delete's state stands
    } finally Export.rewriteRaceInjector = None
  }

  test("appends still auto-retry through the typed exception (subclass compatibility)") {
    val dir = tmp("ccs-append")
    Export.appendSnapshot(spark, rows(0, 5), dir)
    var injected = false
    Export.appendRaceInjector = Some((_, _) =>
      if (!injected) {
        injected = true
        Export.appendSnapshot(spark, rows(5, 8), dir)
      })
    try {
      val v = Export.appendSnapshot(spark, rows(8, 10), dir)
      assert(v === 3 && ids(dir) === (0L until 10L))
    } finally Export.appendRaceInjector = None
  }

  test("zone-scoped rewrite commutes with a concurrent APPEND (retry carries the appended epoch); racing a delete conflicts typed") {
    // zone-scoped upsert racing an append: rewrite-first serialization
    val d1 = tmp("ccs-zoneapp")
    Export.appendSnapshot(spark, rows(0, 100), d1,
      Layout.Clustered("id", nFiles = 5))
    var injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) { injected = true
        Export.appendSnapshot(spark, rows(100, 105), d1) })
    try {
      val upd = rows(0, 5).withColumn("s", concat(lit("Z"), col("s")))
      val v = Export.rewriteSnapshotZoneScoped(spark, d1, "id",
        Some((0L, 4L)))(base => Merge.upsert(base, upd, Seq("id")))
      assert(injected && v === 3)
      // serial rewrite-then-append: low keys updated, appended rows
      // present, zone-disjoint files untouched
      val got = Export.readSnapshot(spark, d1, v)
        .select("id", "s").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(got === (0L until 105L).map(i =>
        (i, if (i < 5) s"Zd$i" else s"d$i")))
    } finally Export.rewriteRaceInjector = None
    // racing a non-append: typed conflict, the winner's state stands
    val d2 = tmp("ccs-zoneconflict")
    Export.appendSnapshot(spark, rows(0, 20), d2,
      Layout.Clustered("id", nFiles = 2))
    injected = false
    Export.rewriteRaceInjector = Some((_, _) =>
      if (!injected) { injected = true
        Export.deleteWhere(spark, d2, col("id") === 19L) })
    try {
      val e = intercept[Export.ConcurrentCommitException] {
        Export.rewriteSnapshotZoneScoped(spark, d2, "id",
          Some((0L, 3L)))(base =>
          Merge.upsert(base,
            rows(0, 2).withColumn("s", lit("x")), Seq("id")))
      }
      assert(e.winning === 2)
      assert(ids(d2) === (0L until 19L))
    } finally Export.rewriteRaceInjector = None
  }


  test("GENERATED ALWAYS identity refuses explicit ids on every append layout: nothing commits") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    val dir = tmp("ccs-always")
    Export.createEmptySnapshot(dir, StructType(Seq(
      StructField("id", LongType, nullable = true, new MetadataBuilder()
        .putLong("identity.start", 1L).putLong("identity.step", 1L)
        .putBoolean("identity.allowExplicitInsert", false).build()),
      StructField("v", LongType))))
    val explicit = Seq((100L, 1L), (101L, 2L)).toDF("id", "v")
    Seq(Layout.Plain, Layout.Clustered("v", 1),
        Layout.Zordered("id", "v", 1), Layout.Statted(Seq("id"), 1))
      .foreach { layout =>
        intercept[Exception](Export.appendSnapshot(spark, explicit, dir,
          layout))
        assert(Export.latestSnapshotVersion(dir) === 1,
          s"a $layout append committed explicit ALWAYS ids")
      }
  }

  test("racing appends on an IDENTITY table claim DISJOINT ordinal ranges (the _idclaim CAS): both land, ids dense and unique across writers") {
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    val dir = tmp("ccs-identity")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, new MetadataBuilder()
        .putLong("identity.start", 1L).putLong("identity.step", 1L)
        .putBoolean("identity.allowExplicitInsert", false).build()),
      StructField("v", LongType)))
    Export.createEmptySnapshot(dir, schema)
    @volatile var failure: Option[Throwable] = None
    def writer(n: Int): Thread = new Thread(() =>
      try Export.appendSnapshot(spark,
        spark.range(n).selectExpr("id AS v"), dir)
      catch { case t: Throwable => failure = Some(t) })
    val (t1, t2) = (writer(500), writer(300))
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    failure.foreach(throw _)
    val got = Export.readSnapshot(spark, dir,
        Export.latestSnapshotVersion(dir))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // disjoint CAS claims: the two epochs drew [1,500] and [501,800]
    // in SOME order - the union is exactly 1..800, no dup, no gap
    assert(got === (1L to 800L),
      s"racing identity appends must never collide: got ${got.size} " +
        s"ids, min ${got.headOption}, max ${got.lastOption}")
    // the committed watermark reached the union high water
    val meta = Export.snapshotMeta(dir,
      Export.latestSnapshotVersion(dir))
    assert(meta.get("idc_id") === Some("800"),
      s"idc_ header must carry the claimed watermark: $meta")
  }
}

/** The range-encoded `_versions.hint` (r13 task #4): commit/plan cost
  * is O(version-gaps) — ONE line for any unvacuumed history — not
  * O(versions); legacy one-per-line hints still parse. (The
  * O(1)-FS-ops planning law lives in [[VersionHintSpec]]; this pins
  * the BYTES side.) */
class VersionHintRunsSpec extends SparkSpec {
  import spark.implicits._

  test("encode/decode: contiguous runs collapse, gaps split, legacy plain lists parse, roundtrip is exact") {
    assert(Export.encodeVersionRuns(1 to 5000) === "1-5000")
    assert(Export.encodeVersionRuns(Seq(7)) === "7")
    assert(Export.encodeVersionRuns(Seq(1, 2, 3, 7, 9, 10)) === "1-3\n7\n9-10")
    assert(Export.decodeVersionRuns("1-3\n7\n9-10") ===
      Seq(1, 2, 3, 7, 9, 10))
    // legacy format: one version per line
    assert(Export.decodeVersionRuns("1\n2\n3\n11") === Seq(1, 2, 3, 11))
    val gappy = Seq(1, 5, 6, 7, 100, 101, 4000)
    assert(Export.decodeVersionRuns(Export.encodeVersionRuns(gappy))
      === gappy)
  }

  test("a 5000-version no-vacuum table keeps an O(1) hint: bytes stay constant-ish per commit, planning reads one small file, vacuum shrinks to one run") {
    val dir = Files.createTempDirectory("vh-5000").toFile.getAbsolutePath
    val (fs, root) = Export.fsRoot(dir)
    fs.mkdirs(root)
    // 5000 manifest-level commits (planning-layer test: no data files,
    // no Spark jobs — exactly the metadata cost a streaming sink pays)
    (1 to 5000).foreach(v =>
      Export.commitManifest(fs, root, v, Map("op" -> "append"), Nil))
    val hint = new org.apache.hadoop.fs.Path(root, "_versions.hint")
    assert(fs.getFileStatus(hint).getLen <= 16,
      "hint grew with version count - the O(V) rewrite is back")
    assert(Export.latestSnapshotVersion(dir) === 5000)
    assert(Export.snapshotVersions(dir).size === 5000)
    // vacuum to the newest 100: the hint is one run again
    Export.vacuumSnapshots(dir, keep = 100, horizonMs = 0)
    assert(Export.latestSnapshotVersion(dir) === 5000)
    assert(Export.snapshotVersions(dir) === (4901 to 5000))
    assert(fs.getFileStatus(hint).getLen <= 16)
    // hint lost (legacy/readonly table): full listing still serves, and
    // the migration verb rebuilds the hint
    fs.delete(hint, false)
    assert(Export.latestSnapshotVersion(dir) === 5000)
    assert(Export.refreshVersionsHint(dir) === (4901 to 5000))
    assert(fs.exists(hint))
  }

  test("object-store commit guard (r16): on a racy FS (exists lies, rename silently replaces — the S3A model) two committers CAN both win without a guard; with InProcessCommitGuard exactly one wins and the winner's manifest survives") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racyfs.impl", classOf[RacyFs].getName)
    def racyRoot(name: String): String = {
      val local = new java.io.File("target/qtmp_racyfs", name)
      graft.util.Dirs.deleteRec(local)
      local.mkdirs()
      s"racyfs:${local.getAbsolutePath}"
    }
    // --- WITHOUT a guard: the documented caveat — the check-then-act
    // window is real on a store whose rename overwrites: committer B
    // silently clobbers committer A's already-committed manifest
    val out = racyRoot("noguard")
    val (fs, root) = Export.fsRoot(out)
    Export.commitManifest(fs, root, 1, Map("writer" -> "A"), Nil)
    Export.commitManifest(fs, root, 1, Map("writer" -> "B"), Nil)
    assert(Export.snapshotMeta(out, 1).get("writer") === Some("B"),
      "without a guard the racy FS loses A's committed manifest - " +
        "the exact lost-update the guard exists to prevent")
    // --- WITH the guard: the conditional claim refuses the second
    // committer BEFORE it can clobber; the winner's bytes survive
    val out2 = racyRoot("guarded")
    val (fs2, root2) = Export.fsRoot(out2)
    Export.commitGuard = new Export.InProcessCommitGuard
    try {
      Export.commitManifest(fs2, root2, 1, Map("writer" -> "A"), Nil)
      val e = intercept[Export.ConcurrentCommitException](
        Export.commitManifest(fs2, root2, 1, Map("writer" -> "B"), Nil))
      assert(e.winning === 1)
      assert(Export.snapshotMeta(out2, 1).get("writer") === Some("A"),
        "the guarded winner's manifest must survive the loser")
      // the loser re-plans against the real head and commits NEXT
      Export.commitManifest(fs2, root2, 2, Map("writer" -> "B"), Nil)
      assert(Export.snapshotMeta(out2, 2).get("writer") === Some("B"))
    } finally Export.commitGuard = Export.NoopCommitGuard
    // truly CONCURRENT claimants: exactly one of N wins per version
    val out3 = racyRoot("stress")
    val (fs3, root3) = Export.fsRoot(out3)
    Export.commitGuard = new Export.InProcessCommitGuard
    try {
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (0 until 8).map(i => new Thread(() => {
        try {
          Export.commitManifest(fs3, root3, 1,
            Map("writer" -> s"w$i"), Nil)
          wins.incrementAndGet()
        } catch {
          case _: Export.ConcurrentCommitException => ()
        }
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() === 1,
        s"exactly one of 8 concurrent committers may win, " +
          s"got ${wins.get()}")
    } finally Export.commitGuard = Export.NoopCommitGuard
  }

  test("CONFIG-driven lease guard (r17): two separately-resolved guard instances (the two-JVM model) race on the racy FS, the guard chosen by spark.graft.commitGuard — exactly one of 8 wins, claims are durable across instances") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racyfs.impl", classOf[RacyFs].getName)
    val local = new java.io.File("target/qtmp_racyfs", "leasecfg")
    graft.util.Dirs.deleteRec(local)
    local.mkdirs()
    val out = s"racyfs:${local.getAbsolutePath}"
    val (fs, root) = Export.fsRoot(out)
    val coord = new java.io.File("target/qtmp_racyfs", "leasecfg_coord")
    graft.util.Dirs.deleteRec(coord)
    // the static seam must be UNSET — configuration, not assignment,
    // chooses the guard here
    assert(Export.commitGuard eq Export.NoopCommitGuard)
    spark.conf.set("spark.graft.commitGuard", "lease")
    spark.conf.set("spark.graft.commitGuard.path", coord.getAbsolutePath)
    try {
      // every commitManifest call resolves its OWN LeaseFileCommitGuard
      // instance (uncached by design) — 8 racing commits model 8
      // separately-launched drivers sharing only the coordination dir
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (0 until 8).map(i => new Thread(() => {
        try {
          Export.commitManifest(fs, root, 1, Map("writer" -> s"w$i"), Nil)
          wins.incrementAndGet()
        } catch { case _: Export.ConcurrentCommitException => () }
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() === 1,
        s"exactly one of 8 config-guarded committers may win, " +
          s"got ${wins.get()}")
      // DURABILITY: the claim survives every in-memory instance — a
      // "restarted" committer (a fresh resolution, fresh instance)
      // still cannot re-claim the version
      val e = intercept[Export.ConcurrentCommitException](
        Export.commitManifest(fs, root, 1, Map("writer" -> "late"), Nil))
      assert(e.winning === 1)
      assert(new java.io.File(coord.getAbsolutePath).listFiles()
        .exists(_.getName.endsWith("._v1.claim")),
        "the lease claim file must persist on the coordination store")
      // PATH NORMALIZATION (advisor r17): the same table addressed
      // through a BARE (schemeless) root must land in the SAME claim
      // namespace as the scheme-qualified spelling — commitManifest
      // claims on fs.makeQualified(root), so the spellings collapse
      val bare = new org.apache.hadoop.fs.Path(local.getAbsolutePath)
      val e2 = intercept[Export.ConcurrentCommitException](
        Export.commitManifest(fs, bare, 1, Map("writer" -> "alias"),
          Nil))
      assert(e2.winning === 1,
        "a path-spelling variant must not split the claim namespace")
      // the loser re-plans and commits the NEXT version normally
      Export.commitManifest(fs, root, 2, Map("writer" -> "next"), Nil)
      assert(Export.snapshotMeta(out, 2).get("writer") === Some("next"))
    } finally {
      spark.conf.unset("spark.graft.commitGuard")
      spark.conf.unset("spark.graft.commitGuard.path")
    }
  }

  test("lease guard SCHEME honesty (r17 review; r18 allowlist): any scheme off the known-atomic-create-exclusive ALLOWLIST refuses at construction — object stores AND unknown/custom filesystems alike") {
    Seq("s3a://bucket/claims", "s3://b/c", "gs://b/c", "abfss://c@a/x",
        // r18 (advisor): unlisted schemes refuse BY DEFAULT — a new
        // object store or custom FS shim must not construct a lease
        // that silently excludes nothing
        "newstore://b/c", "racyfs:///claims", "moosefs://x/y")
      .foreach { p =>
        val e = intercept[IllegalArgumentException](
          new Export.LeaseFileCommitGuard(p))
        assert(e.getMessage.contains("allowlist"), p)
      }
    // local and hdfs-style schemes construct fine
    new Export.LeaseFileCommitGuard("target/qtmp_racyfs/schemeok")
    new Export.LeaseFileCommitGuard("file:/tmp/claims")
    new Export.LeaseFileCommitGuard("hdfs://nn:8020/claims")
    new Export.LeaseFileCommitGuard("viewfs://cluster/claims")
  }

  test("lease EXPIRY (r17 review): a crashed claimant's stale, never-published claim is broken via a next-GENERATION claim — the table un-wedges after one lease window; fresh claims and published versions stay protected") {
    val local = new java.io.File("target/qtmp_racyfs", "leasebrk")
    graft.util.Dirs.deleteRec(local)
    local.mkdirs()
    val (fs, root) = Export.fsRoot(local.getAbsolutePath)
    val coord = new java.io.File("target/qtmp_racyfs", "leasebrk_coord")
    graft.util.Dirs.deleteRec(coord)
    coord.mkdirs()
    spark.conf.set("spark.graft.commitGuard", "lease")
    spark.conf.set("spark.graft.commitGuard.path", coord.getAbsolutePath)
    try {
      Export.commitManifest(fs, root, 1, Map("writer" -> "a"), Nil)
      // model a CRASHED claimant: v2's claim exists (old), v2 was
      // never published
      val key = java.security.MessageDigest.getInstance("SHA-1")
        .digest(fs.makeQualified(root).toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val dead = new java.io.File(coord, s"$key._v2.claim")
      java.nio.file.Files.writeString(dead.toPath, "crashed\n")
      assert(dead.setLastModified(
        System.currentTimeMillis() - 2L * 3600 * 1000))
      // a new committer BREAKS the stale lease and wins v2
      Export.commitManifest(fs, root, 2, Map("writer" -> "b"), Nil)
      assert(Export.snapshotMeta(local.getAbsolutePath, 2)
        .get("writer") === Some("b"))
      assert(new java.io.File(coord, s"$key._v2.g1.claim").exists(),
        "the break must claim the next GENERATION, never touch g0")
      assert(dead.exists(), "the stale claim is immutable evidence")
      // a PUBLISHED version's stale claim is NOT breakable: v2's g1
      // claim aged past the lease still refuses (manifest exists)
      assert(new java.io.File(coord, s"$key._v2.g1.claim")
        .setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
      val e = intercept[Export.ConcurrentCommitException](
        Export.commitManifest(fs, root, 2, Map("writer" -> "c"), Nil))
      assert(e.winning === 2)
      // a FRESH unpublished claim is NOT breakable (claimant may be
      // mid-commit)
      java.nio.file.Files.writeString(
        new java.io.File(coord, s"$key._v3.claim").toPath, "live\n")
      val e2 = intercept[Export.ConcurrentCommitException](
        Export.commitManifest(fs, root, 3, Map("writer" -> "d"), Nil))
      assert(e2.winning === 3)
    } finally {
      spark.conf.unset("spark.graft.commitGuard")
      spark.conf.unset("spark.graft.commitGuard.path")
    }
  }

  test("lease PUBLISH FENCE (r18, advisor): a claimant stalled past its lease wakes to find its claim broken and REFUSES at the publish fence instead of double-publishing; the breaker's fence passes") {
    val local = new java.io.File("target/qtmp_racyfs", "leasefence")
    graft.util.Dirs.deleteRec(local)
    local.mkdirs()
    val (fs, root0) = Export.fsRoot(local.getAbsolutePath)
    val root = fs.makeQualified(root0)
    val coord = new java.io.File("target/qtmp_racyfs", "leasefence_coord")
    graft.util.Dirs.deleteRec(coord)
    coord.mkdirs()
    // two separately constructed instances = the two-JVM model
    val stalled = new Export.LeaseFileCommitGuard(coord.getAbsolutePath)
    val breaker = new Export.LeaseFileCommitGuard(coord.getAbsolutePath)
    stalled.beforeCommit(root, 1) // claims g0, then stalls...
    val key = java.security.MessageDigest.getInstance("SHA-1")
      .digest(root.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val g0 = new java.io.File(coord, s"$key._v1.claim")
    assert(g0.exists())
    assert(g0.setLastModified(
      System.currentTimeMillis() - 2L * 3600 * 1000)) // ...past the lease
    breaker.beforeCommit(root, 1) // breaks: claims g1
    assert(new java.io.File(coord, s"$key._v1.g1.claim").exists())
    // the stalled claimant wakes at its commit point: the fence refuses
    val e = intercept[Export.ConcurrentCommitException](
      stalled.beforePublish(root, 1))
    assert(e.winning === 1)
    // the breaker (current highest generation) publishes fine
    breaker.beforePublish(root, 1)
    // an instance that never claimed has no lease to fence: no-op
    new Export.LeaseFileCommitGuard(coord.getAbsolutePath)
      .beforePublish(root, 1)
  }
}

/** The S3A failure model, distilled: `exists` on a manifest path lies
  * (eventual consistency / negative caching) and `rename` silently
  * REPLACES an existing destination (object-store rename is
  * copy+delete) — so `!exists(dest) && rename(tmp, dest)` is a
  * check-then-act that two committers can both thread. */
class RacyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racyfs:///")
  override def getScheme: String = "racyfs"
  override def exists(p: org.apache.hadoop.fs.Path): Boolean =
    if (p.getName.matches("_v\\d+\\.manifest")) false
    else super.exists(p)
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (super.exists(dst)) super.delete(dst, false)
    super.rename(src, dst)
  }
}
