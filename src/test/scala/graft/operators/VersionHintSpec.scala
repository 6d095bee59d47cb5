package graft.operators

import graft.SparkSpec

/** [[MockFs]] with instrumented metadata ops: proves snapshot PLANNING
  * reads O(1) files on a long log instead of listing the table root —
  * the cost that otherwise grows without bound when a `graftlake`
  * streaming sink commits one version per micro-batch (minute triggers
  * ≈ 0.5 M root entries/year; O(entries) listing on an object store
  * then taxes every read, commit and trigger). Counters are static
  * because Hadoop caches one FileSystem instance per scheme. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.listStatusCalls.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingFs.openCalls.incrementAndGet()
    if (f.getName.matches("_v\\d+\\.manifest"))
      CountingFs.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    CountingFs.statCalls.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingFs {
  val listStatusCalls = new java.util.concurrent.atomic.AtomicLong
  val openCalls = new java.util.concurrent.atomic.AtomicLong
  val statCalls = new java.util.concurrent.atomic.AtomicLong
  /** Opens of committed `_v<N>.manifest` files alone. */
  val manifestOpens = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = {
    listStatusCalls.set(0); openCalls.set(0); statCalls.set(0)
    manifestOpens.set(0)
  }
}

class VersionHintSpec extends SparkSpec {

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  private def countRoot(name: String): (String, java.io.File) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val local = new java.io.File("target/qtmp_countfs", name)
    deleteRec(local)
    (s"countfs:${local.getAbsolutePath}", local)
  }

  private val schemaJson = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType))).json

  /** Commit `n` manifest-only versions (planning-side; no Spark jobs) —
    * the shape of a long-lived streamed table's log. */
  private def commitMany(out: String, from: Int, n: Int): Unit = {
    val (fs, root) = Export.fsRoot(out)
    fs.mkdirs(root)
    for (v <- from until (from + n))
      Export.commitManifest(fs, root, v,
        Map("schema" -> schemaJson, "op" -> "append",
          "committed_at" -> (1000L + v).toString, "batch" -> v.toString),
        Seq(s"$out/epoch=$v-x/part-$v.parquet"))
  }

  test("planning a 500-version log reads O(1) files: no root listing, bounded opens/probes") {
    val (out, _) = countRoot("hint_long")
    commitMany(out, 1, 500)
    CountingFs.reset()
    assert(Export.latestSnapshotVersion(out) === 500)
    assert(Export.snapshotFiles(out, 500).size === 1)
    assert(Export.snapshotAddedFiles(out, 500).size === 1)
    assert(Export.snapshotOperation(out, 500) === Some("append"))
    assert(CountingFs.listStatusCalls.get === 0,
      "planning must not list the table root on a hinted log")
    // each planning call = one hint read (+ manifest reads) + one
    // forward-probe miss; four calls stay well under a listing's cost
    assert(CountingFs.openCalls.get <= 16,
      s"expected O(1) file reads, got ${CountingFs.openCalls.get}")
    assert(CountingFs.statCalls.get <= 24,
      s"expected O(1) existence probes, got ${CountingFs.statCalls.get}")
  }

  test("legacy table (no hint) falls back to listing; the next commit writes the hint") {
    val (out, local) = countRoot("hint_legacy")
    commitMany(out, 1, 5)
    val hint = new java.io.File(local, "_versions.hint")
    assert(hint.exists(), "commit must write the hint")
    assert(hint.delete())
    CountingFs.reset()
    assert(Export.latestSnapshotVersion(out) === 5) // listing fallback
    assert(CountingFs.listStatusCalls.get >= 1)
    commitMany(out, 6, 1) // re-establishes the hint from the listing
    assert(hint.exists())
    CountingFs.reset()
    assert(Export.snapshotVersions(out) === (1 to 6))
    assert(CountingFs.listStatusCalls.get === 0)
  }

  test("hint lags behind a crashed commit: readers reconcile forward by probing") {
    val (out, local) = countRoot("hint_lag")
    commitMany(out, 1, 3)
    // simulate a commit that renamed its manifest but died before the
    // hint write: drop the manifest file in place, hint still says 1..3
    java.nio.file.Files.writeString(
      new java.io.File(local, "_v4.manifest").toPath,
      s"#schema=$schemaJson\n#op=append\n#committed_at=2000\n" +
        s"$out/epoch=4-x/part-4.parquet")
    assert(Export.snapshotVersions(out) === (1 to 4))
    assert(Export.latestSnapshotVersion(out) === 4)
    // and the next real commit folds the gap version into the hint
    commitMany(out, 5, 1)
    val txt = java.nio.file.Files.readString(
      new java.io.File(local, "_versions.hint").toPath)
    // r13: the hint is RANGE-encoded (one run line for a gapless log)
    assert(Export.decodeVersionRuns(txt) === (1 to 5))
    assert(txt.trim === "1-5")
  }

  test("batch-scan planning is manifest-only: len= tags build the FileIndex with ZERO data-dir listings or stats") {
    import spark.implicits._
    val (out, _) = countRoot("hint_batchscan")
    Export.appendSnapshot(spark,
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "s"), out)
    Export.appendSnapshot(spark,
      (51L to 80L).map(i => (i, s"v$i")).toDF("id", "s"), out)
    val schema = Export.snapshotSchema(out, 2).get
    CountingFs.reset()
    val index = new graft.sources.GraftLakeFileIndex(spark, out, 2, schema)
    val planned = index.listFiles(Nil, Nil)
    assert(planned.map(_.files.size).sum ===
      Export.snapshotFiles(out, 2).size)
    assert(CountingFs.listStatusCalls.get === 0,
      "FileIndex listed a data dir despite len= tags")
    // recorded lengths are the real ones (the scan plans correct splits)
    val bytes = planned.flatMap(_.files).map(_.fileStatus.getLen).sum
    val real = Export.snapshotFiles(out, 2).map(f =>
      new java.io.File(f.stripPrefix("countfs:")).length()).sum
    assert(bytes === real)
  }

  test("hint stays consistent under concurrent appenders: every committed version visible, hint == listing after the race") {
    import spark.implicits._
    val local = new java.io.File("target/qtmp_hintrace")
    deleteRec(local)
    val out = local.getAbsolutePath
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        (0 until 3).foreach { i =>
          Export.appendSnapshot(spark,
            Seq((t * 10L + i, s"t$t-$i")).toDF("id", "s"), out)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // all 12 appends landed (optimistic retry) and the hint-backed view
    // agrees with the raw directory listing
    val listed = local.listFiles().map(_.getName)
      .collect { case n if n.matches("_v\\d+\\.manifest") =>
        n.stripPrefix("_v").stripSuffix(".manifest").toInt }.sorted.toSeq
    assert(listed === (1 to 12))
    assert(Export.snapshotVersions(out) === listed)
    assert(Export.readSnapshot(spark, out, 12).count() === 12)
  }

  test("vacuum shrinks the hint before deleting manifests; planning stays listing-free") {
    val (out, local) = countRoot("hint_vacuum")
    commitMany(out, 1, 10)
    val (dropped, _) = Export.vacuumSnapshots(out, keep = 2, horizonMs = 0)
    assert(dropped === 8)
    assert(Export.snapshotVersions(out) === Seq(9, 10))
    val txt = java.nio.file.Files.readString(
      new java.io.File(local, "_versions.hint").toPath)
    // r13: range-encoded — the surviving window is one run line
    assert(Export.decodeVersionRuns(txt) === Seq(9, 10))
    assert(txt.trim === "9-10")
    CountingFs.reset()
    assert(Export.latestSnapshotVersion(out) === 10)
    assert(CountingFs.listStatusCalls.get === 0)
  }
}
