package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.operators.Export
import graft.sources.GraftLakeCatalog

/** Lake DML scans are planned from the manifest: a statement over a
  * head of more than 32 files (Spark's parallel-listing threshold)
  * starts no file-listing job and no parquet schema-inference job —
  * the manifest already holds every path and length, and deletion-vector
  * sidecars are read under their one fixed schema. Manifests written
  * before the `len=` tag (one `listStatus` per epoch dir instead) give
  * the same results. */
class LakeDmlListingSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val Files40 = 40

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("gll-warehouse").toFile
    spark.conf.set("spark.sql.catalog.gll",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.gll.warehouse", w.getAbsolutePath)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gll.ns")
    w.getAbsolutePath
  }

  private val MorProps = " TBLPROPERTIES ('graft.delete.mode' = 'mor', " +
    "'graft.update.mode' = 'mor')"

  /** A catalog table whose head holds [[Files40]] files of 400 rows. */
  private def table(name: String, props: String): String = {
    val dir = s"$warehouse/ns/$name"
    spark.sql(s"CREATE TABLE gll.ns.$name (k BIGINT, v BIGINT)$props")
    Export.appendSnapshot(spark,
      spark.range(0, 400, 1, Files40).selectExpr("id AS k", "id AS v"), dir)
    assert(Export.snapshotFiles(dir,
      Export.latestSnapshotVersion(dir)).size === Files40)
    dir
  }

  /** (description, task count) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.synchronized {
          seen += ((Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), js.stageInfos.map(_.numTasks).sum))
        }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    seen.synchronized(seen.toList)
  }

  private def assertListingFree(what: String, jobs: Seq[(String, Int)])
      : Unit = {
    val listing = jobs.filter(_._1.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"$what started a listing job: $listing")
    // a file-per-task listing or footer job is the shape this pins out;
    // the data scans pack 40 small files into a few splits
    assert(jobs.forall(_._2 < Files40),
      s"$what ran a job with one task per file: $jobs")
  }

  private def rows(t: String): Seq[(Long, Long)] =
    spark.sql(s"SELECT k, v FROM gll.ns.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("DML over a 40-file head starts no listing job: CoW UPDATE, MoR UPDATE, MoR DELETE, SQL MERGE on a MoR table, VERSION AS OF a DV version") {
    table("cow", "")
    val morDir = table("mor", MorProps)

    assertListingFree("CoW UPDATE", jobsOf(
      spark.sql("UPDATE gll.ns.cow SET v = v + 1 WHERE k >= 10 AND k <= 30")))
    assertListingFree("MoR UPDATE", jobsOf(
      spark.sql("UPDATE gll.ns.mor SET v = v + 1 WHERE k >= 10 AND k <= 30")))
    val delJobs = jobsOf(
      spark.sql("DELETE FROM gll.ns.mor WHERE k >= 50 AND k <= 60"))
    assertListingFree("MoR DELETE", delJobs)
    // the sidecar write (its distinct's shuffle map stage + the write)
    // and the per-file count read back (map stage + result): nothing
    // lists, nothing infers a schema
    assert(delJobs.size === 4, s"MoR DELETE jobs: $delJobs")
    val dvVersion = Export.latestSnapshotVersion(morDir)
    assert(Export.snapshotHasDeletionVectors(morDir, dvVersion))

    spark.sql("SELECT * FROM VALUES (20L, 7L), (70L, 8L), (900L, 9L) " +
      "AS s(k, p)").createOrReplaceTempView("gll_merge_src")
    assertListingFree("MoR MERGE", jobsOf(spark.sql(
      "MERGE INTO gll.ns.mor t USING gll_merge_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.p " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.p)")))

    var travelled = 0L
    assertListingFree("VERSION AS OF", jobsOf {
      travelled = spark.sql(
        s"SELECT count(*) FROM gll.ns.mor VERSION AS OF $dvVersion")
        .collect().head.getLong(0)
    })
    assert(travelled === 400L - 11L)

    val expected = (0L until 400L).filterNot(k => k >= 50 && k <= 60)
      .map(k => k -> (if (k == 20L) 7L
        else if (k == 70L) 8L
        else if (k >= 10 && k <= 30) k + 1 else k)) :+ ((900L, 9L))
    assert(rows("mor") === expected)
    assert(rows("cow") === (0L until 400L).map(k =>
      k -> (if (k >= 10 && k <= 30) k + 1 else k)))
  }

  test("legacy manifests without len= tags plan through one listStatus per epoch dir: DML results unchanged") {
    // rewrite the head manifest as a pre-`len=` writer left it
    def strip(dir: String): Unit = {
      val m = Paths.get(dir, s"_v${Export.latestSnapshotVersion(dir)}.manifest")
      val txt = new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
      val legacy = txt.split("\n", -1).map(_.split('\t')
        .filterNot(_.startsWith("len=")).mkString("\t")).mkString("\n")
      Files.write(m, legacy.getBytes(StandardCharsets.UTF_8))
    }
    val tagged = table("tagged", MorProps)
    val legacy = table("legacy", MorProps)
    strip(legacy)
    assert(Export.snapshotManifestEntries(legacy,
      Export.latestSnapshotVersion(legacy)).forall(_.len.isEmpty))
    Seq("tagged", "legacy").foreach { t =>
      spark.sql(s"UPDATE gll.ns.$t SET v = v * 2 WHERE k >= 100 AND k <= 140")
      if (t == "legacy") strip(legacy)
      spark.sql(s"DELETE FROM gll.ns.$t WHERE k >= 130 AND k <= 160")
      if (t == "legacy") strip(legacy)
      spark.sql(s"ALTER TABLE gll.ns.$t UNSET TBLPROPERTIES " +
        "('graft.update.mode')")
      if (t == "legacy") strip(legacy)
      spark.sql(s"UPDATE gll.ns.$t SET v = v + 1 WHERE k % 7 = 0")
    }
    assert(rows("legacy") === rows("tagged"))
    assert(rows("legacy").size === 400 - 31)
    val v = Export.latestSnapshotVersion(tagged)
    assert(Export.readSnapshot(spark, legacy,
        Export.latestSnapshotVersion(legacy)).orderBy("k").collect().toSeq ===
      Export.readSnapshot(spark, tagged, v).orderBy("k").collect().toSeq)
  }

  test("manifest-planned ANALYZE still fails fast on a corrupt file when the session sets ignoreCorruptFiles") {
    val dir = Files.createTempDirectory("gll-analyze").toFile.getAbsolutePath
    Export.appendSnapshot(spark,
      spark.range(0, 100, 1, 4).selectExpr("id AS k"), dir)
    val v = Export.latestSnapshotVersion(dir)
    val victim = Paths.get(new org.apache.hadoop.fs.Path(
      Export.snapshotFiles(dir, v).head).toUri.getPath)
    Files.write(victim, Array.fill[Byte](Files.size(victim).toInt)(7))
    // a skipped file would read back as no rows and land as n=0
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try intercept[Exception](Export.analyzeSnapshotStats(spark, dir))
    finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    assert(Export.latestSnapshotVersion(dir) === v,
      "ANALYZE committed stats over a corrupt file")
  }
}
