package graft.pipeline

import java.io.File

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Small-table batching (planBatches/restoreBatch): N same-schema tiny
  * tables import as ONE partitioned write job + ONE grouped checksum job,
  * with results byte-identical to the single-table path. */
class SmallBatchSpec extends SparkSpec {

  private def freshOut(): String =
    java.nio.file.Files.createTempDirectory("graft-batch").toString

  /** The batch schema: auto-inc pk `id`, payload `v`, nullable `n`. */
  private def ddl(name: String): String =
    s"""CREATE TABLE `$name` (
       |  `id` bigint(20) NOT NULL AUTO_INCREMENT,
       |  `v` varchar(32) NOT NULL,
       |  `n` varchar(8) DEFAULT NULL,
       |  PRIMARY KEY (`id`)
       |)""".stripMargin

  /** n same-schema tables; every table has one full-tuple row with an
    * explicit NULL and one default-filled row (id synthesized, `n` NULL
    * by default) — NULLs make the checksum's NULL encoding observable. */
  private def writeDump(n: Int): File = {
    val src = java.nio.file.Files.createTempDirectory("graft-batch-src").toFile
    for (i <- 0 until n) {
      java.nio.file.Files.writeString(
        new File(src, f"bd.t$i%02d-schema.sql").toPath, ddl(s"t$i"))
      java.nio.file.Files.writeString(
        new File(src, f"bd.t$i%02d.0000.sql").toPath,
        s"INSERT INTO `t$i` VALUES (${i * 10 + 1},'row-$i-a',NULL);\n" +
          s"INSERT INTO `t$i` (`v`) VALUES ('row-$i-b');\n")
    }
    src
  }

  private def cfgFor(src: File, out: String,
      smallBytes: Long = 4L * 1024 * 1024): ImportConfig =
    ImportConfig(sourceDir = src.getAbsolutePath, outDir = out,
      smallTableBytes = smallBytes)

  test("batched ≡ single path: reports, checksums, synthesized ids, content") {
    val src = writeDump(6)
    val outB = freshOut(); val outS = freshOut()
    val batched = new ImportPipeline(spark, cfgFor(src, outB)).run()
    val single = new ImportPipeline(spark,
      cfgFor(src, outS, smallBytes = 0)).run()
    assert(batched.size === 6 && single.size === 6)
    val bByT = batched.map(r => r.table -> r).toMap
    for (s <- single) {
      val b = bByT(s.table)
      assert(b.error.isEmpty && s.error.isEmpty, s"${s.table}")
      assert((b.rows, b.dataChecksum, b.dataBytes, b.dataKvs) ===
        ((s.rows, s.dataChecksum, s.dataBytes, s.dataKvs)),
        s"report mismatch for ${s.table}")
    }
    for (i <- 0 until 6) {
      val t = f"t$i%02d"
      val a = spark.read.parquet(s"$outB/bd/$t")
        .collect().map(_.toSeq).sortBy(_.toString)
      val c = spark.read.parquet(s"$outS/bd/$t")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(a.toSeq === c.toSeq, s"content mismatch for $t")
    }
  }

  test("batch import runs O(1) Spark jobs, not O(tables)") {
    val src = writeDump(8)
    val out = freshOut()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // checkpoints off: measure exactly the data-path jobs (write +
      // grouped checksum); concurrency 1 so no interleaved noise
      new ImportPipeline(spark, cfgFor(src, out).copy(
        checkpointEnabled = false, tableConcurrency = 1)).run()
      Thread.sleep(500) // let queued job-start events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // one partitioned write + one grouped checksum + small constant slack
    // (schema/footer probes); the single path would launch ≥2 per table
    assert(jobs.get() <= 6, s"batched 8-table import launched ${jobs.get()} jobs")
  }

  test("second run resumes every batched table by skip") {
    val src = writeDump(4)
    val out = freshOut()
    val first = new ImportPipeline(spark, cfgFor(src, out)).run()
    assert(first.forall(r => r.error.isEmpty && !r.resumedSkip))
    val again = new ImportPipeline(spark, cfgFor(src, out)).run()
    assert(again.size === 4 && again.forall(_.resumedSkip), again)
    // resumed reports carry the recorded checksums
    val f = first.map(r => r.table -> r).toMap
    again.foreach(r => assert((r.rows, r.dataChecksum) ===
      ((f(r.table).rows, f(r.table).dataChecksum))))
  }

  test("mixed schemas and a comments-only table: batches form per schema, " +
      "stragglers defer to the single path") {
    val src = writeDump(3)
    // a 4th table with a DIFFERENT schema (no batch partner → single path)
    java.nio.file.Files.writeString(
      new File(src, "bd.other-schema.sql").toPath,
      "CREATE TABLE `other` (`a` int(11), `b` double)")
    java.nio.file.Files.writeString(
      new File(src, "bd.other.0000.sql").toPath,
      "INSERT INTO `other` VALUES (1,1.5),(2,2.5);\n")
    // a 5th sharing the batch schema but parsing to ZERO rows (comments
    // only): the batch write leaves no partition for it → deferred, and
    // the single path must land the empty-but-readable table layout
    java.nio.file.Files.writeString(
      new File(src, "bd.t99-schema.sql").toPath, ddl("t99"))
    java.nio.file.Files.writeString(
      new File(src, "bd.t99.0000.sql").toPath,
      "-- nothing but a comment\n")
    val out = freshOut()
    val reports = new ImportPipeline(spark, cfgFor(src, out)).run()
    assert(reports.size === 5)
    assert(reports.forall(_.error.isEmpty), reports.filter(_.error.nonEmpty))
    val byT = reports.map(r => r.table -> r).toMap
    assert(byT("other").rows === 2)
    assert(byT("t99").rows === 0)
    assert(spark.read.parquet(s"$out/bd/t99").count() === 0)
    assert(spark.read.parquet(s"$out/bd/other").count() === 2)
    for (i <- 0 until 3)
      assert(spark.read.parquet(s"$out/bd/t" + f"$i%02d").count() === 2)
  }

  test("no staging leftovers after a successful batch") {
    val src = writeDump(3)
    val out = freshOut()
    new ImportPipeline(spark, cfgFor(src, out)).run()
    val leftovers = new File(out).listFiles()
      .filter(_.getName.startsWith("_graft_batch_"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("per-table progress: every batched table reaches completed with " +
      "full bytes; a resumed batch re-reports the skips") {
    // one batched run must still drive the per-table progress the web
    // dashboard reads — N rows in /progress/task, each ending s=2 with
    // w=z — even though the data path ran as a single grouped job
    val src = writeDump(7)
    val out = freshOut()
    val reg = new ProgressRegistry
    new ImportPipeline(spark, cfgFor(src, out), progress = Some(reg)).run()
    val json = reg.taskJson
    for (i <- 0 until 7) {
      val t = f"bd.t$i%02d"
      val entry = (s"\"$t\"" + """:\{"w":(\d+),"z":(\d+),"s":(\d+)\}""").r
      entry.findFirstMatchIn(json) match {
        case None => fail(s"$t missing from /progress/task: $json")
        case Some(m) =>
          assert(m.group(3) === "2", s"$t not completed: $json")
          assert(m.group(1) === m.group(2) && m.group(1).toLong > 0,
            s"$t bytes not fully reported: $json")
      }
    }
    // resumed (checkpoint-skip) batch: same terminal states, new registry
    val reg2 = new ProgressRegistry
    val again = new ImportPipeline(spark, cfgFor(src, out),
      progress = Some(reg2)).run()
    assert(again.forall(_.resumedSkip))
    val json2 = reg2.taskJson
    assert(""""s":2""".r.findAllIn(json2).size >= 7, json2)
  }
}
