package graft.operators

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.operators.Export.Layout

/** The manifest codec: every line form the writers produce parses into
  * its typed fields and renders back byte for byte; tag edits replace by
  * identity; and the read paths take their headers and tags from ONE
  * parse of a version — pinned by counting `_v<N>.manifest` opens on
  * [[CountingFs]] — while the epoch writers read their fresh files back
  * without a listing or schema-inference job. */
class ManifestCodecSpec extends SparkSpec {

  private val schemaJson = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType))).json

  private val p = "file:/t/epoch=3-ab12cd34/part-00000-x.c000.snappy.parquet"
  private val hex = "0123456789abcdef" * 16

  test("every writer line form and header round-trips byte for byte with its typed fields") {
    val text = Seq(
      s"#check_pos=id >= 0 AND id = id",
      s"#cloned_from=file:/src@v3",
      s"#committed_at=1700000000000",
      s"#op=append",
      s"#props=graft.update.mode=mor&k%3Dx=v%3Dy",
      s"#schema=$schemaJson",
      p,
      s"$p\t5\t17",
      s"$p\tlen=123",
      s"$p\tlen=123\tz=-4:9\ts=id:-4:9",
      s"$p\tlen=9\tz2=0:3:4:7\ts=a:0:3\ts=b:4:7",
      s"$p\tlen=9\tp=dt=2024-01-01/tenant=a\tz=1:2\ts=ts#us:100:200",
      s"$p\tlen=9\tb=id:$hex",
      s"$p\tlen=9\tn=40\ts=id:0:9\ts=v:-3:12",
      s"$p\tlen=9\tn=0",
      s"$p\tlen=9\tn=2\ts=a:b:-1:1\tb=a:b:$hex",
      s"$p\tlen=9\tdv=file:/t/dv=4-0f0f0f0f:7").mkString("\n")
    val m = Export.parseManifest(4, text.split("\n").toSeq)
    assert(Export.renderManifest(m.meta, m.lines) === text)
    assert(m.meta("check_pos") === "id >= 0 AND id = id")
    assert(m.meta("props") === "graft.update.mode=mor&k%3Dx=v%3Dy")
    assert(m.op === Some("append"))
    assert(m.committedAt === Some(1700000000000L))
    assert(m.schema.fieldNames.toSeq === Seq("id"))

    val e = m.entries
    assert(e.map(_.path).distinct === Seq(p))
    assert(e(0).line === p && e(0).len.isEmpty && e(0).zone.isEmpty)
    assert(e(1).zone === Some((5L, 17L)) && e(1).len.isEmpty)
    assert(e(2).len === Some(123L) && e(2).zone.isEmpty)
    assert(e(3).zone === Some((-4L, 9L)) && e(3).stats === Map("id" -> (-4L, 9L)))
    assert(e(4).zone2 === Some((0L, 3L, 4L, 7L)) && e(4).zone.isEmpty)
    assert(e(4).stats === Map("a" -> (0L, 3L), "b" -> (4L, 7L)))
    assert(e(5).partition === Map("dt" -> "2024-01-01", "tenant" -> "a"))
    assert(e(5).stats === Map("ts#us" -> (100L, 200L)))
    assert(e(6).bloom === Some(("id", hex)))
    assert(e(7).rows === Some(40L) && e(7).stats.size === 2)
    assert(e(8).rows === Some(0L))
    // a column name may hold a ':' itself
    assert(e(9).stats === Map("a:b" -> (-1L, 1L)) &&
      e(9).bloom === Some(("a:b", hex)))
    assert(e(10).dv === Some(("file:/t/dv=4-0f0f0f0f", 7L)) && e(10).hasDv)
    assert(e.take(10).forall(_.dv.isEmpty))
    assert(m.prunable)
  }

  test("tag edits replace by identity (family, and column for s/b) and append in call order") {
    import Export.Tag
    val base = Export.withTags(p, Tag.len(9))
    assert(base === s"$p\tlen=9")
    // the writers' shapes: the partitioned writer's p, z, s order
    assert(Export.withTags(base, Tag.partition(Seq("dt" -> "x", "k" -> "1")),
        Tag.zone(1, 2), Tag.stat("k", 1, 2)) ===
      s"$base\tp=dt=x/k=1\tz=1:2\ts=k:1:2")
    val dv = Export.withTags(s"$base\ts=k:1:2", Tag.dv("file:/t/dv=2-a", 3))
    assert(dv === s"$base\ts=k:1:2\tdv=file:/t/dv=2-a:3")
    // a re-pointed deletion vector replaces the old one
    assert(Export.withTags(dv, Tag.dv("file:/t/dv=5-b", 4)) ===
      s"$base\ts=k:1:2\tdv=file:/t/dv=5-b:4")
    // s= of another column adds; s= of the same column replaces
    assert(Export.withTags(dv, Tag.stat("v", 0, 1)) === s"$dv\ts=v:0:1")
    assert(Export.withTags(dv, Tag.stat("k", 7, 8)) ===
      s"$base\tdv=file:/t/dv=2-a:3\ts=k:7:8")
    assert(Export.withTags(s"$base\ts=a:b:1:2", Tag.stat("a:b", 3, 4)) ===
      s"$base\ts=a:b:3:4")
    assert(Export.withoutTags(s"$dv\tn=3") {
      case (f, c) => f == "n" || f == "dv" || c.contains("k") } === base)
  }

  test("a legacy positional zone survives a tag edit: the edited line carries it as z=lo:hi") {
    import Export.Tag
    val legacy = s"$p\t5\t9"
    val tagged = Export.withTags(legacy, Tag.len(10))
    assert(tagged === s"$p\tz=5:9\tlen=10")
    assert(Export.parseEntry(tagged).zone === Some((5L, 9L)))
    assert(Export.parseEntry(Export.withoutTags(tagged)(_._1 == "len"))
      .zone === Some((5L, 9L)))
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  private def countRoot(name: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val local = new java.io.File("target/qtmp_countfs", name)
    deleteRec(local)
    s"countfs:${local.getAbsolutePath}"
  }

  /** Commit manifest-only versions whose data lines are `lines(v)`. */
  private def commitLines(out: String, versions: Range)(
      lines: Int => Seq[String]): Unit = {
    val (fs, root) = Export.fsRoot(out)
    fs.mkdirs(root)
    versions.foreach(v => Export.commitManifest(fs, root, v,
      Map("schema" -> schemaJson, "op" -> "append",
        "committed_at" -> (1000L + v).toString), lines(v)))
  }

  test("an uncontended append onto an existing table opens the head manifest at most twice") {
    import spark.implicits._
    val out = countRoot("codec_append")
    commitLines(out, 1 to 3)(v => Seq(s"$out/epoch=$v-x/part-$v.parquet"))
    CountingFs.reset()
    assert(Export.appendSnapshot(spark, Seq(7L, 8L).toDF("id"), out) === 4)
    val opens = CountingFs.manifestOpens.get
    info(s"head manifest opens: $opens")
    assert(opens <= 2, s"appendSnapshot opened the head manifest $opens times")
    val files = Export.snapshotFiles(out, 4)
    assert(files.head === s"$out/epoch=3-x/part-3.parquet" && files.size > 1)
  }

  test("a stats-pruned range read of a 40-file version opens its manifest once") {
    val out = countRoot("codec_range")
    commitLines(out, 1 to 1)(_ => (0 until 40).map(i =>
      s"$out/epoch=1-x/part-$i.parquet\tlen=100\tn=10\t" +
        s"s=id:${i * 10}:${i * 10 + 9}"))
    CountingFs.reset()
    val df = Export.readSnapshot(spark, out, 1)
      .filter(org.apache.spark.sql.functions.col("id").between(35L, 64L))
    val opens = CountingFs.manifestOpens.get
    assert(opens === 1, s"the range read opened the manifest $opens times")
    assert(scannedFiles(df).map(f => f.substring(f.lastIndexOf('-') + 1))
      .sorted === Seq("3.parquet", "4.parquet", "5.parquet", "6.parquet"))
  }

  test("a 40-file statted append reads its files back with no listing and no schema-inference job") {
    val dir = java.nio.file.Files.createTempDirectory("codec-statted").toString
    val sc = spark.sparkContext
    // (job description, the Spark method user code called) per job
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.synchronized {
          seen += ((Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
            js.stageInfos.map(_.details.takeWhile(_ != '\n')).mkString(";")))
        }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      Export.appendSnapshot(spark,
        spark.range(0, 400, 1, 40).selectExpr("id", "id % 7 AS v"), dir,
        Layout.Statted(Seq("id", "v"), nFiles = 40))
      ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    val jobs = seen.synchronized(seen.toList)
    assert(!jobs.exists(_._1.startsWith("Listing leaf files")),
      s"listing job: $jobs")
    // a read without a schema infers it from footers in its own job,
    // started from inside DataFrameReader
    assert(!jobs.exists(_._2.contains("DataFrameReader")),
      s"schema-inference job: $jobs")
    val v = Export.latestSnapshotVersion(dir)
    val entries = Export.snapshotManifestEntries(dir, v)
    assert(entries.size === 40)
    assert(entries.flatMap(_.rows).sum === 400L)
    assert(entries.forall(e => e.stats.keySet === Set("id", "v")))
    assert(Export.metadataCount(dir, v) === Some(400L))
    assert(Export.metadataRange(dir, v, "id") === Some((0L, 399L)))
  }
}
