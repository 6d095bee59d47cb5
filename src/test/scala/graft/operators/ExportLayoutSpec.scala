package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.Export.Layout

/** Data-layout export operators: range-clustered zone-map layout with
  * manifest-driven file pruning, and bucketed layout for shuffle-free
  * repeat joins. The Verify gates (`q_export_zonemap`,
  * `q_export_bucketed`) hash-match the query RESULTS against DuckDB;
  * these specs pin the layout properties the gates cannot see — that the
  * pruned scan really skips files, that zones are disjoint and sorted,
  * and that the bucketed join compiles with zero Exchange. */
class ExportLayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String): String =
    new java.io.File(new java.io.File("target", "qtmp"),
      s"layoutspec_$name").getAbsolutePath

  private def docs = graft.util.Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("lang"), col("n_chars"))

  test("writeRangeLayout: 8 files, disjoint sorted zones, no lost rows") {
    val out = tmp("zones")
    val manifest = Export.writeRangeLayout(spark, docs, "doc_id", 8, out)
      .collect().sortBy(_.getAs[Long]("key_min"))
    assert(manifest.length === 8, "expected one manifest row per file")
    assert(manifest.map(_.getAs[Long]("n_rows")).sum === docs.count())
    // zones are internally ordered and pairwise disjoint (range layout:
    // each file owns a contiguous key interval)
    manifest.foreach { r =>
      assert(r.getAs[Long]("key_min") <= r.getAs[Long]("key_max"))
    }
    manifest.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("key_max") < b.getAs[Long]("key_min"),
          s"overlapping zones: $a / $b")
      case _ =>
    }
  }

  test("prunedRead: skips non-overlapping files, result equals full scan") {
    val out = tmp("prune")
    val manifest = Export.writeRangeLayout(spark, docs, "doc_id", 8, out)
    val pruned = Export.prunedRead(spark, manifest, "doc_id", 97L, 203L)
    val total = spark.read.parquet(out).inputFiles.length
    assert(pruned.inputFiles.length < total,
      s"zone map pruned nothing: ${pruned.inputFiles.length} of $total files")
    // and the surviving files' scan still pushes the exact predicate down
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(doc_id"),
      s"range predicate not pushed to the parquet scan:\n$plan")
    val expected = docs.filter(col("doc_id").between(97, 203))
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = pruned.collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq === expected.toSeq)
  }

  test("prunedRead: empty-overlap range returns 0 rows with the schema") {
    val out = tmp("empty")
    val manifest = Export.writeRangeLayout(spark, docs, "doc_id", 4, out)
    val none = Export.prunedRead(spark, manifest, "doc_id", -500L, -1L)
    assert(none.columns.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(none.count() === 0)
  }

  test("morton: interleave is monotone in each key and round-trip exact") {
    // spot-check the bit cascade against a reference bit-by-bit interleave
    def ref(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i & 1L) << (2 * i)) | ((b >> i & 1L) << (2 * i + 1))
      }
    val rows = spark.range(200).selectExpr(
        "CAST(id * 37 % 65536 AS BIGINT) AS a", "CAST(id * 101 % 65536 AS BIGINT) AS b")
      .withColumn("z", Export.morton(col("a"), col("b")))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("z") ===
        ref(r.getAs[Long]("a"), r.getAs[Long]("b")), s"morton mismatch at $r")
    }
  }

  test("z-order layout: box query prunes files on BOTH dimensions") {
    val out = tmp("zorder")
    val manifest = Export.writeZorderLayout(
      spark, docs, "doc_id", "n_chars", 16, out)
    val total = spark.read.parquet(out).inputFiles.length
    assert(manifest.count() === total.toLong)
    assert(manifest.agg(sum("n_rows")).collect().head.getLong(0) === docs.count())
    // selective in both dims: most files skipped
    val box = Export.prunedRead2D(spark, manifest, "doc_id", "n_chars",
      100L, 220L, 100L, 220L)
    assert(box.inputFiles.length < total,
      s"2-D box pruned nothing: ${box.inputFiles.length} of $total")
    // selective ONLY in the second key: a 1-D layout on doc_id could not
    // prune here; the Z-curve must
    val bOnly = Export.prunedRead2D(spark, manifest, "doc_id", "n_chars",
      Long.MinValue / 4, Long.MaxValue / 4, 48L, 120L)
    assert(bOnly.inputFiles.length < total,
      s"b-only box pruned nothing: ${bOnly.inputFiles.length} of $total")
    // and correctness: pruned scan == full-scan filter
    val expected = docs
      .filter(col("doc_id").between(100, 220) && col("n_chars").between(100, 220))
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = box.collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq === expected.toSeq)
  }

  test("bucketed layout: repeat join compiles with zero Exchange below it") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = Export.writeBucketed(spark,
        docs.select(col("doc_id"), col("lang")), "doc_id", 4,
        "graft_exp", "spec_meta", tmp("bkt_meta"))
      val b = Export.writeBucketed(spark,
        docs.select(col("doc_id").as("size_doc_id"), col("n_chars")),
        "size_doc_id", 4, "graft_exp", "spec_size", tmp("bkt_size"))
      val joined = a.join(b, col("doc_id") === col("size_doc_id"))
        .groupBy("lang").agg(sum("n_chars").as("chars"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
      val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange"),
        s"bucketed join still shuffles:\n$belowJoin")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_exp.spec_meta")
      spark.sql("DROP TABLE IF EXISTS graft_exp.spec_size")
    }
  }

  test("IVF layout: dir-pruned probe equals the in-memory probe; layout fans out") {
    // the two public gates share centroids (per-dir index cache), probe
    // set, and re-rank — equality proves the partitioned export plus the
    // directory-pruned scan lose nothing vs filtering in memory
    val pruned = graft.queries.Curation.q_export_ivf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMem = graft.queries.Curation.ann_ivf_md5(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned === inMem)
    assert(pruned.size === 10)
    // the export really fans out into more cell dirs than the probe reads
    // — i.e. the layout PRUNES (nprobe=4 of nlist=16)
    val cellDirs = new java.io.File(new java.io.File("target", "qtmp"),
        s"export_ivf_${math.abs(sf.hashCode)}")
      .listFiles().count(_.getName.startsWith("_cell="))
    assert(cellDirs > 4, s"layout fan-out too small: $cellDirs cell dirs")
  }

  test("vacuum: kept versions intact, dropped epochs physically gone") {
    val out = tmp("vacuum")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val ids = docs.select("doc_id")
    val v1 = Export.replaceSnapshot(spark, ids.filter(col("doc_id") < 100), out)
    val v2 = Export.replaceSnapshot(spark, ids.filter(col("doc_id") < 200), out)
    val v3 = Export.replaceSnapshot(spark, ids, out)
    val v3Rows = Export.readSnapshot(spark, out, v3).count()
    // horizonMs = 0: the spec's files are seconds old; production keeps
    // the default in-flight horizon (see the vacuum-horizon spec below)
    val (droppedV, deletedF) = Export.vacuumSnapshots(out, keep = 1,
      horizonMs = 0)
    assert(droppedV === 2 && deletedF >= 2)
    // survivors untouched
    assert(Export.latestSnapshotVersion(out) === v3)
    assert(Export.readSnapshot(spark, out, v3).count() === v3Rows)
    // dropped manifests and their epochs are physically gone: the only
    // parquet bytes left on disk are exactly the surviving manifest's
    // (epoch dirs carry random suffixes now, so count files, not names)
    assert(!new java.io.File(out, s"_v$v1.manifest").exists())
    assert(!new java.io.File(out, s"_v$v2.manifest").exists())
    def parquetFilesUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap {
        case f if f.isDirectory => parquetFilesUnder(f)
        case f if f.getName.endsWith(".parquet") => Seq(f)
        case _ => Nil
      }
    val survivors = java.nio.file.Files.readAllLines(
        new java.io.File(out, s"_v$v3.manifest").toPath)
      .toArray(Array.empty[String]).toSeq
      .filterNot(_.startsWith("#")).map(_.split('\t').head)
    assert(parquetFilesUnder(new java.io.File(out)).size === survivors.size,
      "unreferenced epoch files survived the vacuum")
    // idempotent: nothing left to clean
    assert(Export.vacuumSnapshots(out, keep = 1, horizonMs = 0) === ((0, 0)))
  }

  test("compaction: file count drops, rows byte-identical, old versions untouched, vacuum reclaims") {
    val out = tmp("compact")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val ids = docs.select("doc_id", "n_chars")
    // three fragmented appends: 7 + 5 + 6 = 18 small files
    Export.appendSnapshot(spark, ids.filter(col("doc_id") % 3 === 0).repartition(7), out)
    Export.appendSnapshot(spark, ids.filter(col("doc_id") % 3 === 1).repartition(5), out)
    val v3 = Export.appendSnapshot(spark, ids.filter(col("doc_id") % 3 === 2).repartition(6), out)
    def manifestFiles(v: Int): Seq[String] =
      java.nio.file.Files.readAllLines(
        new java.io.File(out, s"_v$v.manifest").toPath)
        .toArray(Array.empty[String]).toSeq.filterNot(_.startsWith("#"))
    val before = manifestFiles(v3)
    assert(before.size === 18, s"expected 18 fragments, got ${before.size}")
    def rows(v: Int) = Export.readSnapshot(spark, out, v).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val rowsBefore = rows(v3)
    val vc = Export.compactSnapshot(spark, out, nFiles = 2)
    assert(vc === v3 + 1)
    assert(manifestFiles(vc).size === 2, "compaction did not shrink the layout")
    assert(rows(vc) === rowsBefore, "compaction changed the rows")
    assert(rows(v3) === rowsBefore, "pre-compaction version no longer reads intact")
    assert(Export.snapshotMeta(out, vc) === Map("compacted_from" -> v3.toString))
    // retention drops the fragmented versions; vacuum reclaims their files
    val (droppedV, deletedF) = Export.vacuumSnapshots(out, keep = 1,
      horizonMs = 0)
    assert(droppedV === 3 && deletedF === 18,
      s"expected 18 fragments reclaimed, got $deletedF")
    assert(rows(vc) === rowsBefore, "compacted rows lost by vacuum")
  }

  test("snapshotDiff: set diff row-level, bag semantics on duplicates, empty diff on identical versions") {
    import spark.implicits._
    val out = tmp("snapdiff")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    // v1 holds (1,a) twice + (2,b); v2 holds (1,a) once + (3,c):
    // bag semantics → ONE delete of (1,a), delete of (2,b), insert of (3,c)
    val v1 = Export.replaceSnapshot(spark,
      Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "s"), out)
    val v2 = Export.replaceSnapshot(spark,
      Seq((1L, "a"), (3L, "c")).toDF("k", "s"), out)
    val d = Export.snapshotDiff(spark, out, v1, v2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(d === Seq((1L, "a", "delete"), (2L, "b", "delete"),
      (3L, "c", "insert")))
    assert(Export.snapshotDiff(spark, out, v2, v2).count() === 0)
    // direction flip swaps the tags
    val rev = Export.snapshotDiff(spark, out, v2, v1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(rev === Seq((1L, "a", "insert"), (2L, "b", "insert"),
      (3L, "c", "delete")))
  }

  test("zone-carrying manifests: pruned time travel skips files on every version; zoneless epochs always read") {
    import org.apache.spark.sql.functions._
    val out = tmp("snapzone")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val ids = docs.select("doc_id", "n_chars")
    val v1 = Export.appendSnapshot(spark,
      ids.filter(col("doc_id") % 2 === 0), out,
      Layout.Clustered("doc_id", nFiles = 8))
    val v2 = Export.appendSnapshot(spark,
      ids.filter(col("doc_id") % 2 === 1), out,
      Layout.Clustered("doc_id", nFiles = 8))
    def manifestLines(v: Int) =
      java.nio.file.Files.readAllLines(
        new java.io.File(out, s"_v$v.manifest").toPath)
        .toArray(Array.empty[String]).toSeq.filterNot(_.startsWith("#"))
    // every clustered line carries a zone (tagged form) and its length
    assert(manifestLines(v2).forall(l =>
      l.split('\t').exists(_.startsWith("z=")) &&
        l.split('\t').exists(_.startsWith("len="))))
    // pruned read == full read + filter, on BOTH versions (the full
    // read filters after the scan, so no file is skipped)
    def full(v: Int, lo: Long, hi: Long) =
      Export.readSnapshot(spark, out, v)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(t => t._1 >= lo && t._1 <= hi).sorted.toSeq
    def prunedRead(v: Int, lo: Long, hi: Long) =
      Export.readSnapshot(spark, out, v)
        .filter(col("doc_id").between(lo, hi))
    def pruned(v: Int, lo: Long, hi: Long) = prunedRead(v, lo, hi)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pruned(v1, 50, 150) === full(v1, 50, 150))
    assert(pruned(v2, 50, 150) === full(v2, 50, 150))
    // the plan really skips files: count the files the pruned scan plans
    val prunedFiles = scannedFiles(prunedRead(v2, 50, 150)).size
    assert(prunedFiles < manifestLines(v2).size,
      s"pruned scan read all ${manifestLines(v2).size} files")
    // a zoneless epoch (plain append) is ALWAYS read — never lost to pruning
    val extra = ids.filter(col("doc_id") === 77L || col("doc_id") === 9999999L)
    val v3 = Export.appendSnapshot(spark, extra, out)
    assert(pruned(v3, 50, 150) === full(v3, 50, 150))
    assert(pruned(v3, 50, 150).map(_._1).contains(77L))
    // empty overlap keeps the schema and returns zero rows
    assert(prunedRead(v3, -500L, -400L).count() === 0)
  }

  test("wide shards: conservation, id range, 65536 cap, disjoint from the nibble router") {
    val out = tmp("wideshards")
    val ids = docs.select("doc_id", "n_chars")
    val manifest = Export.writeShardsWide(spark, ids, "doc_id", 64, out)
      .collect()
    assert(manifest.map(_.getLong(1)).sum === ids.count(), "rows lost in sharding")
    assert(manifest.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 64))
    // deterministic: re-running assigns identically
    val again = Export.writeShardsWide(spark, ids, "doc_id", 64, out)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(again === manifest.map(r => (r.getInt(0), r.getLong(1))).toSet)
    intercept[IllegalArgumentException] {
      Export.shardOfWide(col("doc_id"), 65537)
    }
  }

  test("clustered compaction: re-sorts overlapping epochs into a pruned layout, rows intact") {
    import org.apache.spark.sql.functions._
    val out = tmp("compactclustered")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val ids = docs.select("doc_id", "n_chars")
    // epoch-at-a-time ingestion: each epoch internally clustered but the
    // TABLE's key ranges overlap across epochs — every file spans the
    // whole key domain as far as a range query on the union is concerned
    val v1 = Export.appendSnapshot(spark,
      ids.filter(col("doc_id") % 2 === 0), out,
      Layout.Clustered("doc_id", nFiles = 4))
    val v2 = Export.appendSnapshot(spark,
      ids.filter(col("doc_id") % 2 === 1), out,
      Layout.Clustered("doc_id", nFiles = 4))
    def rows(v: Int) = Export.readSnapshot(spark, out, v).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = rows(v2)
    val vc = Export.compactSnapshot(spark, out,
      layout = Some(Layout.Clustered("doc_id", nFiles = 8)))
    assert(rows(vc) === before, "clustered compaction changed the rows")
    assert(Export.snapshotMeta(out, vc) === Map("compacted_from" -> v2.toString))
    // the compacted layout prunes: a narrow range touches few of the 8 files
    val narrow = Export.readSnapshot(spark, out, vc)
      .filter(col("doc_id").between(50L, 120L))
    val touched = scannedFiles(narrow).size
    assert(touched <= 3, s"compacted layout did not prune: $touched of 8 files")
    // and matches the unpruned read
    assert(narrow.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      before.filter(t => t._1 >= 50 && t._1 <= 120))
    // pre-compaction versions still read
    assert(rows(v1) === before.filter(_._1 % 2 == 0))
  }

  test("epoch dirs are uniquely suffixed: racing committers can never overwrite each other's data") {
    val out = tmp("epochuniq")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    import spark.implicits._
    Export.appendSnapshot(spark, Seq((1L, "a")).toDF("k", "s"), out)
    Export.appendSnapshot(spark, Seq((2L, "b")).toDF("k", "s"), out)
    val epochs = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      .map(_.getName)
    // a bare epoch=<version> name is the data-loss shape: a losing
    // committer's mode("overwrite") into the SAME dir would delete the
    // winner's committed files before the manifest guard ever ran
    assert(epochs.size === 2 && epochs.distinct.size === 2)
    assert(epochs.forall(_.matches("epoch=\\d+-[0-9a-f]{8}")),
      s"epoch dirs not uniquely suffixed: $epochs")
  }

  test("a committed EMPTY version stays readable via its #schema= header") {
    val out = tmp("emptysnap")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    import spark.implicits._
    val empty = Seq((1L, "x")).toDF("k", "s").filter(col("k") < 0)
    val v1 = Export.replaceSnapshot(spark, empty, out)
    // an empty DataFrame is a legal commit (empty first micro-batch);
    // readable-forever must hold: typed-empty, not a crash
    val back = Export.readSnapshot(spark, out, v1)
    assert(back.count() === 0)
    assert(back.schema.map(_.name) === Seq("k", "s"))
    assert(back.filter(col("k").between(0L, 10L)).count() === 0)
    // the log continues normally after an empty version
    val v2 = Export.appendSnapshot(spark, Seq((5L, "y")).toDF("k", "s"), out)
    assert(Export.readSnapshot(spark, out, v2).count() === 1)
  }

  test("snapshotDiffKeyed survives user columns named like the presence markers") {
    val out = tmp("snapcdc_marker")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    import spark.implicits._
    // "_o" and "_n" are real data columns here — the CDC's internal
    // markers must not clobber them
    val v1 = Export.replaceSnapshot(spark,
      Seq((1L, "o1", "n1")).toDF("k", "_o", "_n"), out)
    val v2 = Export.replaceSnapshot(spark,
      Seq((1L, "o2", "n1"), (2L, "oX", "nX")).toDF("k", "_o", "_n"), out)
    val d = Export.snapshotDiffKeyed(spark, out, v1, v2, Seq("k"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(d === Set(
      (1L, "o1", "n1", "update_preimage"),
      (1L, "o2", "n1", "update_postimage"),
      (2L, "oX", "nX", "insert")))
  }

  test("deleteWhere: a NULL-evaluating predicate KEEPS the row (SQL DELETE semantics)") {
    val out = tmp("delnull")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    import spark.implicits._
    // v = NULL rows must survive a `v > 10` delete: DELETE removes rows
    // where the predicate is TRUE, and NULL is not TRUE
    Export.replaceSnapshot(spark, Seq(
      (1L, Option(5L)), (2L, Option(50L)), (3L, Option.empty[Long])
    ).toDF("k", "v"), out)
    val v2 = Export.deleteWhere(spark, out, col("v") > 10)
    val left = Export.readSnapshot(spark, out, v2)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(left === Set((1L, Some(5L)), (3L, None)),
      "NULL-predicate row was silently deleted")
  }

  test("hard purge: deleteWhere + vacuum physically removes the deleted rows' bytes") {
    val out = tmp("hardpurge")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    import spark.implicits._
    val rows = (1L to 100L).map(i => (i, s"payload_$i")).toDF("k", "s")
    Export.replaceSnapshot(spark, rows, out)
    val v2 = Export.deleteWhere(spark, out, col("k") <= 40)
    assert(Export.snapshotMeta(out, v2).get("deleted_from")
      === Some("1"))
    // soft delete: prior version still reads the deleted rows
    assert(Export.readSnapshot(spark, out, 1).count() === 100)
    assert(Export.readSnapshot(spark, out, v2).count() === 60)
    // hard purge = delete + retention vacuum: the deleted rows' files
    // (version 1's entire epoch — full-replace versions share nothing)
    // are physically reclaimed
    val (droppedV, deletedF) = Export.vacuumSnapshots(out, keep = 1,
      horizonMs = 0)
    assert(droppedV === 1 && deletedF >= 1)
    def parquetFilesUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap {
        case f if f.isDirectory => parquetFilesUnder(f)
        case f if f.getName.endsWith(".parquet") => Seq(f)
        case _ => Nil
      }
    val survivors = java.nio.file.Files.readAllLines(
        new java.io.File(out, s"_v$v2.manifest").toPath)
      .toArray(Array.empty[String]).toSeq
      .filterNot(_.startsWith("#")).map(_.split('\t').head)
    assert(parquetFilesUnder(new java.io.File(out)).size === survivors.size,
      "deleted rows' bytes survived the purge")
    assert(Export.readSnapshot(spark, out, v2).count() === 60)
  }

  test("vacuum removes crashed-commit temp manifests") {
    val out = tmp("vactmp")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    import spark.implicits._
    Export.replaceSnapshot(spark, Seq((1L, 2L)).toDF("k", "v"), out)
    // a STALE orphan (crashed commit hours ago) is reclaimed...
    val orphan = new java.io.File(out, "_tmp._v9.manifest.deadbeef")
    java.nio.file.Files.writeString(orphan.toPath, "garbage")
    orphan.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    // ...but a FRESH temp file may be a commit IN FLIGHT — deleting it
    // would fail that committer's rename with a spurious race error
    val inflight = new java.io.File(out, "_tmp._v9.manifest.cafebabe")
    java.nio.file.Files.writeString(inflight.toPath, "committing")
    Export.vacuumSnapshots(out, keep = 1)
    assert(!orphan.exists(), "stale crashed-commit temp manifest survived vacuum")
    assert(inflight.exists(), "vacuum killed an in-flight commit's temp file")
    assert(Export.latestSnapshotVersion(out) === 1)
    inflight.delete()
  }

  test("snapshotDiffKeyed: insert/delete/update pre+post images; null keys match; null flips are updates") {
    import spark.implicits._
    val out = tmp("snapcdc")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    // v1: keys 1 (v=10), 2 (v=20), null (v=30), 4 (v=null)
    // v2: keys 1 (v=10, unchanged), null (v=31, update), 4 (v=40,
    //     null→value update), 5 (v=50, insert); key 2 deleted
    val v1 = Export.replaceSnapshot(spark, Seq(
      (Option(1L), Option(10L)), (Option(2L), Option(20L)),
      (Option.empty[Long], Option(30L)), (Option(4L), Option.empty[Long])
    ).toDF("k", "v"), out)
    val v2 = Export.replaceSnapshot(spark, Seq(
      (Option(1L), Option(10L)), (Option.empty[Long], Option(31L)),
      (Option(4L), Option(40L)), (Option(5L), Option(50L))
    ).toDF("k", "v"), out)
    val d = Export.snapshotDiffKeyed(spark, out, v1, v2, Seq("k"))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2))).toSet
    assert(d === Set(
      (Some(5L), Some(50L), "insert"),
      (Some(2L), Some(20L), "delete"),
      (None, Some(30L), "update_preimage"),     // null key matched null key
      (None, Some(31L), "update_postimage"),
      (Some(4L), None, "update_preimage"),      // null -> value is an update
      (Some(4L), Some(40L), "update_postimage")))
    // unchanged key 1 emitted nothing; self-diff is empty
    assert(Export.snapshotDiffKeyed(spark, out, v2, v2, Seq("k")).count() === 0)
  }

  test("mixed append/replace log: appends extend the LATEST state, whatever wrote it") {
    val out = tmp("mixedlog")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val ids = docs.select("doc_id")
    def n(v: Int) = Export.readSnapshot(spark, out, v).count()
    val a = ids.filter(col("doc_id") < 50)
    val b = ids.filter(col("doc_id") >= 50 && col("doc_id") < 80)
    val c = ids.filter(col("doc_id") >= 80 && col("doc_id") < 90)
    val v1 = Export.appendSnapshot(spark, a, out)     // state: A
    val v2 = Export.replaceSnapshot(spark, b, out)    // state: B (A superseded)
    val v3 = Export.appendSnapshot(spark, c, out)     // state: B + C
    assert((v1, v2, v3) === ((1, 2, 3)))
    assert(n(v1) === a.count())
    assert(n(v2) === b.count())
    assert(n(v3) === b.count() + c.count())
    // every intermediate state still time-travels after the whole history
    assert(n(v1) === a.count())
  }

  test("snapshot manifests: old versions read identically after appends") {
    val out = tmp("snap")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val ids = docs.select("doc_id")
    def sums(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(org.apache.spark.sql.functions.lit(1)),
        sum("doc_id")).collect().head
    val v1 = Export.appendSnapshot(spark, ids.filter(col("doc_id") % 2 === 0), out)
    val v1Before = sums(Export.readSnapshot(spark, out, v1))
    val v2 = Export.appendSnapshot(spark, ids.filter(col("doc_id") % 2 === 1), out)
    assert(v2 === v1 + 1)
    // time travel: v1 must be byte-for-byte the same read after v2 exists
    assert(sums(Export.readSnapshot(spark, out, v1)) === v1Before)
    // v2 sees everything exactly once
    assert(sums(Export.readSnapshot(spark, out, v2)) === sums(ids))
  }

  private def rmDir(out: String): Unit =
    graft.util.Dirs.deleteRec(new java.io.File(out))

  test("a bare compaction keeps the declared layout: a partitioned table stays partitioned, a graft.cluster.key table stays zoned") {
    import spark.implicits._
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, i % 3)).toDF("id", "p")
    val parts = tmp("declared_parts")
    rmDir(parts)
    Export.appendSnapshot(spark, rows(0, 6), parts,
      Layout.Partitioned(Seq("p")))
    Export.appendSnapshot(spark, rows(6, 12), parts,
      Layout.Partitioned(Seq("p")))
    val vp = Export.compactSnapshot(spark, parts, 1)
    assert(Export.snapshotOperation(parts, vp) === Some("compact"))
    assert(Export.snapshotPartitionColumns(parts, vp) === Seq("p"))
    assert(Export.declaredPartitionColumns(parts) === Seq("p"))
    assert(Export.readSnapshot(spark, parts, vp).count() === 12L)
    val zoned = tmp("declared_zones")
    rmDir(zoned)
    Export.appendSnapshot(spark, rows(0, 10), zoned)
    Export.appendSnapshot(spark, rows(10, 20), zoned)
    Export.setSnapshotProperties(zoned, Map("graft.cluster.key" -> "id"))
    val vz = Export.compactSnapshot(spark, zoned, 2)
    val lines = Export.snapshotManifestEntries(zoned, vz)
    assert(lines.nonEmpty && lines.forall(_.zone.nonEmpty),
      s"bare compaction dropped the zones: ${lines.map(_.line)}")
    assert(Export.readSnapshot(spark, zoned, vz).count() === 20L)
  }

  test("committed_at: monotone across commits; TIMESTAMP AS OF resolves Delta-style") {
    val out = tmp("committs")
    rmDir(out)
    val ids = docs.select("doc_id")
    val v1 = Export.appendSnapshot(spark, ids.filter(col("doc_id") < 100), out)
    val v2 = Export.appendSnapshot(spark, ids.filter(col("doc_id") >= 100), out)
    val v3 = Export.compactSnapshot(spark, out, nFiles = 1)
    val ts = Seq(v1, v2, v3).map(Export.snapshotTimestamp(out, _))
    assert(ts === ts.sorted && ts.distinct === ts,
      s"commit timestamps not strictly increasing: $ts")
    // newest version committed at-or-before: exact hit, between, after
    assert(Export.resolveAsOfTimestamp(out, ts(0)) === v1)
    assert(Export.resolveAsOfTimestamp(out, ts(1) - 1) === v1)
    assert(Export.resolveAsOfTimestamp(out, ts(1)) === v2)
    assert(Export.resolveAsOfTimestamp(out, ts(2) + 1000000) === v3)
    // before the table existed: a caller error, not an empty read
    intercept[IllegalArgumentException] {
      Export.resolveAsOfTimestamp(out, ts(0) - 1)
    }
    // a TIMESTAMP AS OF read ≡ version-exact read
    assert(Export.readSnapshot(spark, out,
        Export.resolveAsOfTimestamp(out, ts(1) - 1)).count() ===
      Export.readSnapshot(spark, out, v1).count())
  }

  test("restore: head re-points with zero data movement; vacuum keeps restored files") {
    val out = tmp("restore")
    rmDir(out)
    val ids = docs.select("doc_id", "n_chars")
    val v1 = Export.replaceSnapshot(spark, ids, out)
    val v1Files = Export.snapshotFiles(out, v1).toSet
    val v2 = Export.deleteWhere(spark, out, col("doc_id") % 2 === 0)
    val v3 = Export.restoreSnapshot(out, v1)
    assert(v3 === v2 + 1)
    assert(Export.snapshotMeta(out, v3) === Map("restored_from" -> "1"))
    // zero data movement: the restored manifest lists v1's exact files
    assert(Export.snapshotFiles(out, v3).toSet === v1Files)
    assert(Export.readSnapshot(spark, out, v3).count() ===
      Export.readSnapshot(spark, out, v1).count())
    // retention drops v1 and v2, but the restored HEAD still references
    // v1's files — vacuum must keep every one of them
    val (droppedV, _) = Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(droppedV === 2)
    assert(Export.snapshotVersions(out) === Seq(v3))
    assert(Export.readSnapshot(spark, out, v3).count() === ids.count(),
      "vacuum deleted files the restored head references")
    // restoring to a vacuumed version is a clean error
    intercept[IllegalArgumentException] { Export.restoreSnapshot(out, v2) }
  }

  test("partitioned snapshots: manifest-only partition elimination, composes with zones") {
    val out = tmp("partsnap")
    rmDir(out)
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0), out,
      Layout.Partitioned(Seq("lang"), nFiles = 4))
    val v2 = Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 1), out,
      Layout.Partitioned(Seq("lang"), nFiles = 4, zoneKey = Some("doc_id")))
    val all = Export.readSnapshot(spark, out, v2)
    val en = all.filter(col("lang") === "en")
    val enFiles = scannedFiles(en)
    // files of non-matching partitions are never planned: every planned
    // leaf lives in a _p_lang=en directory
    assert(enFiles.nonEmpty &&
      enFiles.forall(_.contains("_p_lang=en")),
      s"non-en files planned: ${enFiles.filterNot(_.contains("_p_lang=en")).take(3).mkString(", ")}")
    assert(enFiles.length < all.inputFiles.length)
    // rows ≡ full-scan predicate
    assert(en.count() === docs.filter(col("lang") === "en").count())
    // partition × zone composition plans a strict subset again (only the
    // second epoch carries zones; its en files outside [0,50] drop)
    val enZone = all.filter(col("lang") === "en" && col("doc_id").between(0L, 50L))
    assert(scannedFiles(enZone).length < enFiles.length,
      s"zone pruned nothing within the partition: ${scannedFiles(enZone).length} of ${enFiles.length}")
    assert(enZone.count() ===
      docs.filter(col("lang") === "en" && col("doc_id").between(0, 50)).count())
    // empty partition value: zero rows, schema intact
    val none = all.filter(col("lang") === "xx")
    assert(none.count() === 0)
    assert(none.columns.toSeq === all.columns.toSeq)
    // CAST(col AS STRING) = 'v', the form p= stores, prunes an integral
    // partition's tagged files, while an untagged plain epoch is still
    // planned (its rows may hold any value)
    val ip = tmp("partsnapint")
    rmDir(ip)
    val byPart = docs.withColumn("int_part", (col("doc_id") % 4).cast("int"))
    Export.appendSnapshot(spark, byPart, ip,
      Layout.Partitioned(Seq("int_part"), nFiles = 4))
    val vi = Export.appendSnapshot(spark,
      byPart.filter(col("doc_id") < 10L).withColumn("int_part", lit(3)), ip)
    val allI = Export.readSnapshot(spark, ip, vi)
    val three = allI.filter(col("int_part").cast("string") === "3")
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val threeFiles = scannedFiles(three)
    val untagged = Export.snapshotFiles(ip, vi)
      .filterNot(_.contains("_p_int_part="))
    assert(untagged.nonEmpty &&
      untagged.map(name).toSet.subsetOf(threeFiles.map(name).toSet),
      "the untagged plain epoch was pruned")
    assert(threeFiles.filter(_.contains("_p_int_part="))
      .forall(_.contains("_p_int_part=3")),
      s"tagged files of other partitions planned: $threeFiles")
    assert(threeFiles.length < allI.inputFiles.length)
    assert(three.count() === byPart.filter(col("int_part") === 3).count() +
      byPart.filter(col("doc_id") < 10L).count())
    // vacuum recurses into partition dirs: drop v1, reclaim its files
    val (droppedV, deletedF) = Export.vacuumSnapshots(out, keep = 1,
      horizonMs = 0)
    assert(droppedV === 1 && deletedF === 0,
      "append-only log: v1's files are still referenced by v2")
    assert(Export.readSnapshot(spark, out, v2).count() === docs.count())
  }

  test("partition-spec evolution: old-spec files plan under new-spec filters, new-spec files still prune") {
    val out = tmp("partevo")
    rmDir(out)
    val d = graft.util.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    Export.appendSnapshot(spark,
      d.filter(col("doc_id") % 2 === 0), out,
      Layout.Partitioned(Seq("lang"), nFiles = 2))
    val v2 = Export.appendSnapshot(spark,
      d.filter(col("doc_id") % 2 === 1), out,
      Layout.Partitioned(Seq("lang", "source"), nFiles = 2))
    val all = Export.readSnapshot(spark, out, v2)
    // a filter on the SHARED column prunes files of both eras
    val en = all.filter(col("lang") === "en")
    val enFiles = scannedFiles(en)
    assert(enFiles.nonEmpty &&
      enFiles.forall(_.contains("_p_lang=en")))
    assert(enFiles.exists(_.contains("_p_source=")) &&
      enFiles.exists(!_.contains("_p_source=")),
      "an en read should span both partition-spec eras")
    assert(en.count() === d.filter(col("lang") === "en").count())
    // a filter on the EVOLVED column: era-1 files (no source in their
    // spec) must all still plan — pruning can't prove exclusion there —
    // while era-2 files of other sources are eliminated from the manifest
    val src = all.filter(col("source") === "src7")
    val srcFiles = scannedFiles(src)
    val eraOld = all.inputFiles.filterNot(_.contains("_p_source=")).toSet
    assert(eraOld.subsetOf(srcFiles.toSet),
      "evolution dropped old-spec files it cannot prove excluded")
    assert(srcFiles.filter(_.contains("_p_source="))
      .forall(_.contains("_p_source=src7")),
      "new-spec files of other sources were planned")
    assert(srcFiles.length < all.inputFiles.length)
    // rows are exact regardless of which era they came from
    assert(src.count() === d.filter(col("source") === "src7").count())
    // partition-scoped DML on the evolved column refuses the mixed
    // table instead of silently corrupting it
    val ex = intercept[IllegalArgumentException] {
      Export.compactSnapshotPartition(spark, out,
        Seq("lang", "source"), Map("lang" -> "en", "source" -> "src7"))
    }
    assert(ex.getMessage.contains("consistently partitioned"))
  }

  test("vacuum horizon: an unreferenced-but-fresh epoch is an in-flight commit, not garbage") {
    val out = tmp("vachorizon")
    rmDir(out)
    val ids = docs.select("doc_id")
    Export.replaceSnapshot(spark, ids, out)
    // simulate a committer mid-flight: epoch written, manifest not yet —
    // exactly the window the advice's race names (writeEpoch → commit)
    val orphanEpoch = new java.io.File(out, "epoch=9-deadbeef")
    orphanEpoch.mkdirs()
    val orphanFile = new java.io.File(orphanEpoch, "part-inflight.parquet")
    java.nio.file.Files.writeString(orphanFile.toPath, "not yet committed")
    // default horizon: the fresh orphan MUST survive
    val (_, deletedFresh) = Export.vacuumSnapshots(out, keep = 1)
    assert(orphanFile.exists(),
      "vacuum deleted an in-flight commit's epoch file inside the horizon")
    assert(deletedFresh === 0)
    // age it past the horizon: now it is a crashed commit's litter
    orphanFile.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val (_, deletedStale) = Export.vacuumSnapshots(out, keep = 1)
    assert(deletedStale === 1 && !orphanEpoch.exists(),
      "aged orphan epoch not reclaimed")
  }

  test("snapshotHistory: DESCRIBE HISTORY rows — operations, monotone timestamps, batch carry") {
    import spark.implicits._
    val out = tmp("history")
    rmDir(out)
    Export.appendSnapshot(spark, Seq((1L, 10L)).toDF("k", "v"), out)
    Export.replaceSnapshot(spark, Seq((2L, 20L)).toDF("k", "v"), out,
      meta = Map("batch" -> "5"))
    Export.compactSnapshot(spark, out, nFiles = 1)
    Export.deleteWhere(spark, out, col("k") === 0L)
    Export.restoreSnapshot(out, 2)
    val h = Export.snapshotHistory(spark, out)
      .orderBy("version").collect()
    assert(h.map(_.getAs[Int]("version")).toSeq === Seq(1, 2, 3, 4, 5))
    assert(h.map(_.getAs[String]("operation")).toSeq ===
      Seq("append", "replace", "compact", "delete", "restore"))
    val ts = h.map(_.getAs[Long]("committed_at")).toSeq
    assert(ts === ts.sorted && ts.distinct === ts)
    // batch watermark visible from v2 on (maintenance commits carry it)
    assert(h.map(r => Option(r.get(r.fieldIndex("batch")))).toSeq ===
      Seq(None, Some(5L), Some(5L), Some(5L), Some(5L)))
    assert(h.forall(_.getAs[Int]("n_files") >= 0))
  }

  test("vacuum vs concurrent reader: a reader of any SURVIVING manifest never loses a file") {
    val out = tmp("vacreader")
    rmDir(out)
    val ids = docs.select("doc_id")
    Export.replaceSnapshot(spark, ids.filter(col("doc_id") < 100), out)
    val v2 = Export.replaceSnapshot(spark,
      ids.filter(col("doc_id").between(100, 200)), out)
    Export.replaceSnapshot(spark, ids, out)
    // a reader "mid-read" of v2: the plan (manifest file list + lazy
    // DataFrame) exists BEFORE the vacuum runs
    val planned = Export.snapshotFiles(out, v2)
    val reader = Export.readSnapshot(spark, out, v2)
    val expected = reader.count()
    // retention keeps v2 and v3 — v2 survives, so vacuum must keep every
    // file it references even though v1's epoch becomes garbage
    Export.vacuumSnapshots(out, keep = 2, horizonMs = 0)
    planned.foreach(f => assert(
      new java.io.File(new java.net.URI(f)).exists(),
      s"vacuum deleted $f, referenced by surviving manifest v$v2"))
    assert(reader.count() === expected,
      "mid-read plan lost rows after a concurrent vacuum")
    // the flip side, spelled out: a reader pinned to a version retention
    // DROPS races its files by design — hold keep ≥ reader staleness
    assert(Export.snapshotVersions(out) === Seq(2, 3))
  }

  test("maintenance commits carry the exactly-once #batch= watermark past retention") {
    import spark.implicits._
    val out = tmp("batchcarry")
    rmDir(out)
    Export.replaceSnapshot(spark, Seq((1L, 10L)).toDF("k", "v"), out,
      meta = Map("batch" -> "7"))
    assert(Export.lastAppliedBatch(out) === 7L)
    // compact (carries batch), then retention drops the only version
    // that ORIGINALLY carried it
    Export.compactSnapshot(spark, out, nFiles = 1)
    Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(Export.lastAppliedBatch(out) === 7L,
      "compaction+vacuum erased the exactly-once watermark (replay would double-merge)")
    // delete and restore carry it too
    Export.deleteWhere(spark, out, col("k") === 999L)
    Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(Export.lastAppliedBatch(out) === 7L)
    val head = Export.latestSnapshotVersion(out)
    Export.restoreSnapshot(out, head)
    Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(Export.lastAppliedBatch(out) === 7L)
    // a NEWER real batch still wins over the carried copy
    Export.replaceSnapshot(spark, Seq((1L, 11L)).toDF("k", "v"), out,
      meta = Map("batch" -> "8"))
    assert(Export.lastAppliedBatch(out) === 8L)
  }

  test("concurrent appends: the loser retries and both epochs land; maintenance fails cleanly") {
    import spark.implicits._
    val out = tmp("appendrace")
    rmDir(out)
    val v1 = Export.appendSnapshot(spark, Seq((1L, 10L)).toDF("k", "v"), out)
    assert(v1 === 1)
    // deterministic race: just before the append commits v2, a winner
    // commits v2 first — the append must retry and land at v3 carrying
    // BOTH the winner's lines and its own epoch
    val (fs, root) = Export.fsRoot(out)
    var injected = false
    Export.appendRaceInjector = Some { (_, version) =>
      if (!injected && version == 2) {
        injected = true
        // winner = an independent appender landing v2 first (disarm the
        // injector so the winner's own commit doesn't recurse)
        Export.appendRaceInjector = None
        Export.appendSnapshot(spark, Seq((2L, 20L)).toDF("k", "v"), out)
      }
    }
    try {
      val vLoser = Export.appendSnapshot(spark,
        Seq((3L, 30L)).toDF("k", "v"), out)
      assert(injected, "race injector never fired")
      assert(vLoser === 3, s"retried append landed at $vLoser, not 3")
    } finally Export.appendRaceInjector = None
    // nothing lost: v3 = v1 rows + winner's + loser's
    assert(Export.readSnapshot(spark, out, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // threaded smoke: 4 appenders race for real; all succeed, union exact
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (10L to 13L).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            Export.appendSnapshot(spark, Seq((i, i * 10)).toDF("k", "v"), out)
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val head = Export.latestSnapshotVersion(out)
    assert(head === 7, s"4 racing appends should land 4 versions, head=$head")
    assert(Export.readSnapshot(spark, out, head).count() === 7)
    // a maintenance-style PINNED commit racing a live sink still FAILS
    // (its rewrite was computed from a stale head — retrying would drop
    // the interloper's rows): an interloper lands latest+1 first, then
    // the pinned commit at the same version must throw, not renumber
    val latest = Export.latestSnapshotVersion(out)
    Export.appendSnapshot(spark, Seq((99L, 990L)).toDF("k", "v"), out)
    intercept[IllegalStateException] {
      Export.commitManifest(fs, root, latest + 1, Map.empty,
        Seq("file:/nonexistent.parquet"))
    }
  }

  test("dynamic partition overwrite: present partitions swap, absent partitions' files carried verbatim") {
    val out = tmp("partoverwrite")
    rmDir(out)
    val v1 = Export.appendSnapshot(spark, docs, out,
      Layout.Partitioned(Seq("lang"), nFiles = 4))
    val filesBefore = Export.snapshotFiles(out, v1)
    // nightly-reload: recompute the en partition (halve it), replace
    // exactly that partition
    val enReload = docs.filter(col("lang") === "en" &&
      col("doc_id") % 2 === 0)
    val v2 = Export.overwritePartitions(spark, enReload, out, Seq("lang"),
      nFiles = 2)
    val after = Export.readSnapshot(spark, out, v2)
    // replaced partition holds exactly the reload's rows
    assert(after.filter(col("lang") === "en").count() === enReload.count())
    // untouched partitions: same ROWS and the very same FILES (carried
    // manifest lines, zero data movement)
    val nonEn = docs.filter(col("lang") =!= "en").count()
    assert(after.filter(col("lang") =!= "en").count() === nonEn)
    val carried = Export.snapshotFiles(out, v2).toSet
    val nonEnBefore = filesBefore.filterNot(_.contains("_p_lang=en"))
    assert(nonEnBefore.nonEmpty && nonEnBefore.forall(carried),
      "untouched partitions' files were rewritten, not carried")
    assert(filesBefore.filter(_.contains("_p_lang=en"))
        .forall(f => !carried(f)),
      "replaced partition's old files still referenced")
    // v1 still time-travels complete
    assert(Export.readSnapshot(spark, out, v1).count() === docs.count())
    // a table with an unpartitioned epoch refuses partition-scoped DML
    val mixed = tmp("partoverwrite_mixed")
    rmDir(mixed)
    Export.appendSnapshot(spark, docs, mixed)
    intercept[IllegalArgumentException] {
      Export.overwritePartitions(spark, enReload, mixed, Seq("lang"))
    }
  }

  test("partition-scoped merge: only touched partitions rewritten; per-partition == global merge") {
    val out = tmp("partmerge")
    rmDir(out)
    val v1 = Export.appendSnapshot(spark, docs, out,
      Layout.Partitioned(Seq("lang"), nFiles = 3))
    val filesBefore = Export.snapshotFiles(out, v1)
    // updates touch ONLY lang=en: change some rows, insert new keys
    val updates = docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0)
      .withColumn("n_chars", col("n_chars") + lit(1000000L))
      .unionByName(spark.range(1).select(
        lit(999999L).as("doc_id"), lit("en").as("lang"),
        lit(42L).as("n_chars")))
    val v2 = Export.mergeSnapshotPartitioned(spark, out, updates,
      keyCols = Seq("lang", "doc_id"), partitionCols = Seq("lang"))
    val after = Export.readSnapshot(spark, out, v2)
    // per-partition merge ≡ global upsert
    val expected = Merge.upsert(docs, updates, Seq("lang", "doc_id"))
    assert(after.count() === expected.count())
    assert(after.exceptAll(expected).count() === 0 &&
      expected.exceptAll(after).count() === 0)
    // untouched partitions' files carried verbatim
    val carried = Export.snapshotFiles(out, v2).toSet
    val nonEnBefore = filesBefore.filterNot(_.contains("_p_lang=en"))
    assert(nonEnBefore.nonEmpty && nonEnBefore.forall(carried),
      "merge rewrote partitions its updates never touched")
    // the precondition that makes partition-scoping sound is enforced
    intercept[IllegalArgumentException] {
      Export.mergeSnapshotPartitioned(spark, out, updates,
        keyCols = Seq("doc_id"), partitionCols = Seq("lang"))
    }
  }

  test("partition-scoped compaction: target partition coalesces, others carried, rows identical") {
    val out = tmp("partcompact")
    rmDir(out)
    // erode one partition with several small appends (the streaming shape)
    val en = docs.filter(col("lang") === "en")
    val v1 = Export.appendSnapshot(spark, docs, out,
      Layout.Partitioned(Seq("lang"), nFiles = 2))
    (0 until 3).foreach { k =>
      Export.appendSnapshot(spark,
        en.filter(col("doc_id") % 3 === k)
          .withColumn("doc_id", col("doc_id") + lit(10000L * (k + 1))),
        out, Layout.Partitioned(Seq("lang"), nFiles = 2))
    }
    val vEroded = Export.latestSnapshotVersion(out)
    val before = Export.snapshotFiles(out, vEroded)
    val enBefore = before.count(_.contains("_p_lang=en"))
    val rowsBefore = Export.readSnapshot(spark, out, vEroded).collect()
      .map(_.toSeq).sortBy(_.toString)
    val vC = Export.compactSnapshotPartition(spark, out, Seq("lang"),
      Map("lang" -> "en"), nFiles = 1)
    val after = Export.snapshotFiles(out, vC)
    assert(after.count(_.contains("_p_lang=en")) < enBefore,
      s"en partition not compacted: $enBefore files before, " +
        s"${after.count(_.contains("_p_lang=en"))} after")
    // other partitions untouched: identical file paths
    val othersBefore = before.filterNot(_.contains("_p_lang=en")).toSet
    assert(after.filterNot(_.contains("_p_lang=en")).toSet === othersBefore)
    // rows byte-identical through the compaction
    val rowsAfter = Export.readSnapshot(spark, out, vC).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(rowsAfter.toSeq === rowsBefore.toSeq)
    // no-op filter: no matching files → current version returned, no commit
    assert(Export.compactSnapshotPartition(spark, out, Seq("lang"),
      Map("lang" -> "xx")) === vC)
    assert(Export.latestSnapshotVersion(out) === vC)
  }

  test("zone-pruned merge: only key-overlapping files rewritten, carried files byte-identical, result equals the global merge") {
    import spark.implicits._
    val out = tmp("zonemerge")
    rmDir(out)
    val base = (1L to 400L).map(i => (i, i * 10, 0L)).toDF("k", "v", "seq")
    val v1 = Export.appendSnapshot(spark, base, out,
      Layout.Clustered("k", nFiles = 8))
    val before = Export.snapshotFiles(out, v1)
    // a range-local CDC batch: updates keys 380..400, inserts 401..405,
    // one stale record that must lose
    val updates = ((380L to 400L).map(i => (i, i * 100, 5L)) ++
      (401L to 405L).map(i => (i, i * 100, 5L)) :+ ((390L, -1L, 1L)))
      .toDF("k", "v", "seq")
    val v2 = Export.mergeSnapshotClusteredLatest(spark, out, updates,
      Seq("k"), "k", Seq("seq"), nFiles = 2)
    val after = Export.snapshotFiles(out, v2)
    // most files carried VERBATIM (path identity), only the tail zone
    // (+ the fresh merged epoch) changed
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size >= 6,
      s"expected >=6 of ${before.size} files carried, got ${carried.size}")
    assert(after.size < before.size + 3)
    // result ≡ the GLOBAL order-resolved merge
    val got = Export.readSnapshot(spark, out, v2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val want = graft.operators.Merge.upsertLatest(base, updates,
        Seq("k"), Seq("seq"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    assert(got.find(_._1 == 390L).get._2 === 39000L,
      "stale update won against the order resolution")
    // a second range-local batch prunes against the REBUILT zones too
    val updates2 = Seq((1L, 999L, 9L)).toDF("k", "v", "seq")
    val v3 = Export.mergeSnapshotClusteredLatest(spark, out, updates2,
      Seq("k"), "k", Seq("seq"), nFiles = 1)
    val carried2 = Export.snapshotFiles(out, v3).toSet
      .intersect(Export.snapshotFiles(out, v2).toSet)
    assert(carried2.size >= 6)
    assert(Export.readSnapshot(spark, out, v3)
      .filter(col("k") === 1L).select("v").collect().head.getLong(0)
      === 999L)
    // empty batch: no commit, head unchanged
    assert(Export.mergeSnapshotClusteredLatest(spark, out,
      updates2.limit(0), Seq("k"), "k", Seq("seq")) === v3)
    // clusterKey must be part of the merge key (soundness precondition)
    intercept[IllegalArgumentException](
      Export.mergeSnapshotClusteredLatest(spark, out, updates2,
        Seq("k"), "v", Seq("seq")))
  }

  test("partition-scoped compaction on a MULTI-column layout keeps every partition column's spec (ADVICE r11: filtered subset must not narrow the layout)") {
    val out = tmp("partcompact2")
    rmDir(out)
    val two = docs.withColumn("half",
      (col("doc_id") % 2).cast("string"))
    val v1 = Export.appendSnapshot(spark, two, out,
      Layout.Partitioned(Seq("lang", "half"), nFiles = 2))
    // the helper recovers the FULL layout key set from the p= specs
    assert(Export.snapshotPartitionColumns(out, v1) ===
      Seq("lang", "half"))
    // compact filtered on ONE column but keyed on the full set (what
    // the CLI now passes): rewritten lines must still carry BOTH specs
    val vC = Export.compactSnapshotPartition(spark, out,
      Export.snapshotPartitionColumns(out, v1),
      Map("lang" -> "en"), nFiles = 1)
    val rewritten = Export.snapshotFiles(out, vC)
      .filterNot(Export.snapshotFiles(out, v1).toSet)
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(f => f.contains("_p_lang=") &&
      f.contains("_p_half=")), s"rewritten files lost a layout dim: " +
      rewritten.take(3).mkString(", "))
    // pruning on the UNFILTERED column still works across the rewrite
    val zeros = Export.readSnapshot(spark, out, vC)
      .filter(col("half") === "0").select("doc_id").collect()
      .map(_.getLong(0))
    assert(zeros.nonEmpty && zeros.forall(_ % 2 == 0))
    // and partition-scoped DML still accepts the table as consistent
    Export.compactSnapshotPartition(spark, out,
      Export.snapshotPartitionColumns(out, vC),
      Map("half" -> "1"), nFiles = 1)
  }

  test("z-ordered snapshots: box query prunes files on BOTH dims across epochs; OPTIMIZE ZORDER re-establishes") {
    val out = tmp("snapzorder")
    rmDir(out)
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0), out,
      Layout.Zordered("doc_id", "n_chars", 8))
    val v2 = Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 1), out,
      Layout.Zordered("doc_id", "n_chars", 8))
    val all = Export.readSnapshot(spark, out, v2)
    val box = all.filter(col("doc_id").between(50L, 220L) &&
      col("n_chars").between(100L, 260L))
    assert(scannedFiles(box).length < all.inputFiles.length,
      s"box pruned nothing: ${scannedFiles(box).length} of ${all.inputFiles.length}")
    val expected = docs.filter(col("doc_id").between(50, 220) &&
      col("n_chars").between(100, 260))
    assert(box.count() === expected.count())
    assert(box.exceptAll(expected).count() === 0 &&
      expected.exceptAll(box).count() === 0)
    // pruning is 2-D: a box narrow in the SECOND key alone still skips
    val bBox = all.filter(col("doc_id").between(0L, 10000L) &&
      col("n_chars").between(100L, 130L))
    assert(scannedFiles(bBox).length < all.inputFiles.length,
      "second-dimension selectivity pruned nothing")
    // OPTIMIZE ZORDER: one commit, rows identical, box pruning again —
    // asserted with a tight box (8 post-compaction files own coarse
    // zones; a third-of-the-space box may legitimately touch them all)
    val vC = Export.compactSnapshot(spark, out,
      layout = Some(Layout.Zordered("doc_id", "n_chars", 8)))
    val after = Export.readSnapshot(spark, out, vC)
    assert(after.count() === all.count())
    val tight = docs.filter(col("doc_id").between(50, 120) &&
      col("n_chars").between(100, 160))
    val boxC = after.filter(col("doc_id").between(50L, 120L) &&
      col("n_chars").between(100L, 160L))
    assert(boxC.count() === tight.count())
    assert(scannedFiles(boxC).length < after.inputFiles.length)
  }

  test("bloom manifests: no false negatives for ANY present key, needles skip files, absent needle reads ~nothing") {
    val out = tmp("snapbloom")
    rmDir(out)
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0), out,
      Layout.Bloomed("doc_id", nFiles = 8))
    val v2 = Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 1), out,
      Layout.Bloomed("doc_id", nFiles = 8))
    val all = Export.readSnapshot(spark, out, v2)
    val total = all.inputFiles.length
    // the no-false-negative LAW: every present key's lookup finds its row
    // (checked for every 7th key to keep the loop bounded)
    val keys = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 7 == 0)
    keys.foreach { id =>
      val got = all.filter(col("doc_id") === id)
      assert(got.count() === 1, s"bloom lost present key $id")
    }
    // needles actually skip files
    val needle = all.filter(col("doc_id") === 123L)
    assert(scannedFiles(needle).length < total,
      s"bloom pruned nothing: ${scannedFiles(needle).length} of $total")
    // an absent needle: 0 rows, and (modulo false positives) few files
    val absent = all.filter(col("doc_id") === 987654321L)
    assert(absent.count() === 0)
    assert(scannedFiles(absent).length < total,
      "absent needle read the whole table")
    // the format read plans through the same kernel, so it skips too
    val viaFormat = spark.read.format("graftlake").load(out)
      .filter(col("doc_id") === 123L)
    assert(viaFormat.count() === 1)
    assert(scannedFiles(viaFormat).length < total,
      s"format read pruned nothing: ${scannedFiles(viaFormat).length} of $total")
    // files without a filter for the queried key are always planned:
    // an unbloomed epoch joins the table and stays visible to lookups
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") === 123L)
        .withColumn("doc_id", lit(900000L)), out)
    val v3 = Export.latestSnapshotVersion(out)
    assert(Export.readSnapshot(spark, out, v3)
      .filter(col("doc_id") === 900000L)
      .count() === 1, "unbloomed file was wrongly pruned")
  }

  test("CHECK constraints: violations abort pre-write with counts, NULL passes, constraints inherit") {
    import spark.implicits._
    val out = tmp("snapcheck")
    rmDir(out)
    val good = Seq((1L, 10L), (2L, 20L)).toDF("id", "n")
    val v1 = Export.appendSnapshotChecked(spark, good, out,
      constraints = Map("n_positive" -> "n > 0", "id_set" -> "id < 1000"))
    assert(v1 === 1)
    // a violating batch aborts with the constraint's name and count...
    val bad = Seq((3L, -5L), (4L, 40L), (5L, -1L)).toDF("id", "n")
    val e = intercept[IllegalArgumentException] {
      Export.appendSnapshotChecked(spark, bad, out)
    }
    assert(e.getMessage.contains("n_positive") &&
      e.getMessage.contains("2 row(s)"), e.getMessage)
    // ...and NOTHING landed: same head, no new epoch files
    assert(Export.latestSnapshotVersion(out) === v1)
    assert(Export.readSnapshot(spark, out, v1).count() === 2)
    // inheritance: the second appender never restated the constraints —
    // the TABLE carries them (meta), and a NULL predicate value passes
    // (SQL CHECK rejects provable violations, not unknowns)
    val withNull = Seq((6L, Some(60L)), (7L, None))
      .toDF("id", "n")
    val v2 = Export.appendSnapshotChecked(spark, withNull, out)
    assert(Export.readSnapshot(spark, out, v2).count() === 4)
    assert(Export.snapshotMeta(out, v2).get("check_n_positive")
      === Some("n > 0"), "constraints must ride every commit's meta")
    // inherited enforcement still bites
    intercept[IllegalArgumentException] {
      Export.appendSnapshotChecked(spark,
        Seq((8L, 0L)).toDF("id", "n"), out)
    }
    // a maintenance commit carries no check_* headers — inheritance must
    // scan back past it, not read latest-only and silently drop the law
    Export.compactSnapshot(spark, out, nFiles = 1)
    intercept[IllegalArgumentException] {
      Export.appendSnapshotChecked(spark,
        Seq((9L, -9L)).toDF("id", "n"), out)
    }
    // an EMPTY checked batch commits cleanly (sum-over-nothing is zero
    // violations, not a null crash)
    val vE = Export.appendSnapshotChecked(spark,
      Seq.empty[(Long, Long)].toDF("id", "n"), out)
    assert(Export.readSnapshot(spark, out, vE).count() === 4)
  }

  test("shallow clone: zero data movement, stats carry, divergence isolated both ways") {
    import spark.implicits._
    val src = tmp("clonesrc"); val dst = tmp("clonedst")
    rmDir(src); rmDir(dst)
    val v1 = Export.appendSnapshot(spark, docs, src,
      Layout.Clustered("doc_id", 6))
    assert(Export.cloneSnapshot(src, dst) === 1)
    // identical rows, and the clone's manifest lists the SOURCE's files
    // (no epoch dir was created under the clone — planning-side only)
    val cloned = Export.readSnapshot(spark, dst, 1)
    assert(cloned.count() === docs.count())
    assert(Export.snapshotFiles(dst, 1).toSet ===
      Export.snapshotFiles(src, v1).toSet)
    val (dfs, droot) = Export.fsRoot(dst)
    assert(!dfs.listStatus(droot).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("epoch=")),
      "shallow clone wrote data")
    // stats tags carried: zone-pruned read works on the clone immediately
    val pruned = cloned.filter(col("doc_id").between(0L, 60L))
    assert(scannedFiles(pruned).length < cloned.inputFiles.length)
    // divergence: the clone takes DML the source never sees, and vice versa
    Export.deleteWhere(spark, dst, col("lang") === "en")
    assert(Export.readSnapshot(spark, dst,
      Export.latestSnapshotVersion(dst)).filter(col("lang") === "en")
      .count() === 0)
    assert(Export.readSnapshot(spark, src, v1).count() === docs.count())
    val v2 = Export.appendSnapshot(spark, docs.limit(3), src)
    assert(Export.latestSnapshotVersion(dst) === 2,
      "source append leaked into the clone's log")
    assert(Export.readSnapshot(spark, src, v2).count() === docs.count() + 3)
    // refuses to clobber an existing table
    intercept[IllegalArgumentException] {
      Export.cloneSnapshot(src, dst)
    }
    // the documented detach mitigation: compacting the clone rewrites
    // its tip into its OWN files, after which source retention can no
    // longer touch the clone's live data
    val vC = Export.compactSnapshot(spark, dst, nFiles = 2)
    val srcFiles = Export.snapshotFiles(src, v1).toSet
    assert(Export.snapshotFiles(dst, vC).forall(f => !srcFiles(f)),
      "compacted clone still references source files at its tip")
    assert(Export.readSnapshot(spark, dst, vC).count() ===
      docs.filter(col("lang") =!= "en").count())
  }

  test("per-column manifest stats: range read prunes on either column; unstatted lines always planned") {
    val out = tmp("snapstats")
    rmDir(out)
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0), out,
      Layout.Statted(Seq("doc_id", "n_chars"), nFiles = 8))
    val v2 = Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 1), out,
      Layout.Statted(Seq("doc_id", "n_chars"), nFiles = 8))
    val all = Export.readSnapshot(spark, out, v2)
    // clustered column: a narrow doc_id range skips files
    val byId = all.filter(col("doc_id").between(0L, 60L))
    assert(scannedFiles(byId).length < all.inputFiles.length)
    assert(byId.count() === docs.filter(col("doc_id").between(0, 60)).count())
    // conjunction: adding the second column can only shrink the plan
    val both = all.filter(col("doc_id").between(0L, 60L) &&
      col("n_chars").between(0L, 90L))
    assert(scannedFiles(both).length <= scannedFiles(byId).length)
    val expect = docs.filter(col("doc_id").between(0, 60) &&
      col("n_chars").between(0, 90))
    assert(both.count() === expect.count())
    assert(both.exceptAll(expect).count() === 0 &&
      expect.exceptAll(both).count() === 0)
    // an epoch appended WITHOUT stats is always planned by any range read
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") === 1L)
        .withColumn("doc_id", lit(500000L)), out)
    val v3 = Export.latestSnapshotVersion(out)
    assert(Export.readSnapshot(spark, out, v3)
      .filter(col("doc_id").between(500000L, 500000L)).count() === 1,
      "unstatted epoch wrongly pruned")
  }

  test("merge-on-read delete: no data rewrite, repeated deletes consolidate, compaction materializes, vacuum reclaims") {
    val out = tmp("snapmor")
    rmDir(out)
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0).repartition(4), out)
    val v2 = Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 1).repartition(4), out)
    val filesBefore = Export.snapshotFiles(out, v2).toSet
    val v3 = Export.deleteWhereMoR(spark, out, col("lang") === "en")
    // the commit re-points the SAME data files — no rewrite happened
    assert(Export.snapshotFiles(out, v3).toSet === filesBefore)
    assert(Export.readSnapshot(spark, out, v3).count() ===
      docs.filter(col("lang") =!= "en").count())
    // second delete consolidates: one DV generation, both predicates out
    val v4 = Export.deleteWhereMoR(spark, out, col("n_chars") < 100)
    val expect = docs.filter(col("lang") =!= "en" && col("n_chars") >= 100)
    val vis = Export.readSnapshot(spark, out, v4)
    assert(vis.count() === expect.count())
    assert(vis.exceptAll(expect).count() === 0 &&
      expect.exceptAll(vis).count() === 0)
    // time travel: the pre-delete version still reads every row
    assert(Export.readSnapshot(spark, out, v2).count() === docs.count())
    // CDC across the MoR delete sees the deleted rows, from manifests alone
    assert(Export.snapshotDiff(spark, out, v3, v4)
      .filter(col("_change") === "delete").count() ===
      docs.filter(col("lang") =!= "en" && col("n_chars") < 100).count())
    // a delete matching nothing new commits nothing
    assert(Export.deleteWhereMoR(spark, out, col("lang") === "zz") === v4)
    // compaction materializes the DVs: fresh manifest carries no dv= tag
    val v5 = Export.compactSnapshot(spark, out, 2)
    val manifestTxt = scala.io.Source.fromFile(
      new java.io.File(out, s"_v$v5.manifest")).mkString
    assert(!manifestTxt.contains("dv="), "compaction left dv tags behind")
    assert(Export.readSnapshot(spark, out, v5).count() === expect.count())
    // retention reclaims the now-unreferenced sidecars and old epochs
    Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.startsWith("dv=")) === 0,
      "vacuum left unreferenced DV dirs")
    assert(Export.readSnapshot(spark, out, v5).count() === expect.count())
  }

  test("merge-on-read delete: pruned reads apply DVs; vacuum keeps a referenced DV dir") {
    val out = tmp("snapmordv")
    rmDir(out)
    Export.appendSnapshot(spark, docs, out, Layout.Clustered("doc_id", 6))
    val v2 = Export.deleteWhereMoR(spark, out, col("doc_id") % 5 === 0)
    val pr = Export.readSnapshot(spark, out, v2)
      .filter(col("doc_id").between(0L, 100L))
    assert(pr.count() === docs.filter(col("doc_id").between(0, 100) &&
      col("doc_id") % 5 =!= 0).count(),
      "zone-pruned read ignored the deletion vector")
    // the surviving head references its DV dir: vacuum must keep it
    Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.startsWith("dv=")) === 1,
      "vacuum deleted a DV dir the head still references")
    assert(Export.readSnapshot(spark, out, v2).count() ===
      docs.filter(col("doc_id") % 5 =!= 0).count())
  }

  test("vacuum dry run: reports exactly what the real run then reclaims, touches nothing") {
    val out = tmp("snapdry")
    rmDir(out)
    Export.appendSnapshot(spark, docs.filter(col("doc_id") % 2 === 0), out)
    Export.appendSnapshot(spark, docs.filter(col("doc_id") % 2 === 1), out)
    Export.compactSnapshot(spark, out, 2)
    def listing: Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(out)).map(_.getPath).sorted
    }
    val before = listing
    val dry = Export.vacuumSnapshots(out, keep = 1, horizonMs = 0,
      dryRun = true)
    assert(listing === before, "dry run modified the table")
    assert(dry._1 === 2 && dry._2 > 0)
    val real = Export.vacuumSnapshots(out, keep = 1, horizonMs = 0)
    assert(real === dry, "dry-run report diverged from the real vacuum")
    assert(listing !== before)
  }

  test("metadata-only aggregates: provable counts/ranges match real reads; honesty rules refuse the unprovable") {
    val out = tmp("snapmeta")
    rmDir(out)
    Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0), out,
      Layout.Statted(Seq("doc_id", "n_chars"), nFiles = 4))
    val v2 = Export.appendSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 1), out,
      Layout.Statted(Seq("doc_id", "n_chars"), nFiles = 4))
    // provable: count and both ranges equal the scanned truth
    assert(Export.metadataCount(out, v2) === Some(docs.count()))
    val Some((lo, hi)) = Export.metadataRange(out, v2, "doc_id")
    val truth = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
    assert(lo === truth.getLong(0) && hi === truth.getLong(1))
    // a column never statted is not provable
    assert(Export.metadataRange(out, v2, "lang").isEmpty)
    // MoR delete: count subtracts exactly; range refuses under the DV
    val v3 = Export.deleteWhereMoR(spark, out, col("n_chars") < 150)
    assert(Export.metadataCount(out, v3) ===
      Some(docs.filter(col("n_chars") >= 150).count()))
    assert(Export.metadataRange(out, v3, "doc_id").isEmpty,
      "min/max under a deletion vector must refuse (extremum may be deleted)")
    // an untagged epoch poisons provability for the whole version
    val v4 = Export.appendSnapshot(spark, docs.limit(5), out)
    assert(Export.metadataCount(out, v4).isEmpty)
    assert(Export.metadataRange(out, v4, "doc_id").isEmpty)
  }

  test("schema evolution: committed schema unions, old files null-fill, old versions keep their narrow schema") {
    import spark.implicits._
    val out = tmp("evolve")
    rmDir(out)
    val v1 = Export.appendSnapshot(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), out)
    // evolve: new nullable column arrives with the new epoch
    val v2 = Export.appendSnapshotEvolved(spark,
      Seq((3L, "c", 30L)).toDF("id", "s", "score"), out)
    val evolved = Export.readSnapshot(spark, out, v2)
    assert(evolved.columns.toSeq === Seq("id", "s", "score"))
    val byId = evolved.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(byId === Map(1L -> None, 2L -> None, 3L -> Some(30L)),
      "old epoch's files must null-fill the evolved column")
    // the PRE-evolution version still time-travels with its own schema
    assert(Export.readSnapshot(spark, out, v1).columns.toSeq ===
      Seq("id", "s"))
    // a writer DROPPING a column is fine (its files null-fill)...
    val v3 = Export.appendSnapshotEvolved(spark,
      Seq((4L, 40L)).toDF("id", "score"), out)
    val r4 = Export.readSnapshot(spark, out, v3)
      .filter(col("id") === 4L).collect().head
    assert(r4.isNullAt(1) && r4.getLong(2) === 40L)
    // ...but RETYPING one is refused
    intercept[IllegalArgumentException] {
      Export.appendSnapshotEvolved(spark,
        Seq((5L, 1.5)).toDF("id", "score"), out)
    }
  }

  test("snapshotKeysOverlapping: the insert-only MERGE's existing-keys scan plans ONLY the files whose s= range overlaps the batch envelope (r13 item #7)") {
    import spark.implicits._
    val out = tmp("keysoverlap")
    graft.util.Dirs.deleteRec(new java.io.File(out))
    val base = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    Export.appendSnapshot(spark, base, out, Layout.Clustered("k", nFiles = 10))
    val entries = Export.snapshotManifestEntries(out, 1)
    assert(entries.length === 10 && entries.forall(_.stats.contains("k")))
    // batch confined to [100, 199]: only the file(s) whose k-range
    // overlaps can hold a blocking key
    val batch = spark.range(100, 200).selectExpr("id AS k")
    val keys = Export.snapshotKeysOverlapping(spark, out, 1,
      Seq("k"), batch)
    val planned = keys.inputFiles.toSet
    val overlapping = entries.filter(_.stats.get("k").exists {
      case (lo, hi) => hi >= 100L && lo <= 199L }).map(_.path).toSet
    assert(planned.size < entries.length,
      "envelope pruning must skip provably-disjoint files")
    assert(planned.size === overlapping.size,
      s"planned ${planned.size} files, expected ${overlapping.size}")
    // correctness: every distinct key of the planned files comes back
    val got = keys.as[Long].collect().toSet
    assert((100L until 200L).forall(got.contains))
    // degenerate batch (all-null envelope): every file scans — pruning
    // never proves what it can't
    val nullBatch = Seq[Option[Long]](None, None).toDF("k")
    val all = Export.snapshotKeysOverlapping(spark, out, 1,
      Seq("k"), nullBatch)
    assert(all.inputFiles.length === entries.length)
    assert(all.count() === 1000L)
  }

  test("snapshotKeysOverlapping with a TARGET-side ON residual (r15): the filter's conjuncts reach the excludes kernel — files the residual provably excludes never plan, and only residual-true incumbents block an insert") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = tmp("keysresid")
    graft.util.Dirs.deleteRec(new java.io.File(out))
    val base = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    Export.appendSnapshot(spark, base, out, Layout.Clustered("k", nFiles = 10))
    val entries = Export.snapshotManifestEntries(out, 1)
    // the batch's envelope covers the WHOLE table — without the
    // residual every file would plan; with `k < 100` only the low
    // file(s) can hold a residual-true (blocking) incumbent
    val batch = spark.range(0, 1000).selectExpr("id AS k")
    val keys = Export.snapshotKeysOverlapping(spark, out, 1,
      Seq("k"), batch, residual = Some(col("k") < 100))
    val planned = keys.inputFiles.toSet
    val expected = entries.filter(_.stats.get("k").exists {
      case (lo, _) => lo < 100L }).map(_.path).toSet
    assert(planned.size < entries.length,
      "the residual must shrink the planned set below the envelope's")
    assert(planned.size === expected.size,
      s"planned ${planned.size} files, expected ${expected.size}")
    // and the incumbents themselves are residual-FILTERED: a source
    // row keyed only to residual-false rows must not be blocked
    assert(keys.as[Long].collect().toSet === (0L until 100L).toSet)
  }
}
