package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Plan-shape assertions: lock in the scale properties the operators are
  * designed around — filter pushdown reaching the parquet scan, broadcast
  * joins for small sides, map-side partial aggregation, top-k without a
  * global sort, and LSH pipelines never degenerating into cross joins.
  * A regression here is a silent 100×-at-scale bug even when results stay
  * correct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1_agg: shipdate filter pushed to the scan; partial aggregation") {
    val p = plan(Analytics.q1_agg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // two HashAggregate levels = map-side partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q1_agg: scan reads only referenced columns") {
    val p = plan(Analytics.q1_agg(spark, sf))
    val readSchema = "ReadSchema: ([^\n]+)".r.findFirstMatchIn(p).map(_.group(1))
    assert(readSchema.exists(s => !s.contains("l_comment") && s.contains("l_quantity")),
      s"column pruning failed: $readSchema")
  }

  test("q5_join: fixed dims broadcast; no sf-proportional side is broadcast") {
    // With autoBroadcastJoinThreshold=-1 the only BroadcastExchanges left are
    // the explicit hints — which must be exactly the fixed-cardinality dims
    // (nation=25 rows, region=5). customer/supplier grow with the data: a
    // hard-coded broadcast there is a driver OOM at 100×.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Analytics.q5_join(spark, sf))
      assert("BroadcastExchange".r.findAllIn(p).size == 2,
        s"expected exactly the nation+region broadcast hints:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q3_topk/q_correlated: no broadcast hints on sf-proportional sides") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (df <- Seq(Analytics.q3_topk(spark, sf),
                     Analytics2.q_correlated(spark, sf))) {
        val p = plan(df)
        assert(!p.contains("BroadcastExchange"),
          s"sf-proportional side is hint-broadcast:\n$p")
      }
    }
  }

  test("q_correlated: AQE broadcasts the per-part aggregate at small SF") {
    // the design that replaced the hard-coded broadcast hint (r2): the
    // aggregate is sf-proportional, so the STATIC plan must not broadcast
    // it (asserted above), but AQE must still pick a broadcast join at
    // runtime when the aggregate turns out small — correct at both scales
    // must not mean slow at both
    val df = Analytics2.q_correlated(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), s"AQE plan not finalized:\n${p.take(500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not re-plan the per-part aggregate join as broadcast:\n${p.take(2000)}")
  }

  test("dedup_exact: digest-keyed loser mining; text crosses no shuffle") {
    // payload-light exact dedup: the loser-mining window shuffles only
    // (digest, key); the anti-join side is AQE-broadcast. Run on a frame
    // that KEEPS the document column so the assertion is about the
    // operator, not about downstream column pruning.
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("fp", Dedup.fingerprint(col("text")))
    val df = Dedup.exactPayloadLight(docs, col("fp"), col("doc_id"))
    df.collect() // finalize the adaptive plan
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted explain lists each node's Input: no Exchange node may
    // carry the text column — that's the 100×-scale regression this locks
    val nodes = fmt.split("\n\n")
    val exchanges = nodes.filter(_.linesIterator.toSeq.headOption
      .exists(h => h.matches("""\(\d+\) Exchange.*""")))
    assert(exchanges.nonEmpty, s"no Exchange nodes found in:\n${fmt.take(2000)}")
    for (e <- exchanges) {
      val input = e.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"),
        s"document bytes cross a shuffle exchange:\n$e")
      assert(input.contains("fp#") || input.contains("_graft_dg#"),
        s"exchange not over the digest projection:\n$e")
    }
    // AQE must pick a broadcast anti-join at small SF (the loser set is
    // tiny); the static plan carries no hard-coded hint, so at 100× a
    // huge loser set degrades to a shuffled anti-join instead of OOMing
    assert(fmt.contains("BroadcastHashJoin") && fmt.contains("LeftAnti"),
      s"anti-join not broadcast at small SF:\n${fmt.take(2000)}")
  }

  test("curation_pipeline dedup stage: no text column crosses an exchange") {
    // the composed cleanup→filter→payload-light-dedup plan (the part the
    // pipeline scratch-checkpoints): loser mining shuffles only the
    // (fp, doc_id) projection — neither raw text nor cleaned ctext may
    // appear in ANY Exchange input, or a 100 TB run shuffles the corpus
    val df = graft.queries.Curation.curationDedupedPlan(spark, sf)
    df.collect() // finalize the adaptive plan
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val nodes = fmt.split("\n\n")
    val exchanges = nodes.filter(_.linesIterator.toSeq.headOption
      .exists(h => h.matches("""\(\d+\) Exchange.*""")))
    assert(exchanges.nonEmpty, s"no Exchange nodes found in:\n${fmt.take(2000)}")
    for (e <- exchanges) {
      val input = e.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#") && !input.contains("ctext#"),
        s"document bytes cross a shuffle exchange:\n$e")
    }
  }

  test("dedup_minhash_md5: banded equi-join, never a nested-loop pair scan") {
    // the cross-engine miner must keep the production miner's banded
    // shape: an OR-of-band-equalities condition would silently plan as
    // BroadcastNestedLoopJoin — O(N²) pair evaluation at corpus scale
    val p = plan(Curation.dedup_minhash_md5(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"banded join fell back to a pair scan:\n${p.take(2000)}")
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinLine.exists(_.contains("_b")),
      s"join not keyed on the band struct:\n${joinLine.getOrElse(p.take(1500))}")
  }

  test("dedup_semantic: within-cell pairing is a cell-keyed equi-join") {
    // SemDeDup's scale contract is that pair work is bounded by the cell
    // partition — a plan regression to a cross join is the O(n²) failure
    // the clustering exists to prevent
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
    val p = plan(graft.operators.Similarity.semDedupPairs(
      emb, "embedding", "vec_id", tau = 0.4, nlist = 8))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"semantic pairing fell back to a pair scan:\n${p.take(2000)}")
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinLine.exists(_.contains("_cell")),
      s"pairing not keyed on the cell id:\n${joinLine.getOrElse(p.take(1500))}")
  }

  test("vector operators: no interpreted higher-order function in the plan") {
    // a lambda (aggregate/transform/zip_with) is evaluated per element,
    // every double boxed — the per-row vector math of these operators
    // must stay on the VecOps kernels
    import graft.operators.Similarity
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val frames = Seq(
      "semDedupPairs" -> Similarity.semDedupPairs(emb, "embedding", "vec_id",
        tau = 0.95, nlist = 8),
      "ivfPqIndex" -> Similarity.ivfPqIndex(emb, "embedding", "vec_id",
        nlist = 8).coded,
      "pqIndex" -> Similarity.pqIndex(emb, "embedding", "vec_id").encoded,
      "cosine" -> emb.select(Similarity.cosine(col("embedding"), col("embedding"))))
    for ((name, df) <- frames) {
      val hofs = df.queryExecution.analyzed.collect { case n => n }
        .flatMap(_.expressions.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName }))
      assert(hofs.isEmpty, s"$name evaluates lambdas: ${hofs.mkString(", ")}")
    }
  }

  test("dedup_semantic_md5: within-cell pairing stays a cell-keyed equi-join") {
    // the cross-engine twin must keep the SemDeDup scale shape: pair work
    // bounded by the cell equi-join, never a nested-loop pair scan
    val p = plan(Curation.dedup_semantic_md5(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"semantic md5 twin fell back to a pair scan:\n${p.take(2000)}")
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinLine.exists(_.contains("_cell")),
      s"pairing not keyed on the cell id:\n${joinLine.getOrElse(p.take(1500))}")
  }

  test("ann_ivf_md5: probed-cell filter prunes before the top-k; no join at all") {
    // the IVF twin is a filter+scan+TakeOrdered — any Join in the plan
    // means the centroid lookup degenerated into a distributed join
    val p = plan(Curation.ann_ivf_md5(spark, sf))
    assert(!p.contains("Join"), s"IVF twin should be join-free:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not a TakeOrdered:\n${p.take(1500)}")
  }

  test("q_range_join: interval containment via banded equi-join, no pair scan") {
    val p = plan(Temporal.q_range_join(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"range join planned as a pair scan:\n${p.take(2000)}")
  }

  test("q_asof_join: one key shuffle, no join at all") {
    // the union-window as-of: the only exchanges are the key partition for
    // the window (+AQE coalesce) — a Join/BNLJ in the plan means the
    // quadratic formulation crept back
    val p = plan(Temporal.q_asof_join(spark, sf))
    assert(!p.contains("Join"), s"as-of should be window-only:\n${p.take(2000)}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size >= 1,
      s"window not keyed by user:\n${p.take(1500)}")
  }

  test("q_skew_join: the salt is part of the shuffle/join key") {
    // the whole point of salting: the hot key's rows spread over `salts`
    // reducers, so _salt must appear in the join's equi-key expressions
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Analytics2.q_skew_join(spark, sf))
      val joinLine = p.linesIterator.find(_.contains("SortMergeJoin"))
        .orElse(p.linesIterator.find(_.contains("ShuffledHashJoin")))
      assert(joinLine.exists(_.contains("_salt")),
        s"salt not in the join key:\n${joinLine.getOrElse(p.take(1500))}")
    }
  }

  private def withConf(kv: (String, String))(body: => Unit): Unit = {
    val prev = spark.conf.get(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally spark.conf.set(kv._1, prev)
  }

  test("q3_topk: top-k via TakeOrderedAndProject, not a global sort") {
    val p = plan(Analytics.q3_topk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("LSH miners: band joins stay equi-joins — never cross joins") {
    import graft.util.Tables
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    for (df <- Seq(
        graft.operators.Dedup.minhashPairs(docs, "text", "doc_id",
          threshold = 0.35),
        graft.operators.Dedup.simhashPairs(docs, "text", "doc_id"),
        graft.operators.Dedup.embeddingNearDup(emb, "embedding", "vec_id",
          planes = 3, threshold = 0.25, tables = 2))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"LSH degenerated into a cross join:\n${p.take(2000)}")
    }
  }

  test("LSH miners: hot-bucket salt guard is welded into the join key") {
    // The salt-split guard (Dedup.withBucketSalt) runs a PLAN-TIME hot
    // probe: with no bucket over the cap the salt is a constant and the
    // plan is the unguarded plan (asserted below — the common corpus must
    // not pay for the guard); with hot buckets the `_salt` equality must
    // survive into the join key or the guard silently reverts to the B²
    // blowup. bucketCap=1 makes the real corpus's duplicate buckets hot.
    import graft.util.Tables
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    val sigs = graft.operators.Dedup.minhashSignaturesPacked(
      docs, "text", "doc_id")
    for (df <- Seq(
        graft.operators.Dedup.minhashPairsFromPackedSignatures(sigs,
          bucketCap = 1),
        graft.operators.Dedup.crossMinhashPairsFromPackedSignatures(
          sigs, sigs, bucketCap = 1),
        graft.operators.Dedup.simhashPairsFromSketches(
          graft.operators.Dedup.simhashSketches(docs, "text", "doc_id"),
          maxHamming = 8, bucketCap = 1),
        graft.operators.Dedup.embeddingNearDup(emb, "embedding", "vec_id",
          planes = 3, threshold = 0.25, tables = 2, bucketCap = 1))) {
      val p = plan(df)
      assert(p.contains("_salt"),
        s"hot-bucket salt missing from the physical plan:\n${p.take(2000)}")
    }
    // ...and the probe's no-hot fast path: at the default cap the sane
    // corpus plan carries NO salt join machinery (constant folded away)
    // and no per-bucket aggregate — the guard is free when not needed
    val clean = plan(
      graft.operators.Dedup.minhashPairsFromPackedSignatures(sigs))
    assert(!clean.contains("_hb"),
      s"no-hot path still joins the hot-bucket list:\n${clean.take(2000)}")
  }

  test("bucketed tables co-locate the fact join: no exchange on either side") {
    import graft.util.Tables
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("planspec-wh")
    spark.sql("CREATE DATABASE IF NOT EXISTS plan_bkt")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // tiny test tables would broadcast; disable so the plan shows the
    // bucket-co-location SMJ a 100 TB fact-fact join would use
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the 100 TB pattern: persist both fact tables bucketed by the join
      // key; the join then needs no shuffle at all (only a local sort)
      Tables.load(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").mode("overwrite")
        .saveAsTable("plan_bkt.li_b")
      Tables.load(spark, sf, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord_b").mode("overwrite")
        .saveAsTable("plan_bkt.ord_b")
      val joined = spark.table("plan_bkt.li_b")
        .join(spark.table("plan_bkt.ord_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum("l_quantity").as("qty"))
      val p = joined.queryExecution.executedPlan.toString
      // SortMergeJoin directly over the bucketed scans — zero Exchange
      // below the join (the single exchange allowed is the final groupBy)
      assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
      val belowJoin = p.substring(p.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange"),
        s"bucketed join still shuffles:\n$belowJoin")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS plan_bkt.li_b")
      spark.sql("DROP TABLE IF EXISTS plan_bkt.ord_b")
      spark.sql("DROP DATABASE IF EXISTS plan_bkt")
    }
  }

  test("sequence packing: exactly one data shuffle (the bucket exchange)") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, (i % 40 + 1).toLong))
      .toDF("doc_id", "n_tokens")
    val p = plan(graft.operators.Packing
      .packSequences(docs, "doc_id", "n_tokens", buckets = 4, budget = 64L)
      .toDF())
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly the bucket exchange:\n$p")
    assert(p.contains("MapGroups"), s"expected the streaming group walk:\n$p")
  }

  test("import pipeline scan: dump parse fuses into one codegen stage") {
    // the aligned projection (permute+cast+row-id) must be a narrow chain:
    // no Exchange between the parse RDD scan and the final projection
    val d = java.nio.file.Files.createTempDirectory("planspec").toFile
    java.nio.file.Files.writeString(
      new java.io.File(d, "p.t.sql").toPath,
      "INSERT INTO `t` VALUES (1,'a'),(2,'b');\n")
    val table = graft.sources.MysqlDdl.parseCreateTable(
      "CREATE TABLE `t` (`id` int(11) NOT NULL, `v` varchar(8))")
    val raw = spark.read.format("sqldump")
      .load(new java.io.File(d, "p.t.sql").getAbsolutePath)
    val aligned = graft.operators.SchemaAlign.fromArrayPerStatement(
      raw, org.apache.spark.sql.functions.col("vals"),
      org.apache.spark.sql.functions.col("stmt_cols"), table,
      graft.operators.SqlMode.Lenient)
    val p = plan(aligned)
    assert(!p.contains("Exchange"), s"unexpected shuffle in align chain:\n$p")
  }

  test("per-statement align: the row probe is hoisted below small, " +
      "JIT-compilable codegen'd casts") {
    // the 15-column lineitem shape of the ingest benchmark; each column's
    // lenient cast tree references its value several times, so the probe
    // (statement-list lookup per column) must be an attribute there, not
    // an inlined subtree (~900 nodes per column when it was)
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.functions.col
    val table = graft.sources.MysqlDdl.parseCreateTable(
      """CREATE TABLE `lineitem` (
        |  `l_orderkey` bigint(20) NOT NULL,
        |  `l_linenumber` int(11) NOT NULL,
        |  `l_partkey` bigint(20) NOT NULL,
        |  `l_suppkey` int(11) NOT NULL,
        |  `l_quantity` decimal(15,2) NOT NULL,
        |  `l_extendedprice` decimal(15,2) NOT NULL,
        |  `l_discount` decimal(15,2) NOT NULL,
        |  `l_tax` decimal(15,2) NOT NULL,
        |  `l_returnflag` char(1) NOT NULL,
        |  `l_linestatus` char(1) NOT NULL,
        |  `l_shipdate` date NOT NULL,
        |  `l_commitdate` date NOT NULL,
        |  `l_shipinstruct` varchar(25) NOT NULL,
        |  `l_shipmode` varchar(10) NOT NULL,
        |  `l_comment` varchar(64) DEFAULT NULL,
        |  PRIMARY KEY (`l_orderkey`,`l_linenumber`)
        |)""".stripMargin)
    val d = java.nio.file.Files.createTempDirectory("planspec-li").toFile
    val f = new java.io.File(d, "bench.lineitem.00000.sql")
    java.nio.file.Files.writeString(f.toPath, "INSERT INTO `lineitem` VALUES " +
      "(1,1,2,3,4.00,5.00,0.01,0.02,'A','F','1995-01-01','1995-02-01'," +
      "'NONE','AIR','x y');\n")
    val raw = graft.sources.SqlDumpSource.readChunkedSized(spark,
      Seq((f.getAbsolutePath, f.length)))
    val aligned = graft.operators.SchemaAlign.fromArrayPerStatement(raw,
      col("vals"), col("stmt_cols"), table, graft.operators.SqlMode.Lenient,
      keep = Seq(col("src_file").as("_src_file"), col("row_idx").as("_row_idx")),
      kindsCol = Some(col("kinds")), emitExplicitRowId = true)
    val n = table.columns.size
    val sizes = aligned.queryExecution.analyzed.collect {
      case p: Project => p.projectList.map(_.collect { case e => e }.size).sum
    }
    // the first collected Project is the top one: the cast projection
    assert(sizes.head < 60 * n, s"cast projection ${sizes.head} nodes for $n columns")
    assert(sizes.sum < 100 * n, s"align projections ${sizes.mkString("+")} nodes")
    val names = table.columns.map(_.name).toSet
    val exec = aligned.queryExecution.executedPlan
    val stages = exec.collect { case w: WholeStageCodegenExec => w }
    val fused = stages.flatMap(_.child.collect { case p: ProjectExec => p })
    assert(fused.exists(p => names.subsetOf(p.output.map(_.name).toSet)),
      s"cast projection outside whole-stage codegen:\n$exec")
    // and every generated method stays JIT-compilable (HotSpot leaves
    // methods over 8,000 bytecode bytes to the interpreter)
    for (w <- stages) {
      val (_, code) = w.doCodeGen()
      val (_, stats) = org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize < 8000,
        s"stage ${w.codegenStageId}: a ${stats.maxMethodCodeSize}-byte method")
    }
    assert(aligned.collect().map(_.getDecimal(6)).toSeq ===
      Seq(new java.math.BigDecimal("4.00")))
  }

  test("txt_redact: pure scan — no exchange, regexes inside one codegen stage") {
    val p = plan(Curation.txt_redact(spark, sf))
    assert(!p.contains("Exchange"), s"redaction must be a narrow map:\n$p")
    // `*(n)` node prefixes are the WholeStageCodegen markers in toString
    assert(p.contains("*(1)"), s"redaction fell out of codegen:\n$p")
  }

  test("txt_bm25: stats ride ONE broadcast; no per-term shuffle") {
    val p = plan(Curation.txt_bm25(spark, sf))
    assert("BroadcastExchange".r.findAllIn(p).size === 1,
      s"expected exactly the one-row stats broadcast:\n$p")
    // scoring side: scan → project; the only ShuffleExchanges allowed are
    // the single-row stats aggregation's own partial/final pair
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1 &&
      !p.contains("Exchange hashpartitioning"),
      s"unexpected per-term/doc shuffle:\n$p")
  }

  test("txt_spandedup: whole documents never shuffle; dup join-back broadcasts") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = Dedup.spanDedup(docs, "text", "doc_id", window = 64)
    df.collect() // finalize the adaptive plan
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // chunks cross exchanges (mining is digest-keyed, reassembly moves each
    // chunk once); the FULL document column must never enter any exchange —
    // that's the difference between shuffling the corpus once-as-chunks and
    // twice (whole docs + chunks) at 100 TB
    val nodes = fmt.split("\n\n")
    val exchanges = nodes.filter(_.linesIterator.toSeq.headOption
      .exists(h => h.matches("""\(\d+\) Exchange.*""")))
    assert(exchanges.nonEmpty, s"no Exchange nodes in:\n${fmt.take(2000)}")
    for (e <- exchanges) {
      val input = e.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("_t#") && !input.contains("text#"),
        s"whole-document bytes cross a shuffle exchange:\n$e")
    }
    // the ≥2-occurrence digest set is tiny at real dup rates: AQE must pick
    // a broadcast join for the join-back (no hard-coded hint — a pathological
    // all-duplicates corpus degrades to a shuffled join instead of OOMing)
    assert(fmt.contains("BroadcastHashJoin"),
      s"dup join-back not broadcast at small SF:\n${fmt.take(2000)}")
    assert(!fmt.contains("CartesianProduct"), s"cartesian in:\n${fmt.take(2000)}")
  }

  test("txt_lmscore: count-table joins stay equi; only the 1-row totals cross-joins") {
    val p = plan(Curation.txt_lmscore(spark, sf))
    // the unigram/bigram count joins must plan as hash equi-joins (broadcast
    // or shuffled — AQE's call); the ONLY nested-loop allowed is the
    // broadcast of the single-row totals aggregate
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"more than the one-row totals cross-join:\n$p")
    assert(p.contains("HashJoin"), s"count joins not hash joins:\n$p")
  }

  test("q_order_shuffle: global order comes from sharded windows, never a " +
      "single-partition sort") {
    val p = plan(Temporal.q_order_shuffle(spark, sf))
    // the whole point of (shard, pos): the epoch permutation must come
    // from 16 parallel per-shard windows — a SinglePartition exchange
    // before the window would funnel 100 TB through one task. (The final
    // presentation orderBy plans a rangepartitioning sort; that one is
    // the gate's output ordering, not the permutation machinery.)
    val windowIdx = p.indexOf("Window")
    assert(windowIdx >= 0, s"no window in:\n$p")
    val beforeWindow = p.substring(windowIdx)
    assert(!beforeWindow.contains("Exchange SinglePartition"),
      s"single-partition exchange feeds the permutation window:\n$p")
    assert(beforeWindow.contains("hashpartitioning"),
      s"window not fed by a hash exchange on the shard:\n$p")
  }

  test("connectedComponents rounds: hash-keyed exchanges only, no cartesian") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (0L until 32L).map(i => (i, i + 1L)).toDF("a", "b")
    // one large-star round, planned: the join of per-key mins back onto the
    // symmetrized edges must never degenerate into a nested-loop/cartesian
    val sym = edges.select(col("a").as("_u"), col("b").as("_v"))
      .union(edges.select(col("b").as("_u"), col("a").as("_v")))
    val mins = sym.groupBy("_u").agg(least(min(col("_v")), col("_u")).as("_m"))
    val p = plan(sym.join(mins, "_u").filter(col("_v") > col("_u"))
      .select(col("_v").as("_u"), col("_m").as("_v")).distinct())
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"star round degenerated:\n$p")
  }

  test("txt_vocab: top-k via TakeOrdered after one count shuffle, no global sort") {
    val p = plan(Curation.txt_vocab(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k fell back to a global sort:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly the token-count shuffle:\n$p")
  }

  test("emb_cluster assignment: vectors never shuffle; only agg partials do") {
    val p = plan(Curation.emb_cluster(spark, sf))
    // the per-row 16-distance argmin is a narrow projection feeding the
    // one-row aggregate. The ONLY hash exchange allowed is countDistinct's
    // partial-row shuffle keyed on _cell (≤16 rows per partition) — the
    // packed vectors (_p) must never enter any exchange.
    val exchanges = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toList
    assert(exchanges.forall(_.contains("_cell")),
      s"unexpected non-_cell hash exchange:\n$p")
    assert(!exchanges.exists(_.contains("_p")),
      s"packed vectors entered a shuffle:\n$p")
  }

  test("HLL registers: one partial+final hash-agg pair, one exchange, no rows leak") {
    import org.apache.spark.sql.functions.col
    val li = graft.util.Tables.load(spark, sf, "lineitem")
    val p = plan(graft.operators.Sketches.hllRegisters(
      li, Seq("l_returnflag"), col("l_orderkey"), 64))
    // the map side must combine to ≤ m register rows per (group, task)
    // BEFORE the exchange — at 100 TB the shuffle carries sketch cells,
    // not the distinct universe
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in HLL build:\n$p")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"HLL build should shuffle exactly once:\n$p")
    assert(!p.contains("Sort "), s"unexpected sort in HLL build:\n$p")
  }

  test("SQL-seam HLL registers: same one-exchange partial+final shape as the DataFrame kernel") {
    graft.GraftExtensions.register(spark)
    graft.util.Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_orderkey")
      .createOrReplaceTempView("planspec_hll_seam")
    val p = plan(spark.sql(
      """SELECT l_returnflag, hll_bucket(l_orderkey, 64) AS bucket,
        |  max(hll_rho(l_orderkey, 64)) AS r
        |FROM planspec_hll_seam
        |GROUP BY l_returnflag, hll_bucket(l_orderkey, 64)""".stripMargin))
    // the SQL functions expand to the same codegen'd arithmetic — the
    // register build must keep the map-side-combine + single-exchange
    // shape; a seam that compiled to a UDF would lose the partial agg
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in seam HLL build:\n$p")
    assert("Exchange".r.findAllIn(p).size === 1,
      s"seam HLL build should shuffle exactly once:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"seam compiled to a UDF:\n$p")
  }

  test("keyed CDC: one full-outer key join, explode-classified — the join is not re-executed per change class") {
    import org.apache.spark.sql.functions.col
    val out = new java.io.File(new java.io.File("target", "qtmp"),
      "planspec_cdc").getAbsolutePath
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(out))
    val docs = graft.util.Tables.load(spark, sf, "documents")
      .select("doc_id", "n_chars")
    val v1 = graft.operators.Export.replaceSnapshot(spark,
      docs.filter(col("doc_id") % 2 === 0), out)
    val v2 = graft.operators.Export.replaceSnapshot(spark,
      docs.filter(col("doc_id") % 3 === 0), out)
    val p = plan(graft.operators.Export.snapshotDiffKeyed(
      spark, out, v1, v2, Seq("doc_id")))
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size
    assert(joins === 1,
      s"keyed CDC must classify off ONE join, found $joins:\n$p")
    assert(p.contains("Generate explode"),
      s"expected explode-based fanout:\n$p")
  }

  test("APSS: no text in any exchange; candidate join is a token equi-join") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text")
    val postings = graft.operators.Dedup.tfidfPostings(docs, "doc_id", "text")
    val p = plan(graft.operators.Dedup.sparseAllPairs(postings, 9, 10))
    // document payloads must never cross a shuffle: every exchange carries
    // postings-shaped columns (id/tok/df/w and derived), never `text`
    val exchanges = "Exchange [^\n]+".r.findAllIn(p).toList
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"document text entered an exchange:\n$p")
    // the candidate self-join and the verify join must be token equi-joins
    // — never a cartesian. (BroadcastNestedLoopJoin appears exactly once
    // per postings branch: the 1-row corpus-count broadcast in
    // tfidfPostings, the BM25 stats idiom — a 1-row build side is not an
    // all-pairs scan.)
    assert(!p.contains("CartesianProduct"),
      s"APSS degenerated into an all-pairs join:\n$p")
    assert("Join [^\n]*tok".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\([^)]*tok".r.findFirstIn(p).isDefined,
      s"no token equi-join found in APSS plan:\n$p")
  }

  test("upsert: ONE full-outer equi-join on the key, nothing degenerate") {
    val p = plan(Analytics2.q_upsert(spark, sf))
    assert("FullOuter".r.findAllIn(p).size === 1,
      s"expected exactly one full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"upsert degenerated into an all-pairs join:\n$p")
  }

  test("funnel: chained user-keyed equi-joins, no cartesian, partial aggs") {
    val p = plan(Events.q_funnel(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"funnel degenerated into an all-pairs join:\n$p")
    // every funnel step min-aggregates map-side before its shuffle
    assert("partial_min".r.findAllIn(p).size >= 2,
      s"funnel steps lost map-side partial aggregation:\n$p")
  }

  test("CMS sketch: partial-combined agg; exchange carries (row,col) cells only") {
    import org.apache.spark.sql.functions.{col, explode, split, trim}
    val toks = graft.util.Tables.load(spark, sf, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val p = plan(graft.operators.Sketches.cmsCounts(toks, "tok", 4, 256))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in CMS build:\n$p")
    val exchanges = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toList
    assert(exchanges.size === 1 && exchanges.head.contains("row") &&
      exchanges.head.contains("col") && !exchanges.head.contains("tok"),
      s"CMS exchange must be keyed on sketch cells, not tokens:\n$p")
  }
}
