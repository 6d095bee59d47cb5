package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** `curate_dedup` — why it exists: the curation operators and their
  * codegen kernels (`functions.*`), plus the driver-side k-means training
  * that no ingest or lake workload runs. A `documents` corpus with seeded
  * planted duplicates (exact copies and perturbed near-copies) and an
  * `embeddings` corpus with seeded planted near-neighbours go through, in
  * order: `Dedup.exact`, `Dedup.minhashSignaturesPacked` →
  * `minhashPairsFromPackedSignatures`, `Similarity.semDedupPairs`,
  * `Similarity.ivfPqIndex` and a batch of `ivfPqTopK` probes. The
  * operators are called directly, not through the `queries.Curation`
  * gates, whose train-once cache would turn every pass after the first
  * into a cache hit. This is also the workload where candidate mining for
  * semantic dedup dominates.
  *
  * Stresses: operators (Dedup, Similarity) and the functions kernels.
  * Bypasses: sources, sinks, the import pipeline and the lake.
  *
  * Checks: every planted exact duplicate is removed by `Dedup.exact`
  * (and nothing else is), and every probe whose query is a corpus vector
  * returns itself at rank 1. */
object CurateDedup extends Workload {
  val name = "curate_dedup"
  // the operators' driver-side code is still getting faster on the
  // second pass
  override val warmups = 2
  // a pass is ~4 s and mostly driver-side work; the median of three
  // passes holds against one slowed by a busy host
  override val minMeasured = 3
  // its jobs are a few short tasks each, while the driver thread, the
  // JIT and the collector keep the rest of the process busy: two task
  // threads leave cores for them
  override val maxCores = 2
  private val Docs = 3000L
  private val ExactDups = 100L
  private val NearDups = 100L
  private val Vectors = 2000L
  private val NearVecs = 100L
  private val Dim = 32
  private val Probes = 3
  private val DocWords = 48

  /** The source doc a planted duplicate copies. */
  private def srcOf(seed: Long, id: Column): Column =
    Common.rnd(seed, 81, id, Docs)

  /** Words of doc `src`, with the word at each position in `swap`
    * replaced by one unique to doc `id` (a near-duplicate's
    * perturbation). */
  private def text(seed: Long, src: Column, id: Column,
      swap: Seq[Column]): Column = {
    val words = transform(sequence(lit(0), lit(DocWords - 1)), i => {
      val w = concat(lit("w"), pmod(xxhash64(lit(seed), src, i), lit(5000L)))
      swap.foldLeft(w)((acc, p) => when(i === p, concat(lit("z"), p, lit("x"), id))
        .otherwise(acc))
    })
    array_join(words, " ")
  }

  def documents(spark: org.apache.spark.sql.SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val exact = id >= Docs && id < Docs + ExactDups
    val near = id >= Docs + ExactDups
    spark.range(0, Docs + ExactDups + NearDups, 1, 4).select(
      id.as("doc_id"),
      when(exact, text(seed, srcOf(seed, id), id, Nil))
        .when(near, text(seed, srcOf(seed, id), id, Seq(
          Common.rnd(seed, 82, id, DocWords).cast("int"),
          Common.rnd(seed, 83, id, DocWords).cast("int"))))
        .otherwise(text(seed, id, id, Nil)).as("text"),
      lit("en").as("lang"))
  }

  def embeddings(spark: org.apache.spark.sql.SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val near = id >= Vectors
    val base = when(near, Common.rnd(seed, 84, id, Vectors)).otherwise(id)
    spark.range(0, Vectors + NearVecs, 1, 4).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), i =>
        ((pmod(xxhash64(lit(seed), base, i), lit(20001L)) - 10000) / 10000.0 +
          when(near, (pmod(xxhash64(lit(seed), id, i), lit(201L)) - 100) / 10000.0)
            .otherwise(lit(0.0))).cast("float")).as("embedding"))
  }

  def setup(ctx: Ctx): Unit = {
    documents(ctx.spark, ctx.seed).write.parquet(ctx.path("documents"))
    embeddings(ctx.spark, ctx.seed).write.parquet(ctx.path("embeddings"))
  }

  /** Planted (source, copy) pairs: exact and near document copies. */
  private def plantedDocPairs(ctx: Ctx): Set[(Long, Long)] =
    ctx.spark.range(Docs, Docs + ExactDups + NearDups)
      .select(srcOf(ctx.seed, col("id")), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def plantedVecPairs(ctx: Ctx): Set[(Long, Long)] =
    ctx.spark.range(Vectors, Vectors + NearVecs)
      .select(Common.rnd(ctx.seed, 84, col("id"), Vectors), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def queryIds(seed: Long): Seq[Long] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    Seq.fill(Probes)(r.nextLong(Vectors + NearVecs)).distinct
  }

  def pass(ctx: Ctx): PassOut = {
    val spark = ctx.spark
    val docs = spark.read.parquet(ctx.path("documents"))
    val emb = spark.read.parquet(ctx.path("embeddings"))
    val ops = Seq.newBuilder[(String, Double)]
    def op[T](k: String)(body: => T): T = {
      val (r, ms) = Common.timedMs(ctx.span(s"curate.$k")(body))
      ops += k -> ms
      r
    }
    val survivors = op("exact") {
      Dedup.exact(docs.withColumn("fp", Dedup.fingerprint(col("text"))),
        col("fp"), col("doc_id")).select("doc_id").collect().map(_.getLong(0))
    }
    val sigs = Dedup.minhashSignaturesPacked(docs, "text", "doc_id").persist()
    op("minhash_sigs")(Common.noop(sigs))
    val pairs = op("minhash_pairs") {
      Dedup.minhashPairsFromPackedSignatures(sigs).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    sigs.unpersist()
    val semPairs = op("semdedup") {
      Similarity.semDedupPairs(emb, "embedding", "vec_id", tau = 0.95).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val idx0 = op("ivfpq_index") {
      val i = Similarity.ivfPqIndex(emb, "embedding", "vec_id")
      val coded = i.coded.persist()
      Common.noop(coded)
      i.copy(coded = coded)
    }
    val queries = emb.filter(col("vec_id").isin(queryIds(ctx.seed): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val top = queries.toSeq.map { case (q, v) =>
      q -> op("ivfpq_probe") {
        Similarity.ivfPqTopK(idx0, emb, "embedding", "vec_id", v, k = 5)
          .collect().map(_.getLong(0)).toSeq
      }
    }
    idx0.coded.unpersist()
    val opList = ops.result()
    PassOut(items = Docs + ExactDups + NearDups + Vectors + NearVecs,
      inputBytes = Common.duBytes(new File(ctx.dir, "documents")) +
        Common.duBytes(new File(ctx.dir, "embeddings")),
      storedBytes = 0L, ops = opList, attempted = opList.size, failed = 0,
      payload = (survivors.toSet, pairs.toSet, semPairs.toSet, top))
  }

  private def norm(p: (Long, Long)): (Long, Long) =
    if (p._1 <= p._2) p else p.swap

  def check(ctx: Ctx, out: PassOut): Seq[String] = {
    val (survivors, _, _, top) = out.payload.asInstanceOf[(Set[Long],
      Set[(Long, Long)], Set[(Long, Long)], Seq[(Long, Seq[Long])])]
    val exactIds = (Docs until Docs + ExactDups).toSet
    val kept = exactIds.intersect(survivors)
    val wantN = Docs + NearDups
    val exact =
      if (kept.nonEmpty) Seq(s"exact: ${kept.size} planted duplicates survived")
      else if (survivors.size != wantN)
        Seq(s"exact: ${survivors.size} survivors, want $wantN")
      else Nil
    val probes = top.collect {
      case (q, ids) if !ids.headOption.contains(q) =>
        s"probe $q: rank 1 is ${ids.headOption}"
    }
    exact ++ probes
  }

  /** Recall of the planted pairs and precision of the minhash miner. */
  override def layers(ctx: Ctx, out: PassOut): Map[String, Any] = {
    val (_, pairs, semPairs, _) = out.payload.asInstanceOf[(Set[Long],
      Set[(Long, Long)], Set[(Long, Long)], Seq[(Long, Seq[Long])])]
    val planted = plantedDocPairs(ctx)
    val docP = planted.map(norm)
    val vecP = plantedVecPairs(ctx).map(norm)
    val foundDoc = pairs.map(norm)
    val found = docP.count(foundDoc) + vecP.count(semPairs.map(norm))
    // two copies of the same source doc are true duplicates too
    val srcOfCopy = planted.map(_.swap).toMap
    def root(id: Long): Long = srcOfCopy.getOrElse(id, id)
    val truePairs = foundDoc.count(p => root(p._1) == root(p._2))
    Map("curate.dup_recall" -> found.toDouble / (docP.size + vecP.size),
      "curate.minhash_pairs.precision" ->
        (if (foundDoc.isEmpty) 0.0 else truePairs.toDouble / foundDoc.size))
  }
}
