package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a narrow codegen'd projection +
  * TakeOrderedAndProject; the whole corpus is scanned once, no shuffle of
  * vectors. Scale path: random-hyperplane LSH buckets (IVF-style): a probe
  * touches only its bucket, so a 1000-executor cluster scans 1/2^planes of
  * the corpus per query (plus multi-probe neighbors for recall).
  *
  * Per-row vector math runs on the native kernels of
  * `graft.functions.VecExpressions` (codegen'd static calls, no UDFs and
  * no interpreted `aggregate`/`transform` lambdas), accumulating floats
  * left to right, so results are deterministic and engine-comparable.
  */
object Similarity {

  /** Dot product of two numeric-array columns, each element cast to
    * double and accumulated left to right on the native `vec_dot` kernel.
    * NULL for a null array, a null element or unequal lengths. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecExpressions.arrayDot(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Corpus-scan cosine against a literal query vector, on the packed
    * kernel (graft.functions.VecOps): one codegen'd static call per row
    * instead of an interpreted per-element aggregate — the difference
    * between a scan-bound and an interpreter-bound probe at corpus scale.
    * Accumulation order matches `cosine` (left-to-right), so scores are
    * bit-identical to it and to the DuckDB oracle. */
  private def packedScore(vecCol: Column, query: Seq[Double]): Column = {
    import graft.functions.VecExpressions.{packVec, packedDot}
    val qb = lit(graft.functions.VecOps.pack(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(query.toArray)))
    val qn = math.sqrt(query.foldLeft(0.0)((s, x) => s + x * x))
    // mirror normalizedFrame's corpus-side filter: a zero/NaN/Inf-norm
    // query would silently score every row NaN and return a meaningless
    // ranking instead of failing here with a cause
    require(qn > 0 && java.lang.Double.isFinite(qn),
      s"query vector must have a finite positive norm (got $qn)")
    val p = packVec(vecCol.cast("array<double>"))
    round(packedDot(p, qb) / (sqrt(packedDot(p, p)) * lit(qn)), 9)
  }

  /** IVF (inverted-file) ANN: k-means cells instead of hyperplane buckets —
    * the other classic scale path. The corpus is clustered once (nlist
    * cells, fixed seed), each probe scans only the `nprobe` cells whose
    * centroids are nearest the query: 1000 executors scan nprobe/nlist of
    * 100 TB. Returns (cell assignment model cost O(n·nlist·dim), probe
    * cost O(n·nprobe/nlist·dim)). Data-adaptive where hyperplane LSH is
    * oblivious — higher recall on clustered corpora at the price of the
    * training pass. */
  /** A trained IVF index: k-means centroids + the cell-assigned corpus.
    * Train ONCE, probe many times — at 100 TB the training pass dominates
    * a single probe, so callers keep the index (and `.persist()` the
    * assigned frame) across queries rather than retraining per lookup. */
  final case class IvfIndex(centroids: Array[Array[Double]],
      assigned: DataFrame)

  /** One k-means training pass (fixed seed → deterministic cells).
    * Trained DRIVER-SIDE on a capped deterministic sample (the same faiss
    * shape as [[pqIndex]]): IVF cell quality saturates on a few thousand
    * points, so the 10 Lloyd iterations are microseconds of driver CPU —
    * versus 10+ distributed ML jobs whose per-job latency dominated the
    * whole ann_ivf gate (6.6 s → sub-second at sf0.1; at corpus scale you
    * would never Lloyd over 100 TB either). The ASSIGNMENT pass is the
    * distributed one — one narrow scan computing an argmin over nlist
    * packed-kernel dot products, inside whole-stage codegen — and
    * `trainSampleCap` + the ann_ivf_verify recall floor guard the sample
    * quality. Seeded shuffled init, deterministic everywhere. */
  def ivfIndex(df: DataFrame, vecCol: String, nlist: Int = 16,
      trainOn: Option[DataFrame] = None,
      trainSampleCap: Int = 8192): IvfIndex = {
    import graft.functions.{VecExpressions, VecOps}
    import org.apache.spark.sql.catalyst.util.ArrayData
    // deterministic sample keyed by xxhash64 of the PACKED vector bytes —
    // content-addressed like the old to_json hash, but the pack kernel is
    // a single byte-copy per row where to_json rendered every float to
    // text (the former top cost of the whole ann_ivf gate)
    val sample = trainOn.getOrElse(df)
      .select(col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_h", xxhash64(
        graft.functions.VecExpressions.packVec(col("_v"))))
      .orderBy(col("_h")).limit(trainSampleCap)
      .select("_v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "IVF training sample is empty")
    val centers = lloyd(sample, nlist, iters = 10, seed = 42L)
    // assignment: dist²(p, c_j) = |p|² − 2p·c_j + |c_j|²; the |p|² term is
    // constant across j, so the argmin needs only the nlist dot products.
    // least() over (score, j) structs is ONE expression node — a when()
    // fold would duplicate the accumulator subtree exponentially.
    val cLits = centers.map(c => lit(VecOps.pack(ArrayData.toArrayData(c))))
    val cNorm2 = centers.map(c => c.foldLeft(0.0)((a, x) => a + x * x))
    val packed = df
      .withColumn("_p", VecExpressions.packVec(col(vecCol).cast("array<double>")))
    val candidates = cLits.zip(cNorm2).zipWithIndex.map { case ((cl, n2), j) =>
      struct((lit(n2) - lit(2.0) * VecExpressions.packedDot(col("_p"), cl))
        .as("d"), lit(j).as("j"))
    }
    val assigned = packed
      .withColumn("_cell", least(candidates: _*).getField("j"))
      .drop("_p")
    IvfIndex(centers, assigned)
  }

  /** Probe an IvfIndex: scan only the `nprobe` cells whose centroids are
    * nearest the query (driver-side centroid distance: nlist × dim). */
  def ivfProbe(idx: IvfIndex, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, nprobe: Int = 4): DataFrame = {
    val probes = probedCells(idx.centroids, query, nprobe)
    idx.assigned.filter(col("_cell").isin(probes: _*))
      .select(col(idCol), packedScore(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force cosine top-k against a literal query vector (packed
    * kernel scan + TakeOrderedAndProject — no shuffle of vectors). */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    df.select(col(idCol), packedScore(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Metadata-grouped ANN: top-k nearest PER GROUP (label, domain,
    * language …) in one scan — the "vector search with a metadata filter"
    * shape, answered for every filter value at once instead of one probe
    * per value. One codegen'd scoring projection, one group-partitioned
    * rank window (map-side partial top-k via the window's required sort —
    * never a global single-partition sort), rows beyond k never leave
    * their partition's sort. */
  def groupedTopK(df: DataFrame, vecCol: String, idCol: String,
      groupCol: String, query: Seq[Double], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol)
      .orderBy(col("score").desc, col(idCol))
    df.select(col(idCol), col(groupCol),
        packedScore(col(vecCol), query).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col(groupCol), col("score"), col("rk"))
  }

  /** MMR — Maximal Marginal Relevance diversified re-ranking (Carbonell
    * & Goldstein, SIGIR 1998): greedily select `k` of each query's
    * candidates by `argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — the
    * serving-side post-processor that turns a near-duplicate-heavy ANN
    * top-k into a diverse one.
    *
    * 100 TB shape: the ANN stage has ALREADY bounded each query's pool
    * (rows in = queries × poolK), so the greedy loop is O(poolK²·dim)
    * LOCAL work per query group and the operator distributes by query —
    * rerank never touches the corpus. Pairwise sims are computed
    * declaratively (one self-equi-join on the query key, `cosine` on the
    * native dot kernel) and only the (id, rel) / (a, b, sim) tuples enter
    * the per-group fold.
    *
    * Determinism contract (the oracle replays the selection exactly —
    * this repo's integer-exact discipline): the RAW relevance and
    * pairwise cosines are nano-quantized as `floor(x·1e9 + 0.5)` BIGINT
    * (one multiply, one add, one floor — bit-identical on any engine
    * given the same input double, with none of the cross-engine
    * `round()` boundary hazards); λ is taken at 3-decimal precision
    * (`lamN = round(λ·1000)`) and each step's score is the EXACT integer
    * `lamN·relN − (1000−lamN)·maxSimN`; ties break on ascending id.
    * Input `cands` must carry (queryCol, idCol, vecCol, relCol) with
    * relCol the raw (unrounded) relevance; output is
    * (queryCol, rank, idCol, mmr_n) with mmr_n in units of 1e-12. */
  def mmrRerank(cands: DataFrame, queryCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int,
      lambda: Double): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    val spark = cands.sparkSession
    import spark.implicits._
    def nano(x: Column): Column = floor(x * lit(1e9) + lit(0.5))
    val c = cands.select(col(queryCol).cast("long").as("q"),
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"),
      nano(col(relCol).cast("double")).as("rel_n"))
    val p = c.as("a").join(c.as("b"),
        col("a.q") === col("b.q") && col("a.id") =!= col("b.id"))
      .select(col("a.q").as("q"), col("a.id").as("ai"),
        col("b.id").as("bi"),
        nano(cosine(col("a.v"), col("b.v"))).as("sim_n"))
    val cd = c.select("q", "id", "rel_n").as[(Long, Long, Long)]
    val pd = p.as[(Long, Long, Long, Long)]
    val lamN = math.round(lambda * 1000)
    val lamCompN = 1000 - lamN
    cd.groupByKey(_._1).cogroup(pd.groupByKey(_._1)) { (q, cit, pit) =>
      val pool = scala.collection.mutable.LinkedHashMap(
        cit.map(t => t._2 -> t._3).toArray.sortBy(_._1): _*)
      val sim = pit.map(t => (t._2, t._3) -> t._4).toMap
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Long)]
      var rank = 1
      while (rank <= k && pool.nonEmpty) {
        val (bestId, bestSc) = pool.iterator.map { case (id, relN) =>
          val maxSimN =
            if (picked.isEmpty) 0L
            else picked.iterator.map(s => sim((id, s._3))).max
          id -> (lamN * relN - lamCompN * maxSimN)
        }.maxBy { case (id, sc) => (sc, -id) }
        picked += ((q, rank, bestId, bestSc))
        pool.remove(bestId)
        rank += 1
      }
      picked.iterator
    }.toDF(queryCol, "rank", idCol, "mmr_n")
  }

  /** Product quantization — the compressed-codes leg of the ANN family
    * (LSH prunes by bucket, IVF by cell; PQ shrinks every candidate to m
    * bytes so even an exhaustive scan touches 64× less data, and a real
    * deployment composes them: IVF cell → PQ-coded scan → exact re-rank).
    *
    * Vectors are L2-NORMALIZED before encoding, so the ADC inner product
    * approximates cosine directly and recall is measured against the same
    * brute-force-cosine ground truth as LSH/IVF. Training fits one
    * k-means per subspace (fixed seeds) — on a sample at scale, like
    * `ivfIndex`; encoding is a single codegen'd kernel call per vector;
    * probing ships an m×k lookup table (kilobytes) as a literal and sums
    * m table reads per candidate — no per-candidate vector math at all. */
  final case class PqIndex(codebook: Array[Byte], m: Int, k: Int,
      encoded: DataFrame)

  /** (idCol, _p): the L2-normalized vectors, packed, from one
    * `normalize_vec` kernel call per row. Rows without a direction — a
    * null vector or element, a zero, NaN or infinite norm (an Inf element
    * would yield NaN components that poison the codebook) — come out NULL
    * and are dropped. The optimizer pushes the null filter below the
    * projection, so the kernel runs twice per row: two passes over one
    * vector, small next to the cell argmin and the pair work. */
  private def normalizedFrame(df: DataFrame, vecCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol), graft.functions.VecExpressions.normalizeVec(
        col(vecCol).cast("array<double>")).as("_p"))
      .filter(col("_p").isNotNull)

  /** The driver-side training sample: the first `cap` normalized vectors
    * in `order`, unpacked. */
  private def trainingSample(nv: DataFrame, cap: Int,
      order: Column*): Array[Array[Double]] =
    nv.orderBy(order: _*).limit(cap).select("_p").collect()
      .map(r => graft.functions.VecOps.unpackDoubles(r.getAs[Array[Byte]](0)))

  /** Train the codebooks on a driver-side sample (the faiss shape: PQ
    * training input is CAPPED by construction — `trainSampleCap` vectors,
    * picked deterministically by id-hash order, cover the distribution as
    * well as the corpus does for 16-dim subspace cells — while the encode
    * pass over the full corpus stays a distributed kernel projection).
    * All m subspace k-means runs are plain seeded Lloyd loops over ≤ a
    * few MB of floats: microseconds of driver CPU versus m full Spark
    * KMeans jobs, and byte-for-byte reproducible. */
  def pqIndex(df: DataFrame, vecCol: String, idCol: String, m: Int = 8,
      k: Int = 16, trainOn: Option[DataFrame] = None,
      trainSampleCap: Int = 4096): PqIndex = {
    import graft.functions.{PqExpressions, VecOps}
    require(k <= 256, s"one-byte codes cap k at 256, got $k")
    val sample = trainingSample(normalizedFrame(trainOn.getOrElse(df),
      vecCol, idCol), trainSampleCap, xxhash64(col(idCol)), col(idCol))
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val centroids = new Array[Double](m * k * sub)
    for (j <- 0 until m) {
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      val cs = lloyd(pts, k, iters = 10, seed = 42L + j)
      for (c <- 0 until k; i <- 0 until sub)
        centroids((j * k + c) * sub + i) = cs(c)(i)
    }
    val cb = VecOps.packDoubles(centroids)
    val encoded = normalizedFrame(df, vecCol, idCol)
      .select(col(idCol),
        PqExpressions.pqEncode(col("_p"), lit(cb), m, k).as("_codes"))
    PqIndex(cb, m, k, encoded)
  }

  /** Seeded Lloyd k-means over a driver-local point set: deterministic
    * shuffled-init (distinct points first), empty cells re-seeded from
    * the farthest point of the largest cell. */
  private def lloyd(pts: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(pts.indices.toList).take(k)
    val centers = Array.tabulate(math.min(k, pts.length))(c => pts(init(c)).clone)
      .padTo(k, pts(0).clone)
    val assign = new Array[Int](pts.length)
    for (_ <- 0 until iters) {
      var p = 0
      while (p < pts.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < pts(p).length) {
            val x = pts(p)(i) - centers(c)(i); d += x * x; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](pts(0).length))
      val counts = new Array[Int](k)
      p = 0
      while (p < pts.length) {
        val c = assign(p); counts(c) += 1
        var i = 0
        while (i < pts(p).length) { sums(c)(i) += pts(p)(i); i += 1 }
        p += 1
      }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until sums(c).length)
        centers(c)(i) = sums(c)(i) / counts(c)
      // empty cell: re-seed from the farthest point of the (currently)
      // largest cell — a random steal can duplicate an existing center,
      // leaving the cell empty again next iteration; splitting the biggest
      // cell both fills the code domain and reduces its distortion.
      // Deterministic (no rnd), and counts/assign are updated so a later
      // empty cell in the same pass picks the NEXT largest donor.
      for (c <- 0 until k if counts(c) == 0) {
        var big = 0
        for (c2 <- 1 until k) if (counts(c2) > counts(big)) big = c2
        var far = -1; var farD = -1.0
        var p2 = 0
        while (p2 < pts.length) {
          if (assign(p2) == big) {
            var d = 0.0; var i = 0
            while (i < pts(p2).length) {
              val x = pts(p2)(i) - centers(big)(i); d += x * x; i += 1
            }
            if (d > farD) { farD = d; far = p2 }
          }
          p2 += 1
        }
        if (far >= 0) {
          centers(c) = pts(far).clone
          assign(far) = c; counts(c) += 1; counts(big) -= 1
        }
      }
    }
    centers
  }

  /** ADC scan of a PqIndex: one m×k literal table, m byte-lookups per
    * candidate, TakeOrderedAndProject for the top-k. */
  def pqProbe(idx: PqIndex, idCol: String, query: Seq[Double],
      topK: Int): DataFrame = {
    import graft.functions.{PqExpressions, PqOps, VecOps}
    val qn = math.sqrt(query.foldLeft(0.0)((s, x) => s + x * x))
    require(qn > 0 && java.lang.Double.isFinite(qn),
      s"query vector must have a finite positive norm (got $qn)")
    val q = query.map(_ / qn).toArray
    val table = PqOps.adcTable(q, idx.codebook, idx.m, idx.k)
    idx.encoded.select(col(idCol),
        PqExpressions.pqAdc(col("_codes"), lit(table), idx.k).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** The deployment-shaped PQ probe: ADC shortlist over the codes, then
    * exact cosine re-rank of the shortlist against the raw vectors — the
    * two-stage scan every at-scale ANN service runs (codes are 32× smaller
    * than vectors, so stage 1 is IO-cheap; stage 2 touches only
    * `shortlist` rows). Measured on the fixture corpus: direct ADC top-10
    * recall 0.2-0.6; with a 100-row shortlist re-ranked exactly, 0.8-1.0. */
  def pqTopK(idx: PqIndex, df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, shortlist: Int = 100): DataFrame = {
    val ids = pqProbe(idx, idCol, query, shortlist).select(col(idCol))
    bruteForceTopK(df.join(ids, idCol), vecCol, idCol, query, k)
  }

  /** IVF-PQ — the composed index (faiss `IndexIVFPQ`, the standard
    * billion-scale deployment): a coarse k-means quantizer prunes the scan
    * to `nprobe`-of-`nlist` cells, PQ codes score the survivors at m bytes
    * each, and an exact re-rank fixes the shortlist. At 100 TB the probe
    * touches (nprobe/nlist) × (m/8dim) of the corpus bytes — cell pruning
    * and code compression MULTIPLY. Codes quantize the RESIDUAL to the
    * assigned cell centroid (v − c), the faiss default: within a cell the
    * residual distribution is tight around zero, so one shared codebook
    * over residuals has far less variance to cover than one over raw
    * vectors — smaller quantization error, better ADC shortlists. The ADC
    * table stays a single m×k literal (built from the query, independent
    * of the cell); only a per-cell scalar dot(q, c) is added back at probe
    * time so scores estimate the true inner product dot(q, v). */
  final case class IvfPqIndex(centroids: Array[Array[Double]],
      codebook: Array[Byte], m: Int, k: Int, coded: DataFrame)

  /** The `nprobe` cells a query scans: squared-L2 distance to every
    * coarse centroid, ascending, ties broken by cell id (stable sort).
    * SHARED by the probe paths and the verify gates, so a scan-economy
    * check always measures exactly the cell set the probe touched — a
    * private reimplementation could silently diverge on probe order or
    * tie-breaks. Pass the query in the same space the centroids were
    * trained in (normalized for IVF-PQ, raw for IVF). */
  def probedCells(centroids: Array[Array[Double]], query: Seq[Double],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      (i, query.indices.foldLeft(0.0) { (s, j) =>
        val d = c(j) - query(j); s + d * d
      })
    }.sortBy(_._2).take(nprobe).map(_._1).toSeq

  /** [[probedCells]] for an IvfPqIndex: normalizes the raw query exactly
    * like [[ivfPqTopK]] before ranking centroids. */
  def probedCells(idx: IvfPqIndex, query: Seq[Double],
      nprobe: Int): Seq[Int] = {
    val qn = math.sqrt(query.foldLeft(0.0)((s, x) => s + x * x))
    require(qn > 0 && java.lang.Double.isFinite(qn),
      s"query vector must have a finite positive norm (got $qn)")
    probedCells(idx.centroids, query.map(_ / qn), nprobe)
  }

  /** Train both quantizers on ONE deterministic driver-side sample (the
    * faiss `train()` shape — see [[ivfIndex]]/[[pqIndex]] for why driver
    * Lloyd beats m distributed KMeans jobs here), then assign cells and
    * emit codes in a SINGLE distributed corpus scan: one packed projection
    * feeds both the cell argmin and the encoder kernel. */
  def ivfPqIndex(df: DataFrame, vecCol: String, idCol: String,
      nlist: Int = 16, m: Int = 8, k: Int = 16,
      trainOn: Option[DataFrame] = None,
      trainSampleCap: Int = 4096): IvfPqIndex = {
    import graft.functions.{PqExpressions, VecExpressions, VecOps}
    import org.apache.spark.sql.catalyst.util.ArrayData
    require(k <= 256, s"one-byte codes cap k at 256, got $k")
    val sample = trainingSample(normalizedFrame(trainOn.getOrElse(df),
      vecCol, idCol), trainSampleCap, xxhash64(col(idCol)), col(idCol))
    require(sample.nonEmpty, "IVF-PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val coarse = lloyd(sample, nlist, iters = 10, seed = 7L)
    // residuals to the assigned coarse cell (driver-side argmin over the
    // SAME sample): the PQ codebook is trained on what it will encode
    val resid = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { val x = v(i) - coarse(c)(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val r = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { r(i) = v(i) - coarse(best)(i); i += 1 }
      r
    }
    val centroids = new Array[Double](m * k * sub)
    for (j <- 0 until m) {
      val pts = resid.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      val cs = lloyd(pts, k, iters = 10, seed = 42L + j)
      for (c <- 0 until k; i <- 0 until sub)
        centroids((j * k + c) * sub + i) = cs(c)(i)
    }
    val cb = VecOps.packDoubles(centroids)
    val centBins = coarse.map(c => lit(VecOps.pack(ArrayData.toArrayData(c))))
    val cNorm2 = coarse.map(_.foldLeft(0.0)((a, x) => a + x * x))
    val packed = normalizedFrame(df, vecCol, idCol)
    // argmin over nlist struct candidates — least() is one expression node
    // (a when() fold would duplicate the accumulator subtree; see ivfIndex)
    val candidates = centBins.zip(cNorm2).zipWithIndex.map { case ((cl, n2), j) =>
      struct((lit(n2) - lit(2.0) * VecExpressions.packedDot(col("_p"), cl))
        .as("d"), lit(j).as("j"))
    }
    // _cell lands in its own projection so the encode expression references
    // the attribute, not a duplicated argmin subtree; the residual subtract
    // and the encode are one codegen'd kernel chain per row — still a
    // SINGLE distributed scan assigning cells AND emitting codes
    val coded = packed
      .withColumn("_cell", least(candidates: _*).getField("j"))
      .select(col(idCol), col("_cell"),
        PqExpressions.pqEncode(
          VecExpressions.packedSub(col("_p"),
            element_at(array(centBins: _*), col("_cell") + 1)),
          lit(cb), m, k).as("_codes"))
    IvfPqIndex(coarse, cb, m, k, coded)
  }

  /** Probe an IvfPqIndex: nprobe nearest cells (driver-side centroid
    * distances, nlist × dim flops) → ADC shortlist over the codes in those
    * cells only → exact cosine re-rank of the shortlist against the raw
    * vectors. Residual scoring: codes approximate r̂ ≈ v − c, so
    * dot(q, v) ≈ dot(q, c) + ADC(codes) — the per-cell constant dot(q, c)
    * is added back so shortlist scores stay comparable ACROSS cells. */
  def ivfPqTopK(idx: IvfPqIndex, df: DataFrame, vecCol: String,
      idCol: String, query: Seq[Double], k: Int, nprobe: Int = 4,
      shortlist: Int = 100): DataFrame = {
    import graft.functions.{PqExpressions, PqOps}
    val qn = math.sqrt(query.foldLeft(0.0)((s, x) => s + x * x))
    require(qn > 0 && java.lang.Double.isFinite(qn),
      s"query vector must have a finite positive norm (got $qn)")
    val q = query.map(_ / qn).toArray
    val probes = probedCells(idx.centroids, q.toSeq, nprobe)
    val table = PqOps.adcTable(q, idx.codebook, idx.m, idx.k)
    val qDotC = idx.centroids.map(c =>
      c.indices.foldLeft(0.0)((s, j) => s + q(j) * c(j)))
    val cellConst = element_at(array(qDotC.map(lit(_)): _*), col("_cell") + 1)
    val ids = idx.coded.filter(col("_cell").isin(probes: _*))
      .select(col(idCol),
        (PqExpressions.pqAdc(col("_codes"), lit(table), idx.k) + cellConst)
          .as("_adc"))
      .orderBy(col("_adc").desc, col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    bruteForceTopK(df.join(ids, idCol), vecCol, idCol, query, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    * semantic deduplication — k-means partitions the embedding space, and
    * only WITHIN-cluster pairs are compared, so the quadratic pair work
    * shrinks from n² to Σ|cell|² ≈ n²/nlist. That is the paper's exact
    * cost model and the reason it runs at billion-document scale: nlist
    * grows with the corpus (they use tens of thousands of cells) so the
    * per-cell candidate set stays bounded, and cells compare in parallel
    * with no cross-cell traffic. Returns the semantic-duplicate pairs
    * (id_a < id_b, cosine ≥ tau) with their cosine; callers feed them to
    * [[Dedup.clusterKeepOne]] for the keep-one-per-group step.
    *
    * Boundary caveat (the paper's too): a true near-pair split across two
    * cells is missed — the recall price of the n²/nlist bound. The
    * verify gate measures exactly that against the LSH miner's pairs.
    *
    * HOT-CELL guard: k-means cells are NOT balanced — a dominant
    * semantic-duplicate blob (the very thing this operator exists to
    * find) can pull one cell to a huge fraction of the corpus, and that
    * cell's self-join is the same B² blowup the banded miners guard
    * against. Cells over `bucketCap` are salt-split with stitch
    * representatives via [[Dedup.withBucketSaltProbed]] (plan-time probe:
    * the no-hot corpus pays nothing); cross-split recall loss is bounded
    * and cluster connectivity is preserved through the stitch clique —
    * the pairs feed [[Dedup.clusterKeepOne]], which only needs the
    * component connected. */
  def semDedupPairs(df: DataFrame, vecCol: String, idCol: String,
      tau: Double, nlist: Int = 16,
      trainSampleCap: Int = 8192,
      bucketCap: Int = Dedup.DefaultBucketCap): DataFrame = {
    import graft.functions.{VecExpressions, VecOps}
    import org.apache.spark.sql.catalyst.util.ArrayData
    val packed = normalizedFrame(df, vecCol, idCol)
    val sample = trainingSample(packed, trainSampleCap, xxhash64(col("_p")))
    require(sample.nonEmpty, "SemDeDup training sample is empty")
    val coarse = lloyd(sample, nlist, iters = 10, seed = 11L)
    val cLits = coarse.map(c => lit(VecOps.pack(ArrayData.toArrayData(c))))
    val cNorm2 = coarse.map(_.foldLeft(0.0)((a, x) => a + x * x))
    val candidates = cLits.zip(cNorm2).zipWithIndex.map { case ((cl, n2), j) =>
      struct((lit(n2) - lit(2.0) * VecExpressions.packedDot(col("_p"), cl))
        .as("d"), lit(j).as("j"))
    }
    val assigned = packed.select(col(idCol),
      least(candidates: _*).getField("j").as("_cell"), col("_p"))
    val (salted, anyHot) = Dedup.withBucketSaltProbed(assigned,
      col("_cell"), col(idCol), bucketCap)
    // within-cell pairs: equi-join on the cell id (+ the salt, constant
    // and folded away when no cell is hot) — normalized vectors make the
    // packed dot the cosine directly
    val a = salted.select(col(idCol).as("id_a"), col("_cell"),
      col("_salt"), col("_p").as("_pa"))
    val b = salted.select(col(idCol).as("id_b"), col("_cell"),
      col("_salt"), col("_p").as("_pb"))
    val pairs = a.join(b, Seq("_cell", "_salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", VecExpressions.packedDot(col("_pa"), col("_pb")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    // cells are disjoint, so duplicate pairs can only come from the
    // stitch clique — the dedup shuffle is skipped when nothing was hot
    if (anyHot) pairs.dropDuplicates("id_a", "id_b") else pairs
  }

  /** LSH-bucketed ANN with multi-probe: scan the query's bucket plus every
    * bucket within `probeHamming` sign-bit flips (a near-miss on one
    * hyperplane is the dominant recall loss, so hamming-1 probing roughly
    * triples recall for ~planes× more candidates — still 1/2^(planes-log2
    * (probes)) of the corpus, the IVF-style pruning shape). An identical
    * vector always lands in the query's own bucket (hamming 0), so exact
    * duplicates are retrieved with probability 1. */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, planes: Int = 6,
      probeHamming: Int = 1): DataFrame = {
    import graft.functions.VecExpressions.{packVec, packedSketch}
    // packed-kernel sketch (bit-identical to the aggregate/zip_with form
    // the tests keep — see VecOps.hyperplaneSketch): the corpus scan's
    // per-row bucket is one static call over the packed vector; the
    // query's bucket is the SAME static function evaluated directly on
    // the driver — no 1-row job
    val withBucket = df.withColumn("_bucket",
      packedSketch(packVec(col(vecCol).cast("array<double>")), planes))
    val queryBucket = graft.functions.VecOps.hyperplaneSketch(
      graft.functions.VecOps.packDoubles(query.toArray), planes, 0)
    val probes = (0L until (1L << planes))
      .filter(b => java.lang.Long.bitCount(b ^ queryBucket) <= probeHamming)
    withBucket.filter(col("_bucket").isin(probes: _*))
      .select(col(idCol), packedScore(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
