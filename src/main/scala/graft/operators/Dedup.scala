package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard (beyond-reference surface per
  * BASELINE.json's north star; no analog in the reference, which dedups at
  * the row level only via REPLACE INTO — lightning/backend/tidb.go:45-63).
  *
  * Scale design notes (100 TB):
  *  - exact dedup: two shapes — a one-exchange window (payloads cross the
  *    shuffle once) and a payload-light loser anti-join (digests+keys only
  *    shuffle; documents never do). See the two method docs for when each
  *    wins.
  *  - MinHash LSH: the only shuffle is the band-bucket join; candidate
  *    verification happens only within buckets (output ≪ N²). Signatures
  *    are computed in one narrow pass of array expressions, no UDFs.
  *  - SimHash: narrow projection to a 64-bit sketch + band join on 16-bit
  *    sub-keys; Hamming verification on candidates only.
  *
  * PERF INVARIANT: array lambdas only ever reference *attribute* columns
  * (precomputed via withColumn), never inline expression trees — an inlined
  * normalization would re-run its regexes once per array element and turn a
  * linear pass quadratic.
  */
object Dedup {

  /** Normalize text for content-identity: lowercase, collapse whitespace,
    * strip non-alphanumerics (keeps CJK). */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text),
      "[^\\p{L}\\p{N}\\s]", ""), "\\s+", " "))

  /** Non-empty whitespace tokens of a (pre-normalized) text column. */
  def tokensOf(norm: Column): Column =
    filter(split(norm, " "), t => t =!= "")

  /** 128-bit content fingerprint of the normalized text (md5 — cheap,
    * portable, and reproducible in any engine for verification). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Exact dedup: keep the lowest-key row per identical value of `on`.
    * Window over the digest: ONE exchange, but it moves the ENTIRE row —
    * the shuffle is *keyed* by the digest, payload bytes still cross it.
    * Right when the input lineage is expensive to recompute (this form
    * evaluates it once) or the payload is already narrow; for wide
    * payloads straight off a scan, use [[exactPayloadLight]]. */
  def exact(df: DataFrame, on: Column, key: Column): DataFrame = {
    val w = Window.partitionBy(on).orderBy(key)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact dedup without shuffling payloads: mine the LOSER keys on a
    * narrow (digest, key) projection — column pruning means that pass
    * reads only what the digest needs — then anti-join them out of the
    * original frame. At corpus scale with low duplicate rates the loser
    * set is ≪ the corpus, so AQE plans the anti-join as a broadcast and
    * document bytes never enter ANY exchange: the cost is a second
    * (pruned) scan of the input instead of a 100 TB shuffle write+read.
    * No hard-coded broadcast hint — if losers turn out huge, AQE falls
    * back to a shuffled anti-join, which is the window plan's cost.
    *
    * `key` must uniquely identify rows (it is the anti-join key); with
    * duplicate keys prefer [[exact]], whose window breaks ties
    * arbitrarily instead of dropping both rows' twins. Same keep-lowest
    * semantics as [[exact]] for unique keys (pinned by CurationOpsSpec).
    * Because the input is referenced twice, persist/checkpoint expensive
    * lineages first — or use [[exact]]. */
  def exactPayloadLight(df: DataFrame, on: Column, key: Column): DataFrame = {
    val w = Window.partitionBy(col("_graft_dg")).orderBy(col("_graft_k"))
    val losers = df.select(on.as("_graft_dg"), key.as("_graft_k"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col("_graft_k"))
    df.join(losers, key === col("_graft_k"), "left_anti")
  }

  /** Exact-substring span dedup — the chunk-granular form of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): text is cut into non-overlapping `window`-char
    * chunks, and a chunk whose exact content occurs ≥2 times corpus-wide
    * (counting every position of every document, so within-document
    * repetition counts too) is removed everywhere except its single
    * global first occurrence — the lexicographically lowest (key, pos).
    * Returns (idCol, cleaned, n_chunks, n_dup) for every non-null text.
    *
    * Chunking is the Spark-honest shape of the paper's suffix array: a
    * suffix array is a global sequential structure (the paper shards it
    * on one machine), while fixed-width chunks turn duplicate mining
    * into a hash aggregate — one count shuffle keyed by a 128-bit chunk
    * digest with map-side combining, plus a join back that AQE
    * broadcasts (the ≥2-occurrence digest set is ≪ the corpus at real
    * duplication rates), plus the per-doc reassembly shuffle. The price
    * is boundary sensitivity: a duplicated span straddling chunk
    * boundaries at different offsets is missed — the same trade CCNet
    * makes with lines ([[CorpusStats.stripBoilerplate]]); callers wanting
    * offset-robust matching should pre-segment on sentence boundaries.
    *
    * The input lineage is evaluated twice (digest mining + join-back);
    * persist expensive lineages first — raw scans are fine (pruned). */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
      window: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("_t"))
    // chunks via char-array slices (O(window) each) rather than
    // substring(_t, i*w+1, w) inside the lambda — UTF8String.substr is
    // O(position), which would make long documents quadratic (the PERF
    // INVARIANT above). _chars/_nc are attributes before the transform.
    val ch = base
      .withColumn("_chars", split(col("_t"), ""))
      .withColumn("_nc",
        ceil(length(col("_t")).cast("double") / window).cast("int"))
      .withColumn("_chunks",
        when(col("_nc") > 0,
          transform(sequence(lit(0), col("_nc") - 1),
            i => array_join(slice(col("_chars"), i * window + 1, lit(window)), "")))
        .otherwise(array().cast("array<string>")))
      .select(col(idCol), posexplode(col("_chunks")).as(Seq("_pos", "_chunk")))
    // duplicate mining on a narrow (digest, key, pos) projection: the
    // shuffled row is 16 B digest + key + int, never the chunk text
    val dups = ch
      .select(md5(col("_chunk")).as("_dg"), col(idCol), col("_pos"))
      .groupBy("_dg")
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col(idCol), col("_pos"))).as("_win"))
      .filter(col("_cnt") >= 2)
    val marked = ch.join(dups, md5(col("_chunk")) === col("_dg"), "left")
      .withColumn("_keep", col("_dg").isNull ||
        (col("_win").getField(idCol) === col(idCol) &&
         col("_win").getField("_pos") === col("_pos")))
    val out = marked.groupBy(col(idCol))
      .agg(
        array_join(transform(sort_array(collect_list(
            when(col("_keep"), struct(col("_pos"), col("_chunk"))))),
          x => x.getField("_chunk")), "").as("cleaned"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dup"))
    base.select(col(idCol)).join(out, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
  }

  /** Character k-shingles (distinct) of a PRE-MATERIALIZED char-array
    * column (`split(norm, "")` behind an exchange barrier). `chars` MUST
    * be an attribute: an expression here would sit inside the transform
    * lambda and re-evaluate once per shingle — the quadratic trap the
    * PERF INVARIANT above describes. Array slices are O(k) where
    * `UTF8String.substr` is O(position). */
  def shinglesOfChars(chars: Column, k: Int = 5): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(chars) - k, lit(0))),
        i => array_join(slice(chars, i + lit(1), lit(k)), "")))

  /** MinHash signature: for each of `numHashes` hash functions h_j, the
    * minimum over shingles of xxhash64(shingle, j). One narrow pass. */
  def minhashSignature(shingles: Column, numHashes: Int = 32): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(shingles, s => xxhash64(s, j))))

  /** LSH banding: split the signature into `bands` equal bands; emit one
    * (band_idx, band_key) per band. Docs sharing any band key are
    * candidates. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)), b)
          .as("bkey")))

  /** Near-duplicate pairs via MinHash+LSH, verified by the MinHash
    * signature-agreement estimator (E[matches/numHashes] = Jaccard).
    * Returns (id_a, id_b, jaccard_est) with id_a < id_b, est ≥ threshold.
    *
    * The per-doc sketch is materialized behind a repartition barrier:
    * Catalyst's project-collapsing would otherwise re-inline the whole
    * shingle pipeline into the self-join and recompute it per candidate
    * pair. The join then moves only (id, band, 32×8B signature) — never
    * shingle sets, never documents — which is what keeps this linear-ish
    * at corpus scale. */
  /** MinHash signatures as FLAT columns (_id, _h0…_h{n-1}) — one row per
    * doc. Shared by the LSH pair miner and the estimator-verification
    * queries.
    *
    * One static-call kernel per document (SketchOps.minhashSigs): the
    * whole signature computes in a single byte-walk pass — no shingle
    * explode (which multiplied every doc into ~|doc| rows), no
    * min-aggregate shuffle of shingle hashes. The only exchange left is
    * the barrier moving (id, n×8 B) rows, which doubles as the project-
    * collapse fence so the n flat extractions below read an attribute
    * instead of re-running the kernel n times. Bit-identical to the old
    * explode/aggregate formulation (same xxhash64 folding, same shingle
    * ranges — pinned by CurationOpsSpec). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, numHashes: Int = 32): DataFrame = {
    import graft.functions.SketchExpressions.minhashSigs
    // NULL text: the explode/aggregate form emitted no row at all, but the
    // kernel's null propagation would emit (_id, NULL sig) — and since
    // lshBandKeys' xxhash64 skips null inputs, every null-text doc would
    // band identically and mine spurious est=1.0 pairs. Filter to match
    // the old semantics (mirrors simhashSketches' empty-norm filter).
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        minhashSigs(normalized(col(textCol)), k, numHashes).as("_sig"))
      .repartition(col("_id"))
      .select(col("_id") +: (0 until numHashes).map(j =>
        element_at(col("_sig"), j + 1).as(s"_h$j")): _*)
  }

  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6): DataFrame =
    minhashPairsFromSignatures(
      minhashSignatures(df, textCol, idCol, k, numHashes),
      numHashes, bands, threshold)

  /** Default per-bucket cardinality cap for every band/bucket pair miner:
    * a bucket holding B docs emits B² candidate pairs from its self-join,
    * so ONE degenerate band key (empty-ish docs, boilerplate that survives
    * exact dedup, adversarial corpora) with a million members is 10¹²
    * pairs and a stage that never finishes. 10⁴ keeps the worst bucket at
    * ≤ ~cap·B pair work while leaving every sane bucket untouched. */
  val DefaultBucketCap: Int = 10000

  /** Hot-bucket guard — the salt-split scale fuse shared by every banded
    * pair miner. Counts rows per bucket key; buckets within `cap` get
    * `_salt = 0` (the join is EXACTLY the unguarded join — the guard is a
    * provable no-op on sane corpora), oversized buckets are split into
    * `ceil(count/cap)` deterministic sub-buckets by an id-hash salt that
    * both join sides compute identically, and the join key gains
    * `_salt` equality. Per-bucket join work drops from B² to ≤ ~B·cap.
    *
    * STITCH rows keep the cluster connected: the salt is a pure function
    * of the id, so a degenerate blob splits IDENTICALLY in every band and
    * cross-split edges would never be mined anywhere — keep-one dedup
    * would keep one doc per split instead of one per blob. So each hot
    * bucket re-emits one representative per split (its min id) into a
    * dedicated stitch sub-bucket (`_salt = -1`): the representatives pair
    * with each other (splits·(splits−1)/2 extra candidates per hot
    * bucket), the verifier scores them like any candidate, and the
    * connected-components closure reconnects the blob through them.
    * Stitch work is ≤ (B/cap)² per bucket — for it to itself blow up a
    * single bucket needs > cap² members (10⁸ at the default), at which
    * point per-split sizes exceed cap but total work stays ≤ ~cap²·cap,
    * still bounded (BucketGuardSpec pins boundedness + connectivity).
    *
    * Recall contract (documented, bounded): a hot-bucket pair survives iff
    * both ids hash to the same split (~1/splits of that bucket's pairs) or
    * rides a representative edge; buckets ≤ cap lose nothing. Pair-level
    * recall in hot buckets trades against the stage finishing at all;
    * cluster-level semantics are preserved via the stitch.
    *
    * Cost shape — the PLAN-TIME HOT PROBE: one map-side-combinable count
    * aggregate on the SAME key the join shuffles on, collected driver-side
    * (≤ N/cap rows can exceed the cap — bounded by construction, the
    * IVF-Lloyd collect pattern, not a data collect). On the overwhelmingly
    * common no-hot-bucket corpus the guard then costs NOTHING downstream:
    * the salt is a constant column, Catalyst folds the `_salt` equality
    * away, and the join plan is the unguarded plan — versus building the
    * conditional join/stitch/union plan lazily, which made every miner pay
    * 4+ re-evaluations of the banded lineage and two extra aggregates per
    * join side even with zero hot buckets (~2× miner wall at sf0.1). When
    * the probe DOES find hot buckets, the collected list is frozen as a
    * LocalRelation — the salt join broadcasts it with no recompute. The
    * probe is one eager job per miner call; callers re-running a returned
    * plan against mutated source data should re-call the miner (plans are
    * built per-run everywhere in this engine).
    *
    * This is the custom-operator analog of AQE's skew-join handling: a
    * runtime cardinality probe choosing between physical shapes. */
  private def withBucketSalt(banded: DataFrame, bucket: Column, id: Column,
      cap: Int): DataFrame =
    withBucketSaltProbed(banded, bucket, id, cap)._1

  /** [[withBucketSalt]] plus the probe's verdict — callers whose
    * deduplication step is only needed when stitch rows exist (e.g.
    * [[Similarity.semDedupPairs]], whose cells are disjoint so duplicate
    * pairs can ONLY come from the stitch clique) skip that shuffle on the
    * no-hot path. */
  /** Driver-collect ceiling for the hot-bucket probes: hot buckets are
    * rare by construction on real corpora (that's what makes them "hot"),
    * so the probe's collect is a handful of rows. But an ADVERSARIAL
    * corpus can have rows/cap buckets all over the cap — collecting one
    * row per hot bucket would then be an unbounded data collect. Past
    * this many hot buckets the guard degrades to joining the un-collected
    * hot aggregate (a shuffle join that re-evaluates the banded lineage —
    * the right price exactly when the corpus is degenerate enough to
    * need it). */
  private[graft] val MaxHotCollect = 100000

  private[graft] def withBucketSaltProbed(banded: DataFrame, bucket: Column,
      id: Column, cap: Int, maxHotCollect: Int = MaxHotCollect)
      : (DataFrame, Boolean) = {
    require(cap > 0, s"bucketCap must be positive, got $cap")
    val hotAgg = banded.groupBy(bucket.as("_hb"))
      .agg(count(lit(1)).as("_hcnt"))
      .filter(col("_hcnt") > cap)
    val hotRows = hotAgg.limit(maxHotCollect + 1).collect()
    if (hotRows.isEmpty) return (banded.withColumn("_salt", lit(0L)), false)
    val hot =
      if (hotRows.length <= maxHotCollect)
        broadcast(banded.sparkSession.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), hotAgg.schema))
      else hotAgg
    val salted = banded.join(hot, bucket === col("_hb"), "left")
      .withColumn("_salt",
        when(col("_hcnt").isNull, lit(0L))
          .otherwise(pmod(xxhash64(id, lit(0x5417L)),
            ceil(col("_hcnt").cast("double") / cap).cast("long"))))
      .drop("_hb")
    val outCols = banded.columns.map(col) :+ col("_salt")
    // per-(hot bucket, split) representative rows, re-keyed to the stitch
    // sub-bucket; only hot-bucket rows (non-null _hcnt) participate
    val reps = salted.filter(col("_hcnt").isNotNull)
      .groupBy(bucket.as("_rb"), col("_salt").as("_rs"))
      .agg(min(id).as("_rid"))
    val stitch = salted.join(reps,
        bucket === col("_rb") && col("_salt") === col("_rs") &&
          id === col("_rid"))
      .withColumn("_salt", lit(-1L))
      .select(outCols: _*)
    (salted.select(outCols: _*).union(stitch), true)
  }

  /** Cross-corpus flavor of [[withBucketSalt]]: the blowup is the PRODUCT
    * |L_bucket|·|R_bucket|, so a bucket is hot when that product exceeds
    * cap², and both sides split by `ceil(max(|L|,|R|)/cap)` with the same
    * id-hash salt — per-bucket join work drops to ≤ ~min(|L|,|R|)·cap.
    * Buckets present on only one side mine no pairs and need no salt.
    * No stitch rows here: cross-corpus mining flags NEW docs that
    * duplicate the base, and every new doc's split still holds
    * ~|R_bucket|/splits ≥ ~cap/2 base members, so per-DOC flag recall is
    * preserved even though per-PAIR recall drops (BucketGuardSpec). */
  private[graft] def withCrossBucketSalt(lb: DataFrame, rb: DataFrame,
      bucket: Column, lId: Column, rId: Column, cap: Int,
      maxHotCollect: Int = MaxHotCollect): (DataFrame, DataFrame) = {
    require(cap > 0, s"bucketCap must be positive, got $cap")
    // plan-time hot probe (see withBucketSalt): both count aggregates and
    // the product filter run ONCE, driver-collected; the no-hot path adds
    // only a constant salt on each side. The collect is bounded by
    // maxHotCollect (see [[MaxHotCollect]]) — past it, the salt joins the
    // un-collected hot aggregate instead.
    val cl = lb.groupBy(bucket.as("_hb")).agg(count(lit(1)).as("_cl"))
    val cr = rb.groupBy(bucket.as("_hb")).agg(count(lit(1)).as("_cr"))
    val hotAgg = cl.join(cr, "_hb")
      .filter(col("_cl") * col("_cr") > cap.toLong * cap)
      .select(col("_hb"),
        ceil(greatest(col("_cl"), col("_cr")).cast("double") / cap)
          .cast("long").as("_splits"))
    val hotRows = hotAgg.limit(maxHotCollect + 1).collect()
    if (hotRows.isEmpty)
      return (lb.withColumn("_salt", lit(0L)),
        rb.withColumn("_salt", lit(0L)))
    val hot =
      if (hotRows.length <= maxHotCollect)
        broadcast(lb.sparkSession.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), hotAgg.schema))
      else hotAgg
    def salted(side: DataFrame, id: Column) =
      side.join(hot, bucket === col("_hb"), "left")
        .withColumn("_salt",
          when(col("_splits").isNull, lit(0L))
            .otherwise(pmod(xxhash64(id, lit(0x5417L)), col("_splits"))))
        .drop("_hb", "_splits")
    (salted(lb, lId), salted(rb, rId))
  }

  /** PACKED signature frame (_id, _sig binary) — one 8·numHashes-byte
    * column instead of numHashes flat longs. Lane values equal the flat
    * `_h$j` columns (same kernel); the payoff is plan width: the flat
    * band-join plan carries ~2·numHashes columns and costs seconds of
    * janino compile PER PLAN, the packed one compiles in milliseconds.
    * Same null policy as `minhashSignatures`. */
  def minhashSignaturesPacked(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, numHashes: Int = 32): DataFrame = {
    import graft.functions.SketchExpressions.minhashSigsPacked
    spreadIfNarrow(df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("_id"), col(textCol).as("_t")), col("_id"))
      .select(col("_id"),
        minhashSigsPacked(normalized(col("_t")), k, numHashes).as("_sig"))
      .repartition(col("_id"))
  }

  /** Pair mining over a PACKED signature frame — identical pairs and
    * estimates to `minhashPairsFromSignatures` (band keys are the same
    * xxhash64 fold, agreement the same lane count — pinned by
    * CurationOpsSpec), at a fraction of the plan-compile cost. */
  def minhashPairsFromPackedSignatures(sigs: DataFrame, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.6,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    import graft.functions.SketchExpressions.{lanesXxHash, laneAgreement}
    val rowsPerBand = numHashes / bands
    val banded = withBucketSalt(sigs.select(col("_id"), col("_sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          lanesXxHash(col("_sig"), b * rowsPerBand, rowsPerBand)
            .as("bkey"))): _*)).as("_b")),
      col("_b"), col("_id"), bucketCap)
    val l = banded.select(col("_id").as("id_a"), col("_sig").as("_siga"),
      col("_b"), col("_salt")).alias("l")
    val r = banded.select(col("_id").as("id_b"), col("_sig").as("_sigb"),
      col("_b"), col("_salt")).alias("r")
    l.join(r, col("l._b") === col("r._b") &&
        col("l._salt") === col("r._salt") && col("id_a") < col("id_b"))
      .withColumn("jaccard_est",
        laneAgreement(col("_siga"), col("_sigb")).cast("double") / numHashes)
      .filter(col("jaccard_est") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard_est"), 6).as("jaccard_est"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Cross-corpus near-dup: every NEW-corpus document whose signature
    * collides with any BASE-corpus document in ≥1 LSH band and clears the
    * agreement estimator — "dedup the fresh crawl against what we already
    * have", the incremental twin of the self-join miner. Shape note: the
    * base corpus at 100 TB CANNOT broadcast (unlike decontamination's
    * eval set), so this is the honest big-big join — both sides reduce to
    * (id, 32×8 B signature, 8 B band key) rows, shuffled on the band key,
    * co-partitioned by construction. Returns
    * (id_new, id_base, jaccard_est), est ≥ threshold. */
  def crossMinhashPairsFromPackedSignatures(newSigs: DataFrame,
      baseSigs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    import graft.functions.SketchExpressions.{lanesXxHash, laneAgreement}
    val rowsPerBand = numHashes / bands
    def banded(sigs: DataFrame, idAs: String, sigAs: String) =
      sigs.select(col("_id").as(idAs), col("_sig").as(sigAs),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            lanesXxHash(col("_sig"), b * rowsPerBand, rowsPerBand)
              .as("bkey"))): _*)).as("_b"))
    val (lg, rg) = withCrossBucketSalt(
      banded(newSigs, "id_new", "_signew"),
      banded(baseSigs, "id_base", "_sigbase"),
      col("_b"), col("id_new"), col("id_base"), bucketCap)
    val l = lg.alias("l")
    val r = rg.alias("r")
    l.join(r, col("l._b") === col("r._b") &&
        col("l._salt") === col("r._salt"))
      .withColumn("jaccard_est",
        laneAgreement(col("_signew"), col("_sigbase")).cast("double") / numHashes)
      .filter(col("jaccard_est") >= threshold)
      .select(col("id_new"), col("id_base"),
        round(col("jaccard_est"), 6).as("jaccard_est"))
      .dropDuplicates("id_new", "id_base")
  }

  /** Pair mining over a PRECOMPUTED flat signature frame (_id, _h0…) —
    * the shingle+min-aggregate pass dominates, so multi-analysis callers
    * compute (and persist) signatures once. */
  def minhashPairsFromSignatures(sigs: DataFrame, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.6,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val rowsPerBand = numHashes / bands
    // signatures stay FLAT columns end-to-end: band keys, the join payload
    // and the agreement estimator all operate on 32 plain long columns —
    // array packing + element_at here falls out of whole-stage codegen and
    // is ~4× slower on the candidate-pair hot path. The estimator runs
    // before the pair-dedup shuffle so only (id_a, id_b, est) survivors
    // move.
    def bandKey(b: Int) = xxhash64(
      (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"_h$j")): _*)
    val banded = withBucketSalt(sigs.select(
      col("_id") +: (0 until numHashes).map(j => col(s"_h$j")) :+
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("bkey"))): _*)).as("_b"): _*),
      col("_b"), col("_id"), bucketCap)
    // explicit aliases on both sides: same-lineage `l("_b") === r("_b")`
    // would lean on Spark's self-join disambiguation heuristic (and logs a
    // trivially-true-predicate warning); alias-qualified names are exact
    val l = banded.select(col("_id").as("id_a") +:
      (0 until numHashes).map(j => col(s"_h$j").as(s"ha_$j")) :+
      col("_b") :+ col("_salt"): _*)
      .alias("l")
    val r = banded.select(col("_id").as("id_b") +:
      (0 until numHashes).map(j => col(s"_h$j").as(s"hb_$j")) :+
      col("_b") :+ col("_salt"): _*)
      .alias("r")
    val agreement = (0 until numHashes).map(i =>
      when(col(s"ha_$i") === col(s"hb_$i"), 1).otherwise(0)).reduce(_ + _)
    l.join(r, col("l._b") === col("r._b") &&
        col("l._salt") === col("r._salt") && col("id_a") < col("id_b"))
      .withColumn("jaccard_est", agreement.cast("double") / numHashes)
      .filter(col("jaccard_est") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard_est"), 6).as("jaccard_est"))
      .dropDuplicates("id_a", "id_b")
  }

  /** 64-bit SimHash over a pre-materialized token-hash array column:
    * one pass accumulating 64 signed bit-counts, then bit-packing. */
  def simhashOf(tokenHashes: Column): Column = {
    val counts = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(i =>
          when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
            .otherwise(lit(-1L))): _*),
        (a, b) => a + b))
    aggregate(counts, lit(0L),
      (acc, c) => shiftleft(acc, 1) // bitwise: no ANSI overflow on bit 63
        .bitwiseOR(when(c > 0, lit(1L)).otherwise(lit(0L))))
  }

  /** 64-bit SimHash sketches as (_id, _h) — one row per doc, via the
    * single-pass SketchOps.simhash kernel: no token explode (which
    * multiplied every doc into ~|tokens| rows), no 64-column bit-sum
    * aggregate shuffle — a narrow projection plus the (id, 8 B) barrier.
    * Bit-identical to the explode/aggregate form (pinned by
    * CurationOpsSpec); tokenless docs are filtered to match the explode
    * form's row set, and dedup_simhash_verify's INDEPENDENT `simhashOf`
    * lambda reimplementation now also cross-checks this kernel. */
  /** Scale-adaptive pre-kernel spread (r18, re-gated r19; guide §2:
    * partitioning derives from the input, never a constant): a big
    * UNSPLITTABLE input — a single gzip, one giant parquet row group —
    * arrives as fewer scan partitions than the cluster has slots, so a
    * heavy per-row sketch kernel downstream runs effectively
    * single-threaded while the rest of the cluster idles. Spread =
    * hash-repartition by the deterministic id BEFORE the kernel.
    *
    * r19 adjudication (verdict #1): the r18 version spread on partition
    * count alone, so every fixture-scale scan (one tiny row group) paid
    * an extra exchange plus the plan churn's janino recompiles across
    * the whole dedup family — the official 32c bench charged it ~+15 s
    * (dedup_ngram 3.77→9.19 s, txt_fuzzy_cluster 2.09→6.55 s) for zero
    * benefit: a narrow input that is also SMALL finishes faster
    * single-threaded than shuffled. The spread now requires both
    *  (a) narrower than the cluster, AND
    *  (b) enough estimated bytes per existing partition that the
    *      single-threaded kernel time dominates the shuffle
    * (`spark.graft.spread.minBytesPerPartition`, default 32 MiB ≈
    * seconds of single-core string kernel) — so it still fires for the
    * 1-gzip-at-100 TB case it was built for and is a provable no-op at
    * bench scale. Also per the r18 advisor: a frame whose physical plan
    * is adaptive (contains an exchange) is never probed — under AQE,
    * executing toRdd just to READ a partition count would materialize
    * the upstream stages eagerly and the real job would re-run them. */
  private[operators] def spreadIfNarrow(df: DataFrame,
      key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val minKey = "spark.graft.spread.minBytesPerPartition"
    val minRaw = df.sparkSession.conf.get(minKey, (32L << 20).toString)
    val minBytesPerPart = minRaw.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"$minKey must be a byte count (a whole number), got '$minRaw'"))
    // a size at or above spark.sql.defaultSizeInBytes is the planner's
    // "unknown" (an RDD-backed frame, say), not a measurement
    val unknownBytes = BigInt(org.apache.spark.sql.internal.SQLConf.get
      .defaultSizeInBytes)
    val probed =
      try {
        df.queryExecution.executedPlan match {
          case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            None // exchange inside: probing would run the upstream stages
          case _ =>
            // non-adaptive scan/project/filter shape: toRdd stays lazy
            Some((df.queryExecution.toRdd.getNumPartitions,
              df.queryExecution.optimizedPlan.stats.sizeInBytes))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    probed match {
      case Some((parts, bytes)) if parts < sc.defaultParallelism &&
          bytes < unknownBytes &&
          bytes >= BigInt(math.max(parts, 1)) * minBytesPerPart =>
        df.repartition(sc.defaultParallelism, key)
      case _ => df
    }
  }

  def simhashSketches(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import graft.functions.SketchExpressions.simhash64
    spreadIfNarrow(df.select(col(idCol).as("_id"), col(textCol).as("_t")),
        col("_id"))
      .select(col("_id"), normalized(col("_t")).as("_norm"))
      .filter(col("_norm") =!= "") // explode form emits no row for these
      .select(col("_id"), simhash64(col("_norm")).as("_h"))
      .repartition(col("_id")) // barrier: band exprs read an attribute
  }

  /** SimHash near-dup candidate pairs: band the 64-bit sketch into four
    * 16-bit keys; verify by Hamming distance ≤ maxHamming. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 8): DataFrame =
    simhashPairsFromSketches(simhashSketches(df, textCol, idCol), maxHamming)

  /** Pair mining over a PRECOMPUTED (_id, _h) sketch frame — the sketch
    * pass is the expensive part, so callers running several analyses over
    * one corpus compute (and persist) the sketches once. */
  def simhashPairsFromSketches(sketches: DataFrame,
      maxHamming: Int, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val withH = sketches
    val banded = withBucketSalt(withH.select(col("_id"), col("_h"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("_h"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bkey"))): _*)).as("_b")),
      col("_b"), col("_id"), bucketCap)
    val l = banded.select(col("_id").as("id_a"), col("_h").as("h_a"),
      col("_b"), col("_salt")).alias("l")
    val r = banded.select(col("_id").as("id_b"), col("_h").as("h_b"),
      col("_b"), col("_salt")).alias("r")
    l.join(r, col("l._b") === col("r._b") &&
        col("l._salt") === col("r._salt") && col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Distinct word n-grams of a pre-materialized token-array column. */
  def gramsOf(toks: Column, n: Int = 2): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))

  /** Jaccard similarity of two pre-materialized gram-array columns. */
  def jaccard(ga: Column, gb: Column): Column =
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")

  /** Exact Jaccard for a candidate-pair set, as codegen'd join+aggregate
    * instead of per-pair interpreted array_intersect: explode grams once,
    * count matching grams per pair, |union| = n_a + n_b − |inter|. Scales
    * as O(pairs × grams-per-doc) through hash joins — the shape that
    * survives when candidate sets stop fitting per-pair array ops (the
    * pair table is left to AQE: small → runtime broadcast, big → shuffled
    * hash join; nothing here assumes it fits on one node).
    * Grams travel as xxhash64 LONGS, not strings — the equi-join and
    * shuffle move 8 B keys (64-bit collisions are noise at corpus scale).
    * `pairs`: (id_a, id_b); `grams`: (doc_id, gram-array col `_grams`). */
  def exactJaccardPairs(pairs: DataFrame, grams: DataFrame): DataFrame =
    exactJaccardPairsHashed(pairs,
      grams.select(col("doc_id"),
        transform(col("_grams"), g => xxhash64(g)).as("_ghashes")))

  /** Same join-aggregate, over PRE-HASHED gram arrays (doc_id, `_ghashes`
    * array<long>) — the form the `gramHashes` kernel feeds directly, so
    * gram strings never materialize and the explode moves 8 B longs. */
  def exactJaccardPairsHashed(pairs: DataFrame, grams: DataFrame): DataFrame = {
    val sizes = grams.select(col("doc_id"), size(col("_ghashes")).as("n"))
    val gx = grams.select(col("doc_id"), explode(col("_ghashes")).as("gh"))
    val inter = pairs
      .join(gx.select(col("doc_id").as("id_a"), col("gh")), "id_a")
      .join(gx.select(col("doc_id").as("__idb"), col("gh").as("gh2")),
        col("id_b") === col("__idb") && col("gh") === col("gh2"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        coalesce(col("inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L))))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Embedding near-dup: all pairs with cosine ≥ threshold, bucketed by
    * random-hyperplane LSH so the join is bucket-local (scale path; brute
    * force would be N²). `tables` independent plane families OR-amplify
    * recall (1−(1−p)^T at ~T× candidate cost) — the standard knob when a
    * single bucketing misses near-boundary pairs. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      planes: Int = 8, threshold: Double = 0.95,
      tables: Int = 1, bucketCap: Int = DefaultBucketCap): DataFrame = {
    import graft.functions.VecExpressions.{packVec, packedDot, packedSketch}
    // The vector travels through the bucket join as ONE packed BinaryType
    // column (8 B/dim) + its precomputed norm; the per-pair cosine is a
    // single static-call expression (graft.functions.VecOps.dot). This
    // replaced `dim` flat double columns: identical math and summation
    // order, but plans shrink from ~130 columns to ~4, which removes the
    // multi-second janino compile each distinct plan was paying (the flat
    // form's cost was compile time, not row time). Each plane family's
    // bucket is table*2^planes + sketch — one PLAIN long join key. The
    // sketches are packed-kernel static calls over the packed vector
    // (bit-identical to the interpreted aggregate/zip_with form — see
    // VecOps.hyperplaneSketch), computed above the barrier from the `_p`
    // attribute so the pack runs once per row.
    val flat = df
      .select(col(idCol).as("_id"),
        packVec(col(vecCol).cast("array<double>")).as("_p"))
      .repartition(col("_id")) // barrier: pack computed once
      .select(col("_id"),
        array((0 until tables).map(t =>
          lit(t.toLong << planes) +
            packedSketch(col("_p"), planes, t)): _*).as("_buckets"),
        col("_p"))
      .withColumn("_n", sqrt(packedDot(col("_p"), col("_p"))))
    val withB = withBucketSalt(flat.select(col("_id"),
      explode(col("_buckets")).as("_bucket"), col("_p"), col("_n")),
      col("_bucket"), col("_id"), bucketCap)
    val l = withB.select(col("_id").as("id_a"), col("_bucket"),
      col("_p").as("_pa"), col("_n").as("_na"), col("_salt")).alias("l")
    val r = withB.select(col("_id").as("id_b"), col("_bucket"),
      col("_p").as("_pb"), col("_n").as("_nb"), col("_salt")).alias("r")
    l.join(r, col("l._bucket") === col("r._bucket") &&
      col("l._salt") === col("r._salt") && col("id_a") < col("id_b"))
      .withColumn("cosine",
        packedDot(col("_pa"), col("_pb")) / (col("_na") * col("_nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .dropDuplicates("id_a", "id_b") // a pair may collide in several tables
  }

  /** EXACT cross-corpus dedup with Bloom pruning — "which of today's crawl
    * did we already own, byte-for-byte (post-normalization)": flags every
    * NEW-corpus document whose content fingerprint exists in the BASE
    * corpus. The naive shape is a big-big join of two fingerprint tables;
    * this one is the classic two-phase accelerator:
    *
    *  1. BUILD: a Bloom filter over the base's 64-bit fingerprints —
    *     Spark's distributed `stat.bloomFilter` (treeAggregate; one pruned
    *     scan of the base, no shuffle), sized by `expectedBase`/`fpp`.
    *  2. PRUNE: the filter rides into the new-corpus scan as a codegen'd
    *     membership probe ([[graft.functions.BloomMightContain]]) — rows
    *     failing it are dropped INSIDE the scan stage, before any
    *     exchange. At real duplication rates this removes ~(1 − dup −
    *     fpp) of the corpus from the join.
    *  3. VERIFY: the survivors semi-join the base fingerprints, which
    *     removes the Bloom's false positives — so the OUTPUT is exactly
    *     the plain semi-join's (the Bloom is an accelerator, never a
    *     semantics change; CrossExactSpec pins equality).
    *
    * The bloom keys on the cheap 64-bit xxhash64 of the normalized text;
    * the verify join keys on the 128-bit md5 [[fingerprint]] — so a
    * 64-bit collision can only ADD a pruned-in candidate (removed by the
    * verify join), never flip a flag, and the output semantics are the
    * engine-portable md5 equality every exact-dedup gate already uses.
    *
    * Sizing at 100 TB: 10⁹ base docs at fpp 0.03 ≈ 0.9 GiB of bits —
    * broadcast-able on real executors; beyond that, shard the base and
    * union flags (the filter is mergeable). The driver holds the filter
    * once (stat.bloomFilter's contract), the same bounded-artifact shape
    * as the IVF codebooks. Returns (idCol, dup 0|1) for every non-null
    * new-corpus doc. */
  def crossExactFlags(newDf: DataFrame, baseDf: DataFrame, textCol: String,
      idCol: String, expectedBase: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    import graft.functions.BloomOps
    val baseNorm = baseDf.filter(col(textCol).isNotNull)
      .select(normalized(col(textCol)).as("_n"))
    val bloom = BloomOps.serialize(
      baseNorm.select(xxhash64(col("_n")).as("_bh"))
        .stat.bloomFilter(col("_bh"), expectedBase, fpp))
    val newFps = newDf.filter(col(textCol).isNotNull)
      .select(col(idCol), normalized(col(textCol)).as("_n"))
      .select(col(idCol), xxhash64(col("_n")).as("_h"),
        md5(col("_n")).as("_fp"))
    val candidates = newFps
      .filter(BloomOps.mightContain(col("_h"), bloom))
    val confirmed = candidates
      .join(baseNorm.select(md5(col("_n")).as("_fp")).distinct(),
        Seq("_fp"), "left_semi")
      .select(col(idCol), lit(1).as("dup"))
    newFps.select(col(idCol))
      .join(confirmed, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("dup"), lit(0)).as("dup"))
  }

  /** Engine-portable MinHash signatures (the `_md5` gate family's kernel,
    * extracted so batch gates and the streaming near-dup miner share ONE
    * definition): 8 lanes, lane j = the per-doc MIN of the j-th 8-hex-char
    * slice of md5(shingle) ‖ md5('x' ‖ shingle) over distinct 5-char
    * shingles of the normalized text. md5 text and lexicographic MIN are
    * portable to any SQL engine — a DuckDB oracle reproduces every lane
    * bit-for-bit (unlike the xxhash64 production kernel, whose gates are
    * estimator-band verifies). Returns (`_id`, sig_0..sig_7). */
  def md5Signatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = spreadIfNarrow(
        df.select(col(idCol).as("_id"), col(textCol).as("_t")), col("_id"))
      .select(col("_id"), normalized(col("_t")).as("s"))
    val sh = norm.select(col("_id"), explode(array_distinct(
      transform(sequence(lit(1), greatest(length(col("s")) - 4, lit(1))),
        i => col("s").substr(i, lit(5))))).as("sh"))
    val hashed = sh.select(col("_id"),
      concat(md5(col("sh")), md5(concat(lit("x"), col("sh")))).as("h"))
    val aggs = (0 until 8).map(j =>
      min(substring(col("h"), j * 8 + 1, 8)).as(s"sig_$j"))
    hashed.groupBy(col("_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding of [[md5Signatures]] output: one exploded (band, bkey)
    * struct row per band per doc — 4 bands × 2 lanes, the equi-join shape
    * (signature columns ride along for the agreement count). */
  def md5BandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("_id") +:
      (0 until 8).map(j => col(s"sig_$j")) :+
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        concat(col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}")).as("bkey"))): _*))
        .as("_b"): _*)

  /** Signature-agreement count between `sa_j`/`sb_j` column families. */
  def md5AgreementCount: Column =
    (0 until 8).map(j =>
      when(col(s"sa_$j") === col(s"sb_$j"), 1).otherwise(0)).reduce(_ + _)

  /** Distributed connected components over an undirected edge list, via
    * alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). This is the
    * missing last stage of every near-dup miner above: LSH emits candidate
    * PAIRS, but keep-one-per-group semantics need the transitive closure —
    * doc A~B and B~C must land in ONE group even when A~C was never mined.
    *
    * Scale shape (100 TB): each round is two key-partitioned hash
    * aggregations/joins on (long, long) edges — no payloads, no Cartesian
    * anything — and the edge set only ever SHRINKS toward one (node →
    * component-min) star per component. Convergence is O(log n) rounds on
    * pathological chains and 1-2 rounds on the dense blob-shaped clusters
    * real near-dup mining produces. Each round ends in an EAGER
    * localCheckpoint: plans stay O(1) deep instead of O(rounds), which is
    * the difference between flat 8 B-row shuffles and a janino blowup (on
    * a real cluster swap in reliable checkpointing for executor-loss
    * tolerance; the algorithm is unchanged).
    *
    * Input: two LONG id columns of `edges` (self-loops ignored). Output:
    * (`id`, `component`) for every vertex incident to an edge, where
    * `component` is the smallest vertex id in its connected component.
    * Vertices absent from `edges` (singletons) are the caller's to union
    * in — [[clusterKeepOne]] does exactly that.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, aCol, bCol, maxRounds)._1

  /** String-id variant — the SAME alternating-star algorithm with
    * lexicographic min as the component representative (greatest / least
    * / min are order-generic in Catalyst). For vertex sets that already
    * have natural portable string identities (vocabulary tokens, URLs),
    * this avoids inventing a numeric id space the verification oracle
    * would then have to reproduce. */
  def connectedComponentsString(edges: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 50): DataFrame =
    connectedComponentsGeneric(edges.select(
      col(aCol).cast("string").as("_u"),
      col(bCol).cast("string").as("_v")), maxRounds)._1

  /** [[connectedComponents]] plus the number of star rounds it took —
    * exposed so specs can pin the O(log n) convergence bound. */
  private[graft] def connectedComponentsWithRounds(edges: DataFrame,
      aCol: String, bCol: String, maxRounds: Int): (DataFrame, Int) =
    connectedComponentsGeneric(edges.select(
      col(aCol).cast("long").as("_u"),
      col(bCol).cast("long").as("_v")), maxRounds)

  /** Shared star-contraction kernel over a pre-projected (_u, _v) edge
    * frame of any orderable id type. */
  private def connectedComponentsGeneric(pre: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    // Canonical working set: distinct (hi → lo) arcs, self-loops dropped.
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("_u"), col("_v")).as("_u"),
          least(col("_u"), col("_v")).as("_v"))
        .filter(col("_u") =!= col("_v")).distinct()

    // LARGE-STAR: every node points its LARGER neighbors at the minimum of
    // its closed neighborhood. Two shuffles, both keyed on _u (symmetrize →
    // groupBy; the min then travels back over the same key, so AQE plans a
    // co-partitioned or broadcast join of the per-key mins).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("_v").as("_u"), col("_u").as("_v")))
      val mins = sym.groupBy("_u")
        .agg(least(min(col("_v")), col("_u")).as("_m"))
      canon(sym.join(mins, "_u")
        .filter(col("_v") > col("_u"))
        .select(col("_v").as("_u"), col("_m").as("_v")))
    }

    // SMALL-STAR: on the (hi → lo)-oriented arcs, every node points its
    // smaller neighbors (and itself) at the minimum it can see.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("_u").agg(min(col("_v")).as("_m"))
      canon(e.join(mins, "_u")
        .select(col("_v").as("_u"), col("_m").as("_v"))
        .union(mins.select(col("_u"), col("_m").as("_v"))))
    }

    // Fixpoint test: both sets are canonical+distinct, so set equality ⇔
    // equal (count, XOR of xxhash64(_u,_v)) — a narrow aggregate over
    // the arcs, where the previous count+exceptAll pair cost two jobs
    // and a two-sided shuffle per round. XOR (not sum) because ANSI mode
    // makes an overflowing sum throw, and each distinct arc appears
    // exactly once so XOR is a clean set fingerprint. A false
    // "converged" needs a hash collision between distinct same-size sets
    // (~2^-64); the cluster gates would catch it as a label mismatch.
    //
    // r18: the fingerprint rides the checkpoint's OWN materialization
    // job as an `observe` metric (eager localCheckpoint runs under
    // withAction, so the CollectMetrics accumulator fires) — one job
    // per round where fingerprint-after-checkpoint paid two. The
    // observe node lives below the checkpoint, so the returned Dataset
    // (a LogicalRDD) never re-fires it.
    def checkpointWithFingerprint(e: DataFrame)
        : (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = e.observe(obs,
          count(lit(1)).as("n"),
          coalesce(call_function("bit_xor",
            xxhash64(col("_u"), col("_v"))), lit(0L)).as("x"))
        .localCheckpoint(true)
      val m = obs.get
      (ck, (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long]))
    }
    var (cur, curFp) = checkpointWithFingerprint(canon(pre))
    var rounds = 0
    var converged = curFp._1 == 0L
    while (!converged && rounds < maxRounds) {
      val (next, nextFp) = checkpointWithFingerprint(smallStar(largeStar(cur)))
      rounds += 1
      converged = nextFp == curFp
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized — free them now instead of leaking every
      // round's arcs to the block manager until RDD GC (r18)
      org.apache.spark.sql.GraftPlanBridge
        .unpersistLocalCheckpoint(cur.queryExecution.analyzed)
      cur = next
      curFp = nextFp
    }
    require(converged, s"connectedComponents: no fixpoint in $maxRounds rounds")
    // Fixpoint ⇒ every arc is (member → component-min); the mins label
    // themselves.
    val labels = cur.select(col("_u").as("id"), col("_v").as("component"))
      .union(cur.select(col("_v").as("id"), col("_v").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
    (labels, rounds)
  }

  /** Keep-one-per-cluster over a mined pair set: every vertex of `docs`
    * absent from `pairs` survives as its own singleton; each connected
    * component of `pairs` survives once, as its smallest id. Returns
    * (`id`, `component`, `n_merged`) for the kept rows only — `n_merged`
    * counts the docs the kept row now represents (1 for singletons).
    * The docs side joins on ids only; payloads never enter a shuffle. */
  def clusterKeepOne(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    keepOneFromLabels(docs, idCol, connectedComponents(pairs, aCol, bCol))

  /** [[clusterKeepOne]] over PRE-COMPUTED component labels (`id`,
    * `component`) — the reuse path when one mining pass feeds several
    * downstream consumers. */
  def keepOneFromLabels(docs: DataFrame, idCol: String,
      labels: DataFrame): DataFrame = {
    val ids = docs.select(col(idCol).cast("long").as("id"))
    val labeled = ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    labeled.groupBy("component")
      .agg(min(col("id")).as("id"), count(lit(1)).as("n_merged"))
      .select(col("id"), col("component"), col("n_merged"))
  }

  // --------------------------------------- exact all-pairs similarity (APSS)

  /** Sparse TF-IDF postings with ALL-INTEGER weights — the engine-portable
    * sparse vector the exact all-pairs search runs on. `w = tf ·
    * bit_length(N div df)`: term frequency times a log2-quantized idf (the
    * `bin()` bit-length trick the log2-histogram census uses), so weights,
    * norms-squared and dot products are exact Long arithmetic with no float
    * idf to drift between engines. Output columns: `id`, `tok`, `df`
    * (the token's document frequency — the prefix filter's global feature
    * order), `w`. One token shuffle for tf, one for df, plus a broadcast
    * one-row corpus count — the BM25 cost shape. */
  def tfidfPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("id"),
      explode(tokensOf(normalized(col(textCol)))).as("tok"))
    val tf = toks.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val nDocs = tf.agg(countDistinct(col("id")).as("n_docs"))
    val dfTok = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(dfTok, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") * length(expr("bin(n_docs div df)")))
      .select(col("id"), col("tok"), col("df"), col("w"))
  }

  /** EXACT all-pairs cosine similarity at threshold `tNum/tDen` over sparse
    * TF-IDF vectors, with PREFIX FILTERING (Bayardo, Ma & Srikant, "Scaling
    * Up All Pairs Similarity Search", WWW 2007): never all-pairs, provably
    * no recall loss.
    *
    * Global feature order = ascending (`df`, `tok`): rarest tokens first.
    * Per doc, walk features in that order and INDEX position i iff the
    * tail from i still carries ≥ t of the doc's norm —
    * `tDen²·Σ_{j≥i} w_j² ≥ tNum²·Σ w_j²` (all-Long; no square roots).
    * Soundness: let f* be the first SHARED feature of a pair in the global
    * order. If f* is past x's indexed prefix then EVERY shared feature is
    * in x's unindexed tail (the tail is a suffix of the same global
    * order), so dot ≤ ‖tail(x)‖·‖y‖ < t·‖x‖·‖y‖ — any pair at cosine ≥ t
    * must share an INDEXED token on both sides, and the candidate join on
    * the prefix index finds it. Frequent tokens sort last, so their
    * postings land in unindexed tails — the index's per-token lists stay
    * small exactly where the corpus is hot (the ordering, not a cap, is
    * the skew defense; `SparseAllPairsSpec` pins completeness vs brute
    * force and the index-shrink invariant).
    *
    * Candidates then get ONE exact verification: dot over full postings
    * via a (id, tok) equi-join, integer filter `dot²·tDen² ≥
    * tNum²·‖x‖²·‖y‖²` in decimal(38,0) (dot² overflows Long), cosine
    * reported as `round(dot/(√sa·√sb), 6)` from exact-integer inputs.
    *
    * `postings` must be [[tfidfPostings]] output, persisted by the caller
    * (it is read from four plan branches). 100 TB shape: two token-keyed
    * shuffles (index self-join, verify join) + per-doc window sums —
    * nothing quadratic outside shared-prefix buckets, vectors never
    * materialize densely. */
  def sparseAllPairs(postings: DataFrame, tNum: Int, tDen: Int): DataFrame =
    scoreSparsePairs(postings, prefixCandidates(postings, tNum, tDen),
      tNum, tDen)

  /** The prefix index self-join: candidate (id_a, id_b) pairs sharing at
    * least one INDEXED token. */
  private[graft] def prefixCandidates(postings: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum < tDen,
      s"similarity threshold must be in (0,1), got $tNum/$tDen")
    val byDoc = Window.partitionBy("id").orderBy(col("df").asc, col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("id")
    val a2 = tNum.toLong * tNum
    val b2 = tDen.toLong * tDen
    val idx = postings
      .withColumn("_cum", sum(col("w") * col("w")).over(byDoc))
      .withColumn("_s2", sum(col("w") * col("w")).over(whole))
      // tail(i) = s2 − cum(i−1) = s2 − cum(i) + w_i²
      .filter(lit(b2) * (col("_s2") - col("_cum") + col("w") * col("w")) >=
        lit(a2) * col("_s2"))
      .select(col("id"), col("tok"))
    // NOTE on candidate volume: tighter per-pair bounds (positional tail
    // filtering à la Anastasiu & Karypis L2AP) were measured on this
    // corpus and pruned <1% — when documents are templated, the first
    // shared token of almost every candidate pair sits at near-full tail
    // mass on both sides, so Cauchy-Schwarz at the match position is
    // vacuous. Candidate count is governed by corpus self-similarity at
    // the threshold, not by the filter; for corpora where sub-threshold
    // similarity is pervasive, the banded LSH miners (bounded recall,
    // bounded work) are the right tool and exact APSS is for the tail.
    idx.as("xa").join(idx.as("xb"),
        col("xa.tok") === col("xb.tok") && col("xa.id") < col("xb.id"))
      .select(col("xa.id").as("id_a"), col("xb.id").as("id_b"))
      .distinct()
  }

  /** Exact cosine filter over candidate pairs: full-postings dot via the
    * (id, tok) equi-join, all-integer threshold compare, rounded cosine
    * out. Shared by the prefix-filtered path and the spec's brute-force
    * oracle (which feeds ALL co-occurring pairs as candidates). */
  private[graft] def scoreSparsePairs(postings: DataFrame, cand: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    val a2 = tNum.toLong * tNum
    val b2 = tDen.toLong * tDen
    val dec = "decimal(19,0)"
    val norms = postings.groupBy("id").agg(sum(col("w") * col("w")).as("s2"))
    cand
      .join(postings.select(col("id").as("id_a"), col("tok"),
        col("w").as("wa")), Seq("id_a"))
      .join(postings.select(col("id").as("id_b"), col("tok"),
        col("w").as("wb")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("s2").as("sa")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("s2").as("sb")), "id_b")
      .filter(col("dot").cast(dec) * col("dot").cast(dec) * lit(b2) >=
        lit(a2) * col("sa").cast(dec) * col("sb").cast(dec))
      .select(col("id_a"), col("id_b"),
        round(col("dot").cast("double") /
          (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double"))),
          6).as("cos_sim"))
  }
}
