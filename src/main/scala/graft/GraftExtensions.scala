package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, EqualTo, Expression, ExpressionInfo, Literal, Subtract}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, MapType, StringType}
import graft.functions.{Crc64Expr, GramHashes, LaneAgreement, LanesXxHash, MinhashSigs, MinhashSigsPacked, NfcNormalize, PackVec, PackedDot, PackedSketch, PqAdc, PqEncode, Simhash64}
import graft.operators.Export.Layout

/** §2.8 extension seam: graft's native Catalyst expressions as SQL
  * functions. Two entry points:
  *
  *  - session startup: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (the standard SparkSessionExtensions route);
  *  - an already-running session: `GraftExtensions.register(spark)`.
  *
  * After either, plain SQL can use the operators:
  * {{{
  *   SELECT crc64(encode(col, 'UTF-8')) FROM t
  *   SELECT packed_dot(pack_vec(CAST(a AS ARRAY<DOUBLE>)),
  *                     pack_vec(CAST(b AS ARRAY<DOUBLE>)))
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    GraftExtensions.tableDefinitions.foreach { case (ident, info, builder) =>
      ext.injectTableFunction((ident, info, builder))
    }
    ext.injectResolutionRule(GraftExtensions.catalogReadRule)
    ext.injectResolutionRule(ApplyLakeDeletionVectors.apply)
    // native MERGE INTO / UPDATE statements on lake catalog tables →
    // deferred commands routed to the audited commit paths
    ext.injectResolutionRule(graft.plans.RewriteGraftLakeDml.apply)
    // persistent SQL views in the lake catalog: CREATE/DROP/SHOW VIEW
    // + text re-expansion on read (Spark has no v2 view exec path).
    // HINT seam, not resolution: the Hints batch runs BEFORE
    // ResolveSessionCatalog, which throws MISSING_CATALOG_ABILITY on
    // any view statement aimed at a non-session catalog
    ext.injectHintResolutionRule(graft.plans.RewriteGraftLakeDdl.apply)
    // DESCRIBE HISTORY / DESCRIBE DETAIL — two statements Spark's
    // grammar lacks (Delta ships its own parser for them); the
    // delegating parser claims exactly those shapes, everything else
    // passes through verbatim
    ext.injectParser((_, delegate) =>
      new graft.plans.GraftSqlParser(delegate))
    // the physical leg of every deferred lake command: side effects
    // fire at EXECUTION, so EXPLAIN/schema inspection commits nothing
    ext.injectPlannerStrategy(_ => graft.plans.GraftLakeStrategy)
  }
}

/** Serve MERGE-ON-READ heads from the plain batch relation: a lake
  * version whose manifest lines carry `dv=` tags plans its raw files
  * through [[graft.sources.GraftLakeFileIndex]], and THIS rule — at
  * analysis time, once per relation — rewrites the scan into
  *
  *   scan ⟕̸ (anti) dv-sidecar  ON (_metadata.file_path, row_index)
  *
  * i.e. exactly the subtraction [[graft.operators.Export]]'s read
  * funnel applies, expressed as a plan rewrite so
  * `spark.read.format("graftlake")`, the SQL catalog, and the
  * `graft_snapshot` TVF all get MoR-correct results with NO wrapper
  * API. The base scan keeps its manifest file pruning, pushed filters
  * and vectorized reads; the DV side is a tiny positions-only parquet
  * scan that AQE broadcasts when small and shuffles on a mass delete —
  * the same 100 TB shape as the funnel. The inner relation is marked
  * via its options so the analyzer's fixpoint can't rewrite twice, and
  * the outer Project restores the original attribute ids so parent
  * operators never notice the substitution.
  *
  * `_metadata` PROPAGATES through the rewrite (r14, closes the r13
  * documented gap): the base relation is materialized WITH its file
  * metadata column, the struct rides the anti-join under an internal
  * name, and the outer Project re-exposes it under the original
  * metadata attribute id — hidden from `SELECT *` (the standard
  * qualified-access-only marker the analyzer's own materialization
  * uses) but resolvable by name exactly like a plain file relation's,
  * via the Project hidden-output tag. File provenance on a DV-bearing
  * head therefore reports the SURVIVING rows' real files, which is
  * the only consistent answer an anti-join subtraction has. */
private[graft] case class ApplyLakeDeletionVectors(
    spark: org.apache.spark.sql.SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import org.apache.spark.sql.functions.col

  private val Marker = "graft.dv.applied"

  private def dvIndexOf(lr: LogicalRelation)
      : Option[graft.sources.GraftLakeFileIndex] = lr.relation match {
    case r: HadoopFsRelation if !r.options.contains(Marker) =>
      r.location match {
        case idx: graft.sources.GraftLakeFileIndex
            if idx.dvDirs.nonEmpty => Some(idx)
        case _ => None
      }
    case _ => None
  }

  /** True when this subtree contains an already-DV-rewritten graft
    * scan (the marker the rewrite stamps on the inner relation). */
  private def hasMarkedGraftScan(plan: LogicalPlan): Boolean =
    plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case r: HadoopFsRelation => r.options.contains(Marker) &&
          r.location.isInstanceOf[graft.sources.GraftLakeFileIndex]
        case _ => false
      }
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // a named read over a DV-rewritten lake scan (`SELECT ... FROM
    // cat.ns.t`, `df.alias(...)`): SubqueryAlias only propagates
    // metadataOutput when its child is a LEAF, which a rewritten scan
    // never is — so the alias is replaced by its child Project with
    // the alias's QUALIFIER stamped on the output, preserving `t.k` /
    // `t.*` resolution while letting the advertised `_metadata` flow.
    // Tags (the hidden-output advertisement) are copied through.
    case sa: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
        if sa.child.isInstanceOf[Project] &&
          sa.child.metadataOutput.exists(_.name == "_metadata") &&
          hasMarkedGraftScan(sa.child) =>
      val p = sa.child.asInstanceOf[Project]
      val q = sa.identifier.qualifier :+ sa.alias
      val qualified = Project(p.projectList.map {
        case al: Alias =>
          Alias(al.child, al.name)(exprId = al.exprId, qualifier = q,
            explicitMetadata = al.explicitMetadata,
            nonInheritableMetadataKeys = al.nonInheritableMetadataKeys)
        case ar: org.apache.spark.sql.catalyst.expressions
            .AttributeReference => ar.withQualifier(q)
        case other => other
      }, p.child)
      qualified.copyTagsFrom(p)
      qualified
    case lr: LogicalRelation if dvIndexOf(lr).isDefined =>
      rewrite(lr, Seq.empty)
  }

  private def rewrite(lr: LogicalRelation,
      qualifier: Seq[String]): LogicalPlan = {
      val idx = dvIndexOf(lr).get
      val r = lr.relation.asInstanceOf[HadoopFsRelation]
      val marked = lr.copy(relation =
        r.copy(options = r.options + (Marker -> "true"))(spark))
      // materialize the file-metadata column on the base relation (the
      // analyzer's own AddMetadataColumns shape): the struct must ride
      // the anti-join so parents can still ask for provenance — and
      // when a parent ALREADY materialized it (SQL analyzes references
      // before extension rules run), lr.output carries it and the
      // rewrite must keep producing that exprId
      val alreadyMat = lr.output.exists(_.name == "_metadata")
      val withMd: LogicalRelation =
        if (alreadyMat || marked.metadataOutput.isEmpty) marked
        else marked.withMetadataColumns().asInstanceOf[LogicalRelation]
      val mdOut = withMd.output.find(_.name == "_metadata")
      val base = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, withMd)
      def fresh(stem: String): String = {
        val taken = base.columns.toSet
        Iterator.from(0).map(i => if (i == 0) stem else s"${stem}_$i")
          .find(!taken(_)).get
      }
      val fcol = fresh("__dv_file")
      val pcol = fresh("__dv_pos")
      val mcol = fresh("__dv_md")
      val dv = graft.operators.Export.readDvs(spark, idx.dvDirs)
        .select(col(graft.operators.Export.DvFileCol).as(fcol),
          col(graft.operators.Export.DvPosCol).as(pcol))
      // reference the (hidden) metadata attribute directly by id —
      // star excludes it and by-name lookup may too, by design
      val mdColumn = mdOut.map(a =>
        org.apache.spark.sql.GraftColumnBridge.column(a))
      val subtracted = base
        .select(Seq(col("*")) ++
          mdColumn.map(_.as(mcol)) ++
          mdColumn.map(_.getField("file_path").as(fcol)) ++
          mdColumn.map(_.getField("row_index").as(pcol)): _*)
        .join(dv, Seq(fcol, pcol), "left_anti")
        .drop(fcol, pcol)
        .queryExecution.analyzed
      val byName = subtracted.output.map(a => a.name -> a).toMap
      def src(name: String): org.apache.spark.sql.catalyst.expressions.Attribute =
        byName.getOrElse(name, throw new IllegalStateException(
          s"DV rewrite of ${idx} lost column '$name'"))
      val restored = lr.output.map { o =>
        Alias(if (o.name == "_metadata") src(mcol) else src(o.name),
          o.name)(exprId = o.exprId, qualifier = qualifier,
          explicitMetadata = Some(o.metadata))
      }
      if (alreadyMat || mdOut.isEmpty)
        Project(restored, subtracted)
      else {
        // two-layer shape so provenance stays OUT of the visible
        // schema yet resolvable: the inner Project produces the
        // original columns PLUS the metadata struct under its
        // advertised name (marked metadata-col + qualified-access-only,
        // the same stamps the analyzer's own materialization uses);
        // the outer Project exposes only the original columns and
        // advertises the hidden one via [[Project.hiddenOutputTag]] —
        // the analyzer's AddMetadataColumns then threads it up when,
        // and only when, a parent actually references `_metadata`.
        import org.apache.spark.sql.catalyst.util.{MetadataColumnHelper, METADATA_COL_ATTR_KEY, QUALIFIED_ACCESS_ONLY}
        val a = mdOut.get
        val mdMeta = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(a.metadata)
          .putBoolean(METADATA_COL_ATTR_KEY, true)
          .putBoolean(QUALIFIED_ACCESS_ONLY, true).build()
        val mdAlias = Alias(src(mcol), a.name)(
          qualifier = qualifier, explicitMetadata = Some(mdMeta))
        val inner = Project(restored :+ mdAlias, subtracted)
        val outer = Project(restored.map(al =>
          al.toAttribute.withMetadata(al.metadata)), inner)
        outer.setTagValue(Project.hiddenOutputTag,
          Seq(mdAlias.toAttribute.markAsAllowAnyAccess()))
        outer
      }
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** (identifier, doc, builder) for every exposed function. */
  val definitions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("crc64"),
      info("crc64", "crc64(binary) - CRC64 (ECMA-182, reflected) of the bytes"),
      (args: Seq[Expression]) => Crc64Expr(args.head)),
    (FunctionIdentifier("pack_vec"),
      info("pack_vec", "pack_vec(array<double>) - pack into an 8-byte-per-" +
        "element binary vector for packed_dot"),
      (args: Seq[Expression]) => PackVec(args.head)),
    (FunctionIdentifier("packed_dot"),
      info("packed_dot", "packed_dot(binary, binary) - dot product of two " +
        "pack_vec vectors"),
      (args: Seq[Expression]) => PackedDot(args(0), args(1))),
    (FunctionIdentifier("packed_sketch"),
      info("packed_sketch", "packed_sketch(binary, planes, seed) - random-" +
        "hyperplane LSH sketch of a pack_vec vector"),
      (args: Seq[Expression]) => PackedSketch(args.head,
        litInt(args(1), "planes"), litInt(args(2), "seed"))),
    (FunctionIdentifier("minhash_sigs"),
      info("minhash_sigs", "minhash_sigs(string, k, n) - n-hash MinHash " +
        "signature over char-k-shingles of a normalized string"),
      (args: Seq[Expression]) => MinhashSigs(args.head,
        litInt(args(1), "k"), litInt(args(2), "n"))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(string) - 64-bit SimHash of a " +
        "normalized (single-space-tokenized) string"),
      (args: Seq[Expression]) => Simhash64(args.head)),
    (FunctionIdentifier("gram_hashes"),
      info("gram_hashes", "gram_hashes(string, n) - distinct word-n-gram " +
        "hashes of a normalized string"),
      (args: Seq[Expression]) => GramHashes(args.head, litInt(args(1), "n"))),
    (FunctionIdentifier("minhash_sigs_packed"),
      info("minhash_sigs_packed", "minhash_sigs_packed(string, k, n) - " +
        "MinHash signature as one 8-bytes-per-hash binary (lane j equals " +
        "minhash_sigs(...)[j])"),
      (args: Seq[Expression]) => MinhashSigsPacked(args.head,
        litInt(args(1), "k"), litInt(args(2), "n"))),
    (FunctionIdentifier("lanes_xxhash"),
      info("lanes_xxhash", "lanes_xxhash(binary, start, count) - xxhash64 " +
        "fold over 8-byte lanes [start, start+count) of a packed signature " +
        "(equals xxhash64(h_start, ...) over the flat values)"),
      (args: Seq[Expression]) => LanesXxHash(args.head,
        litInt(args(1), "start"), litInt(args(2), "count"))),
    (FunctionIdentifier("lane_agreement"),
      info("lane_agreement", "lane_agreement(binary, binary) - count of " +
        "equal 8-byte lanes between two packed signatures"),
      (args: Seq[Expression]) => LaneAgreement(args(0), args(1))),
    (FunctionIdentifier("pq_encode"),
      info("pq_encode", "pq_encode(packed_vec, codebook, m, k) - product-" +
        "quantization codes (m bytes) of a packed vector against a packed " +
        "m*k*(dim/m)-double codebook"),
      (args: Seq[Expression]) => PqEncode(args(0), args(1),
        litInt(args(2), "m"), litInt(args(3), "k"))),
    (FunctionIdentifier("pq_adc"),
      info("pq_adc", "pq_adc(codes, table, k) - asymmetric-distance score: " +
        "sum of the query's precomputed per-subspace dots selected by each " +
        "code byte"),
      (args: Seq[Expression]) => PqAdc(args(0), args(1), litInt(args(2), "k"))),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(string) - Unicode NFC " +
        "composition (no-op fast path for already-normalized text)"),
      (args: Seq[Expression]) => NfcNormalize(args.head)),
    (FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "bloom_might_contain(key_bigint, " +
        "filter_binary) - membership probe of a 64-bit key against a " +
        "serialized Bloom filter (foldable binary, e.g. from unhex)"),
      (args: Seq[Expression]) =>
        graft.functions.BloomMightContain(args.head, litBinary(args(1)))),
    // census sketch kernels (§2.8 seam for the Sketches family): the
    // same md5-portable hash / rank / bin arithmetic the DataFrame
    // kernels use, built as catalyst trees (composition via the Column
    // API is not available inside a function builder — its ColumnNode
    // wrapper is Unevaluable; nested UnresolvedFunctions resolve in the
    // analyzer's fixpoint instead). GraftExtensionsSpec pins SQL-built
    // registers/cells/bins equal to hllRegisters/cmsCounts/logHistogram.
    (FunctionIdentifier("hll_bucket"),
      info("hll_bucket", "hll_bucket(value, m) - HLL register index: " +
        "portable md5 hash32 of the value mod m (m a power-of-two " +
        "literal in [16, 256])"),
      (args: Seq[Expression]) => {
        val m = litHllM(args(1))
        castTo(fn("mod", hash32Expr(args.head), longLit(m)), IntegerType)
      }),
    (FunctionIdentifier("hll_rho"),
      info("hll_rho", "hll_rho(value, m) - HLL rank: leading-zero rank " +
        "of the hash quotient, saturating at wBits+1 when the quotient " +
        "is 0; max-aggregate per (group, hll_bucket) to build registers"),
      (args: Seq[Expression]) => {
        val m = litHllM(args(1))
        val wBits = 32 - (31 - Integer.numberOfLeadingZeros(m))
        // div ≡ the kernel's double-divide-then-truncate: h < 2^32 is
        // double-exact and nonnegative, so both are floor(h/m)
        val w = fn("div", hash32Expr(args.head), longLit(m))
        val rho = CaseWhen(
          Seq((EqualTo(w, Literal(0L)), Literal(wBits + 1))),
          Some(Subtract(Literal(wBits + 1), fn("length", fn("bin", w)))))
        castTo(rho, IntegerType)
      }),
    (FunctionIdentifier("cms_cell"),
      info("cms_cell", "cms_cell(value, i, w) - count-min column index " +
        "for hash row i (literal in [0, 7]) of width w; count-aggregate " +
        "per (i, cms_cell) to build the sketch"),
      (args: Seq[Expression]) => {
        val i = litInt(args(1), "i")
        val w = litInt(args(2), "w")
        require(i >= 0 && i <= 7 && w >= 16, s"bad cms cell shape i=$i w=$w")
        castTo(fn("mod", hash32Expr(args.head, s"${i}_"), longLit(w)),
          IntegerType)
      }),
    (FunctionIdentifier("log2_bin"),
      info("log2_bin", "log2_bin(value) - log2-histogram bin of a " +
        "non-negative BIGINT: bit length of the value, 0 for 0; " +
        "count-aggregate per bin to build the mergeable histogram"),
      (args: Seq[Expression]) => {
        val v = castTo(args.head, LongType)
        castTo(CaseWhen(
          Seq((EqualTo(v, Literal(0L)), Literal(0))),
          Some(fn("length", fn("bin", v)))), IntegerType)
      }),
    (FunctionIdentifier("unigram_segment"),
      info("unigram_segment", "unigram_segment(word, map('piece', weight, " +
        "...), unk_weight) - Viterbi unigram-LM segmentation of a word " +
        "into vocabulary pieces under foldable fixed-point log-likelihood " +
        "weights (smallest-length tie-break; unknown single chars score " +
        "unk_weight)"),
      (args: Seq[Expression]) =>
        graft.functions.UnigramSegment(args.head, litWeightMap(args(1)),
          litLong(args(2), "unk_weight"))))

  /** The snapshot TVFs' one frame: the manifest-planned
    * HadoopFsRelation (the batch format's relation), so outer WHERE
    * conjuncts prune FILES through the manifest tags
    * ([[graft.sources.GraftLakeBatch.excludes]]) on top of the pushed
    * parquet filters. Column-mapped heads ride the physical-renaming
    * format and DV-bearing heads the anti-join rewrite, both keeping
    * the manifest pruning; only LEGACY pre-header manifests fall back
    * to [[graft.operators.Export.readSnapshot]]. */
  private def snapshotFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Int): org.apache.spark.sql.DataFrame =
    try spark.baseRelationToDataFrame(
      graft.sources.GraftLakeBatch.relation(spark, path,
        Map("versionAsOf" -> v.toString)))
    catch {
      case _: IllegalArgumentException | _: IllegalStateException =>
        graft.operators.Export.readSnapshot(spark, path, v)
    }

  /** Table-valued functions — the LAKE surface from plain SQL: a
    * snapshot table (any version / timestamp) and its DESCRIBE HISTORY
    * as FROM-clause relations, so `spark.sql` users time-travel without
    * touching the Scala API:
    * {{{
    *   SELECT * FROM graft_snapshot('/path/table')           -- latest
    *   SELECT * FROM graft_snapshot('/path/table', 3)        -- AS OF v3
    *   SELECT * FROM graft_snapshot_at('/path/table', <ms>)  -- TS AS OF
    *   SELECT version, operation FROM graft_history('/path/table')
    * }}}
    * The builder runs at plan-build time: it resolves the manifest
    * (planning-side metadata only) and splices the manifest-exact scan's
    * logical plan into the query tree — the outer analyzer/optimizer
    * then prune columns and push filters into that scan like any other
    * relation. Arguments must be literals (the manifest must be
    * readable at planning time — the same contract as every table
    * format's SQL time travel). */
  val tableDefinitions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_snapshot"),
      info("graft_snapshot", "graft_snapshot(path[, version[, " +
        "'col=val/col=val']]) - snapshot table AS OF a committed " +
        "version (default: latest), optionally PARTITION-PRUNED: with " +
        "the third argument only manifest lines matching every " +
        "partition equality are planned (the exact predicate is still " +
        "applied on top)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val path = litPath(args.head, "path")
        val v =
          if (args.length > 1) litLong(args(1), "version").toInt
          else graft.operators.Export.latestSnapshotVersion(path)
        val frame = snapshotFrame(spark, path, v)
        if (args.length > 2) {
          val spec = litString(args(2), "partition filter")
          spec.split('/').filter(_.nonEmpty).map { kv =>
            kv.split("=", 2) match {
              case Array(k, value) => k -> value
              case _ => throw new IllegalArgumentException(
                s"partition filter expects col=val segments, got: $kv")
            }
          }.toMap.foldLeft(frame) { case (d, (k, value)) =>
            d.filter(org.apache.spark.sql.functions.col(k)
              .cast("string") === value)
          }.queryExecution.logical
        } else frame.queryExecution.logical
      }),
    (FunctionIdentifier("graft_snapshot_at"),
      info("graft_snapshot_at", "graft_snapshot_at(path, ts_millis) - " +
        "snapshot table TIMESTAMP AS OF epoch-millis (newest version " +
        "committed at or before it)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val path = litPath(args.head, "path")
        snapshotFrame(spark, path, graft.operators.Export
          .resolveAsOfTimestamp(path, litLong(args(1), "ts_millis")))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_history"),
      info("graft_history", "graft_history(path) - DESCRIBE HISTORY: one " +
        "row per committed version (version, committed_at, operation, " +
        "n_files, batch)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Export.snapshotHistory(spark,
            litPath(args.head, "path"))
          .queryExecution.logical
      }),
    // ---- SQL DML procedures (CALL-style): the WRITE half of the SQL
    // seam. Each ANALYZES to a deferred [[graft.plans.GraftLakeCommand]]
    // leaf — argument literals are validated at plan-build, but the
    // lake operation itself runs at PHYSICAL EXECUTION (the r12
    // execute-on-analyze wart is closed: `.explain()`, a schema
    // preview, or CREATE VIEW over a procedure commits NOTHING; the
    // first action commits exactly once). Plain-SQL users get
    // MERGE/DELETE/UPDATE/OPTIMIZE/VACUUM without the Scala API — the
    // Delta-procedures shape on the existing extension seam. Arguments
    // are literals, like every TVF here.
    (FunctionIdentifier("graft_detail"),
      info("graft_detail", "graft_detail(path) - DESCRIBE DETAIL: one " +
        "row summarizing the head (version, operation, file/byte " +
        "counts from the manifest alone, partition/cluster layout, " +
        "DV and zoned file counts, schema width, generated columns, " +
        "properties, constraints)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Export.snapshotDetail(spark,
            litPath(args.head, "path"))
          .queryExecution.logical
      }),
    (FunctionIdentifier("graft_delete"),
      info("graft_delete", "graft_delete(path, predicate_sql[, 'mor']) " +
        "- DELETE FROM the lake table: copy-on-write by default, " +
        "merge-on-read deletion vectors with the 'mor' mode. Returns " +
        "(version)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val predicate = litString(args(1), "predicate")
        val mor = args.length > 2 &&
          litString(args(2), "mode").equalsIgnoreCase("mor")
        graft.plans.GraftLakeCommand.oneRow("graft_delete", Seq("version")) { () =>
          val spark = org.apache.spark.sql.SparkSession.active
          val cond = org.apache.spark.sql.functions.expr(predicate)
          val v =
            if (mor)
              graft.operators.Export.deleteWhereMoR(spark, path, cond)
            else graft.operators.Export.deleteWhere(spark, path, cond)
          Seq(v.toLong)
        }
      }),
    (FunctionIdentifier("graft_update"),
      info("graft_update", "graft_update(path, 'col=expr[;col=expr]', " +
        "predicate_sql[, 'mor']) - UPDATE the lake table: rows matching " +
        "the predicate take the assignments (a dotted col like " +
        "meta.score updates that struct field in place). " +
        "Copy-on-write by default " +
        "(file-scoped - manifest tags prune files the predicate " +
        "provably excludes); with 'mor', a MERGE-ON-READ commit " +
        "(deletion-vector the matched positions + append the updated " +
        "copies - O(matched) writes at any table size). Returns " +
        "(version)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val setSpec = litString(args(1), "assignments")
        val predicate = litString(args(2), "predicate")
        val mor = args.length > 3 &&
          litString(args(3), "mode").equalsIgnoreCase("mor")
        val sets = setSpec.split(';').toSeq.filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => k.trim -> v.trim
            case _ => throw new IllegalArgumentException(
              s"assignments expect col=expr[;col=expr], got: $kv")
          }
        }
        require(sets.nonEmpty, "graft_update needs at least one col=expr")
        graft.plans.GraftLakeCommand.oneRow("graft_update", Seq("version")) { () =>
          val spark = org.apache.spark.sql.SparkSession.active
          // a dotted lhs (`meta.score=expr`) is a struct-field
          // assignment, and an indexed one (`tags[0]=expr`,
          // `meta.tags[2].name=expr`) an ARRAY-ELEMENT rewrite —
          // split honoring backtick quotes (so a top-level column
          // named `a.b` stays addressable), then fold each root's
          // updates through the SAME duplicate/overlap refusals as
          // SQL UPDATE (graft.plans.DmlAssignments — one law, both
          // front doors)
          val A = graft.plans.DmlAssignments
          val cSets = sets
            .map { case (c, e) =>
              A.parseSteps(c) match {
                case A.Field(root) +: rest =>
                  (root, rest, org.apache.spark.sql.functions.expr(e))
                case other => throw new IllegalArgumentException(
                  s"graft_update: assignment target '$c' must start " +
                    "with a column name")
              }
            }
            .groupBy(_._1).toSeq.map { case (root, items) =>
              root -> A.foldSteps(root, A.colOf(root),
                items.map(i => (i._2, i._3)),
                msg => throw new IllegalArgumentException(
                  s"graft_update: $msg"))
            }
          val cond = org.apache.spark.sql.functions.expr(predicate)
          Seq((if (mor)
              graft.operators.Export.updateWhereMoR(spark, path, cSets,
                cond)
            else graft.operators.Export.updateWhere(spark, path, cSets,
              cond)).toLong)
        }
      }),
    (FunctionIdentifier("graft_merge"),
      info("graft_merge", "graft_merge(path, source_view, " +
        "'k1,k2'[, 'o1,o2'[, 'mor'|'evolve'|'mor+evolve']]) - MERGE " +
        "INTO the lake table from " +
        "a registered view/table: full-row upsert by key; with the " +
        "order column list, ORDER-RESOLVED (max-by wins, the CDC " +
        "shape). Partition-scoped automatically when the table's " +
        "layout columns are part of the key; with 'mor', a MERGE-ON-" +
        "READ commit (deletion-vector the beaten incumbents + append " +
        "the winners - O(batch) writes at any table size); with " +
        "'evolve', a WIDER source first evolves the table schema " +
        "through the same metadata-only commits as MERGE ... WITH " +
        "SCHEMA EVOLUTION (new columns nullable, safe widenings). " +
        "Returns (version)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val view = litString(args(1), "source view")
        val keys = litString(args(2), "key list")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val orderCols =
          if (args.length > 3) litString(args(3), "order list")
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          else Seq.empty
        val modes: Set[String] =
          if (args.length > 4) {
            val m = litString(args(4), "mode")
            val ms = m.split('+').map(_.trim).filter(_.nonEmpty).toSet
            require(ms.nonEmpty && ms.subsetOf(Set("mor", "evolve")),
              s"mode must be 'mor', 'evolve' or 'mor+evolve', got '$m'")
            ms
          } else Set.empty
        val mor = modes("mor")
        val evolve = modes("evolve")
        if (mor) require(orderCols.nonEmpty,
          "graft_merge(..., 'mor') needs the order column list - " +
            "MoR resolution is order-resolved")
        graft.plans.GraftLakeCommand.oneRow("graft_merge", Seq("version")) { () =>
          val spark = org.apache.spark.sql.SparkSession.active
          val updates0 = spark.table(view)
          val E = graft.operators.Export
          require(E.latestSnapshotVersion(path) > 0,
            s"nothing to merge into under $path")
          // 'evolve' is a TWO-COMMIT shape (one metadata-only schema
          // commit, then the merge commit — each atomic on its own,
          // the pair not): validate every merge precondition BEFORE
          // landing the evolution, so a merge that would refuse
          // cannot leave the widened schema committed behind it
          locally {
            val head = E.latestSnapshotVersion(path)
            val headCols = E.snapshotSchema(path, head)
              .map(_.fieldNames.toSet).getOrElse(Set.empty[String])
            keys.foreach(k => require(
              headCols.contains(k) && updates0.columns.contains(k),
              s"merge key '$k' must exist in BOTH the table " +
                s"(${headCols.mkString(", ")}) and the source view"))
            orderCols.foreach(o => require(
              updates0.columns.contains(o) || headCols.contains(o),
              s"order column '$o' exists in neither the table nor " +
                "the source view"))
            if (mor) require(
              E.snapshotPartitionColumns(path, head).isEmpty,
              "graft_merge(..., 'mor') refuses PARTITIONED tables " +
                "(a MoR insert epoch carries no p= specs); use the " +
                "partition-scoped CoW merge instead")
          }
          // 'evolve': land the source-minus-target delta as ONE
          // metadata-only commit BEFORE the merge (the SQL statement's
          // law), then null-fill the source up to the evolved width -
          // full-row upsert semantics over the union schema
          if (evolve) E.evolveSnapshotSchema(path, updates0.schema)
          val latest = E.latestSnapshotVersion(path)
          val updates =
            if (!evolve) updates0
            else E.snapshotSchema(path, latest) match {
              case Some(st) =>
                st.fields.filterNot(f =>
                    updates0.columns.contains(f.name))
                  .foldLeft(updates0)((d, f) => d.withColumn(f.name,
                    org.apache.spark.sql.functions.lit(null)
                      .cast(E.nullableType(f.dataType))))
              case None => updates0
            }
          val partCols = E.snapshotPartitionColumns(path, latest)
          def merged(base: org.apache.spark.sql.DataFrame)
              : org.apache.spark.sql.DataFrame =
            if (orderCols.nonEmpty) graft.operators.Merge
              .upsertLatest(base, updates, keys, orderCols)
            else graft.operators.Merge.upsert(base, updates, keys)
          val v =
            if (mor)
              // upsertSnapshotMoR itself refuses partitioned tables
              // (its insert epoch carries no p= specs - one such commit
              // would break partition-scoped DML forever after)
              E.upsertSnapshotMoR(spark, path, updates, keys, orderCols)
            else if (partCols.nonEmpty &&
                partCols.toSet.subsetOf(keys.toSet))
              // layout ⊆ key: the partition-scoped rewrite (cost follows
              // the touched partitions, not the table)
              E.rewriteScoped(spark, path, E.keyedScope(
                  E.readManifest(path, latest), updates, keys, partCols),
                Layout.Partitioned(partCols), Map.empty, "overwrite")(merged)
            else
              // keep the declared layout: a partitioned table whose
              // layout exceeds the key set still commits partitioned
              E.replaceSnapshot(spark, merged(E.readSnapshot(spark, path,
                latest)), path, Layout.partitionedBy(partCols))
          Seq(v.toLong)
        }
      }),
    (FunctionIdentifier("graft_optimize"),
      info("graft_optimize", "graft_optimize(path[, n_files[, " +
        "'cluster:key'|'zorder:a,b'|'partition:col=val[/col=val]']]) - " +
        "OPTIMIZE the lake table: compact the head into n_files " +
        "(default 1), optionally range-clustered / z-ordered with " +
        "fresh pruning zones, or PARTITION-SCOPED (OPTIMIZE ... WHERE: " +
        "rewrite only the matching partitions' files, carry the rest). " +
        "Returns (version, n_files)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val nFiles =
          if (args.length > 1) litLong(args(1), "n_files").toInt else 1
        val layoutSpec =
          if (args.length > 2) Some(litString(args(2), "layout spec"))
          else None
        graft.plans.GraftLakeCommand.oneRow("graft_optimize",
            Seq("version", "n_files")) { () =>
          val spark = org.apache.spark.sql.SparkSession.active
          val E = graft.operators.Export
          val v = layoutSpec match {
            case Some(spec) => spec.split(':') match {
              case Array("cluster", k) => E.compactSnapshot(spark, path,
                layout = Some(Layout.Clustered(k.trim, nFiles)))
              case Array("zorder", ab) => ab.split(',').map(_.trim) match {
                case Array(a, b) => E.compactSnapshot(spark, path,
                  layout = Some(Layout.Zordered(a, b, nFiles)))
                case _ => throw new IllegalArgumentException(
                  s"zorder spec needs two columns, got: $spec")
              }
              case Array("partition", kvs) =>
                // OPTIMIZE ... WHERE: the table's FULL layout key set
                // comes from the head's p= specs (a filtered subset
                // must never narrow the layout — the lake-compact CLI
                // lesson), the spec supplies the equality filters
                val filters = kvs.split('/').filter(_.nonEmpty).map { kv =>
                  kv.split("=", 2) match {
                    case Array(k, v) => k.trim -> v.trim
                    case _ => throw new IllegalArgumentException(
                      s"partition spec expects col=val segments: $kvs")
                  }
                }.toMap
                val head = E.latestSnapshotVersion(path)
                val partCols = E.snapshotPartitionColumns(path, head)
                E.compactSnapshotPartition(spark, path,
                  if (partCols.nonEmpty) partCols
                  else filters.keys.toSeq,
                  filters, nFiles)
              case _ => throw new IllegalArgumentException(
                "layout spec is 'cluster:key', 'zorder:a,b' or " +
                  s"'partition:col=val[/col=val]', got: $spec")
            }
            // the bare OPTIMIZE keeps the table's declared layout
            // (partitions, else its graft.cluster.key zones)
            case None => E.compactSnapshot(spark, path, nFiles)
          }
          Seq(v.toLong, E.snapshotFiles(path, v).size.toLong)
        }
      }),
    (FunctionIdentifier("graft_analyze"),
      info("graft_analyze", "graft_analyze(path[, 'c1,c2']) - STATS " +
        "BACKFILL (ANALYZE's lake shape): compute per-file n= " +
        "rowcounts and per-column s= min/max ranges by reading the " +
        "head ONCE, committed metadata-only (zero rewrites) - a " +
        "bulk-loaded table retrofits file pruning and metadata-only " +
        "count/min/max. Columns default to every integral top-level " +
        "column. Returns (version)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val cols =
          if (args.length > 1) litString(args(1), "column list")
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          else Seq.empty[String]
        graft.plans.GraftLakeCommand.oneRow("graft_analyze",
            Seq("version")) { () =>
          Seq(graft.operators.Export.analyzeSnapshotStats(
            org.apache.spark.sql.SparkSession.active, path, cols)
            .toLong)
        }
      }),
    (FunctionIdentifier("graft_restore"),
      info("graft_restore", "graft_restore(path, to_version) - RESTORE " +
        "TABLE TO VERSION: roll the head back by committing a manifest " +
        "re-pointing at the target version's files (zero data " +
        "movement). Returns (version)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val toV = litLong(args(1), "to_version").toInt
        graft.plans.GraftLakeCommand.oneRow("graft_restore", Seq("version")) {
          () => Seq(graft.operators.Export.restoreSnapshot(path, toV)
            .toLong)
        }
      }),
    (FunctionIdentifier("graft_clone"),
      info("graft_clone", "graft_clone(src_path, dst_path[, version]) - " +
        "SHALLOW CLONE: fork a new table whose v1 re-points at the " +
        "source version's files (zero data movement). Returns (version)"),
      (args: Seq[Expression]) => {
        val src = litPath(args.head, "src path")
        val dst = litString(args(1), "dst path")
        val v0 =
          if (args.length > 2) litLong(args(2), "version").toInt else -1
        graft.plans.GraftLakeCommand.oneRow("graft_clone", Seq("version")) {
          () => Seq(graft.operators.Export.cloneSnapshot(src, dst, v0)
            .toLong)
        }
      }),
    (FunctionIdentifier("graft_truncate"),
      info("graft_truncate", "graft_truncate(path) - TRUNCATE TABLE " +
        "for path-addressed tables: one zero-line replace commit; " +
        "schema and declared layout carry, old versions still " +
        "time-travel. Returns (version)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        graft.plans.GraftLakeCommand.oneRow("graft_truncate",
            Seq("version")) {
          () => Seq(graft.operators.Export.truncateSnapshot(path).toLong)
        }
      }),
    (FunctionIdentifier("graft_vacuum"),
      info("graft_vacuum", "graft_vacuum(path, keep[, horizon_ms]) - " +
        "retention: drop all but the newest `keep` versions and delete " +
        "unreferenced data files older than the in-flight horizon. " +
        "Returns (dropped_versions, deleted_files)"),
      (args: Seq[Expression]) => {
        val path = litPath(args.head, "path")
        val keep = litLong(args(1), "keep").toInt
        val horizon =
          if (args.length > 2) litLong(args(2), "horizon_ms")
          else graft.operators.Export.DefaultVacuumHorizonMs
        graft.plans.GraftLakeCommand.oneRow("graft_vacuum",
            Seq("dropped_versions", "deleted_files")) { () =>
          val (dv, df) = graft.operators.Export.vacuumSnapshots(path,
            keep, horizon)
          Seq(dv.toLong, df.toLong)
        }
      }),
    (FunctionIdentifier("graft_diff"),
      info("graft_diff", "graft_diff(path, v_old, v_new[, " +
        "'key1,key2']) - table_changes BETWEEN two versions as a " +
        "FROM-clause relation: bag diff (rows + `_change` " +
        "insert/delete) by default; with the key list, the keyed CDF " +
        "(insert/delete/update_preimage/update_postimage)"),
      (args: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val path = litPath(args.head, "path")
        val vOld = litLong(args(1), "v_old").toInt
        val vNew = litLong(args(2), "v_new").toInt
        val df =
          if (args.length > 3) {
            val keys = litString(args(3), "key list")
              .split(',').map(_.trim).filter(_.nonEmpty).toSeq
            graft.operators.Export.snapshotDiffKeyed(spark, path,
              vOld, vNew, keys)
          } else
            graft.operators.Export.snapshotDiff(spark, path, vOld, vNew)
        df.queryExecution.logical
      }))

  /** Analyzer rule for the [[graft.sources.GraftLakeCatalog]] READ
    * path: a resolved v2 relation over a catalog lake table is
    * rewritten to the manifest-planned v1 `HadoopFsRelation` (the batch
    * format's relation — vectorized scans, PushedFilters, manifest-tag
    * file pruning), attribute ids preserved through an aligning
    * Project. WRITE targets are left as v2 relations — the table's
    * `V1_BATCH_WRITE` capability handles INSERT INTO/OVERWRITE through
    * the engine's own v1-fallback writers. Pinned (time-travel)
    * relations plan their pinned version. This is the Delta-analysis
    * shape: the catalog names tables, the v1 relation executes them. */
  private def catalogReadRule(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, V2WriteCommand}
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      override def apply(plan: LogicalPlan): LogicalPlan = {
        val hasLake = plan.exists {
          case r: DataSourceV2Relation =>
            r.table.isInstanceOf[graft.sources.GraftLakeTable]
          case _ => false
        }
        if (!hasLake) return plan
        // write/DML targets keep their v2 face (AppendData/Overwrite
        // resolve through the table's V1 write builder, DELETE FROM
        // through SupportsDelete, MERGE INTO/UPDATE through the
        // RewriteGraftLakeDml rule — not through this rule)
        // a target may sit under a SubqueryAlias — skip every relation
        // node inside the target subtree, not just the root
        val writeTargets: Set[LogicalPlan] =
          plan.collect {
            case w: V2WriteCommand => w.table: LogicalPlan
            case d: org.apache.spark.sql.catalyst.plans.logical
                .DeleteFromTable => d.table
            case m: org.apache.spark.sql.catalyst.plans.logical
                .MergeIntoTable => m.targetTable
            case u: org.apache.spark.sql.catalyst.plans.logical
                .UpdateTable => u.table
          }.flatMap(_.collect {
            case r: DataSourceV2Relation => r: LogicalPlan
          }).toSet
        plan.transformUp {
          case r: DataSourceV2Relation
              if r.table.isInstanceOf[graft.sources.GraftLakeTable] &&
                !writeTargets.contains(r) =>
            val t = r.table.asInstanceOf[graft.sources.GraftLakeTable]
            val opts = t.versionAsOf
              .map(v => Map("versionAsOf" -> v.toString))
              .getOrElse(Map.empty[String, String])
            val v1 = spark.baseRelationToDataFrame(
                graft.sources.GraftLakeBatch.relation(spark, t.dir, opts))
              .queryExecution.analyzed match {
              // carry the table's v1 CatalogTable on the relation:
              // engine housekeeping (e.g. refreshTable after a
              // streaming batch) dereferences it
              case lr: org.apache.spark.sql.execution.datasources
                  .LogicalRelation =>
                lr.copy(catalogTable = Some(t.v1Table))
              case other => other
            }
            val byName = v1.output.map(a => a.name -> a).toMap
            Project(r.output.map { o =>
              val src = byName.getOrElse(o.name,
                throw new IllegalStateException(
                  s"catalog table ${t.name()} lost column '${o.name}' " +
                    "between resolution and planning"))
              org.apache.spark.sql.catalyst.expressions.Alias(
                src, o.name)(exprId = o.exprId)
            }, v1)
        }
      }
    }

  private def litString(e: Expression, name: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }

  /** A table-reference literal resolved to its snapshot-log DIRECTORY:
    * a path (contains a separator) passes verbatim; a `cat.ns.table`
    * NAME resolves through the session's registered
    * [[graft.sources.GraftLakeCatalog]] — so every TVF and DML
    * procedure accepts catalog tables without the user digging out the
    * warehouse layout: `SELECT * FROM graft_history('glc.ns.docs')`.
    * Unresolvable names pass through unchanged (the downstream
    * manifest read produces the honest error). */
  private def litPath(e: Expression, name: String): String = {
    val ref = litString(e, name)
    if (ref.contains('/') || ref.contains('\\')) ref
    else {
      val parts = ref.split('.')
      if (parts.length < 2) ref
      else
        try {
          val spark = org.apache.spark.sql.SparkSession.active
          spark.sessionState.catalogManager.catalog(parts.head) match {
            case g: graft.sources.GraftLakeCatalog =>
              g.loadTable(org.apache.spark.sql.connector.catalog
                .Identifier.of(parts.drop(1).dropRight(1), parts.last))
              match {
                case t: graft.sources.GraftLakeTable => t.dir
                case _ => ref
              }
            case _ => ref
          }
        } catch { case scala.util.control.NonFatal(_) => ref }
    }
  }

  /** Late-bound builtin call: resolved (with implicit input casts) by
    * the analyzer's fixpoint after builder substitution. */
  private def fn(name: String, fnArgs: Expression*): Expression =
    org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
      Seq(name), fnArgs.toSeq, isDistinct = false)

  private def castTo(e: Expression,
      t: org.apache.spark.sql.types.DataType): Expression = Cast(e, t)

  private def longLit(i: Int): Expression = Literal(i.toLong)

  /** The engine-portable 32-bit hash ([[graft.operators.Sketches.hash32]])
    * as a catalyst tree: first 8 md5 hex chars of the (salted) string
    * form, decoded to a Long. */
  private def hash32Expr(value: Expression, salt: String = ""): Expression = {
    val s =
      if (salt.isEmpty) castTo(value, StringType)
      else fn("concat", Literal.create(salt), castTo(value, StringType))
    castTo(fn("conv",
      fn("substring", fn("md5", s), Literal(1), Literal(8)),
      Literal(16), Literal(10)), LongType)
  }

  /** HLL m literal with the same domain [[graft.operators.Sketches]]
    * enforces (power of two in [16, 256]). */
  private def litHllM(e: Expression): Int = {
    val m = litInt(e, "m")
    require(m >= 16 && m <= 256 && Integer.bitCount(m) == 1,
      s"m must be a power of two in [16, 256], got $m")
    m
  }

  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def litLong(e: Expression, name: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Foldable binary expression → its bytes at plan-build time. */
  private def litBinary(e: Expression): Array[Byte] = {
    require(e.foldable && e.dataType == BinaryType,
      s"filter must be a foldable binary literal, got $e")
    e.eval(null).asInstanceOf[Array[Byte]]
  }

  /** Foldable map expression (e.g. `map('ab', -5, 'a', -9)`) → the weight
    * table a [[graft.functions.UnigramSegment]] needs at plan-build time. */
  private def litWeightMap(e: Expression): Map[String, Long] = {
    require(e.foldable && e.dataType.isInstanceOf[MapType],
      s"weights must be a foldable map<string,bigint> literal, got $e")
    val m = e.eval(null).asInstanceOf[
      org.apache.spark.sql.catalyst.util.MapData]
    val keys = m.keyArray()
    val vals = m.valueArray()
    val valueType = e.dataType.asInstanceOf[MapType].valueType
    (0 until m.numElements()).map { i =>
      val v = valueType match {
        case LongType => vals.getLong(i)
        case IntegerType => vals.getInt(i).toLong
        case other => throw new IllegalArgumentException(
          s"weight values must be integral, got $other")
      }
      keys.getUTF8String(i).toString -> v
    }.toMap
  }

  /** Register into an already-running session's function registries
    * (scalar AND table functions), plus the deferred-command planner
    * strategy the DML procedures need (via the public experimental
    * seam — resolution rules can't be added post-startup, so the
    * MERGE INTO/UPDATE statement rewrite and catalog reads still need
    * the spark.sql.extensions route). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    definitions.foreach { case (ident, inf, builder) =>
      org.apache.spark.sql.GraftFunctionBridge
        .register(spark, ident, inf, builder)
    }
    tableDefinitions.foreach { case (ident, inf, builder) =>
      org.apache.spark.sql.GraftFunctionBridge
        .registerTable(spark, ident, inf, builder)
    }
    graft.plans.GraftLakeCommand.registerStrategy(spark)
  }
}
