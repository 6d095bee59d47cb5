package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or, Pmod, XxHash64}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SQLContext, SparkSession}

import graft.operators.Export

/** BATCH read half of `format("graftlake")`:
  *
  *   spark.read.format("graftlake")
  *     .option("versionAsOf", 3)          // or timestampAsOf=<ms>
  *     .load(tableDir)
  *
  * The relation is a real `HadoopFsRelation` over a MANIFEST-DRIVEN
  * [[FileIndex]], so the whole native file-scan stack applies untouched:
  * vectorized parquet reads, `PushedFilters` row-group skipping,
  * `ReadSchema` column pruning, whole-stage codegen. What the manifest
  * adds is FILE elimination at planning time: [[GraftLakeFileIndex]]
  * receives Catalyst's pushed data filters and drops every file whose
  * `p=` partition spec contradicts an equality conjunct, whose `s=`
  * per-column range misses a comparison conjunct, or whose `b=` bloom
  * filter lacks an equality's needle. [[GraftLakeBatch.excludes]] is the
  * one such kernel: a filtered `Export.readSnapshot`, the catalog read,
  * the stream `where` option and DML planning prune through it too (a
  * file lacking a tag is always planned; pruning accelerates, never
  * gates).
  *
  * Column-mapped heads (rename/drop with no rewrite) are served
  * through [[GraftMappedParquetFormat]] — the plan speaks logical
  * names, the reader decodes physical bytes, positionally identical so
  * vectorization/codegen survive. DV-bearing heads (MoR delete) are
  * served by the extension's `ApplyLakeDeletionVectors` resolution
  * rule, which rewrites the relation into the standard
  * `(file_path, row_index)` anti-join; a session without the extension
  * is refused rather than served wrong.
  */
object GraftLakeBatch {

  private def opt(params: Map[String, String], key: String)
      : Option[String] =
    params.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  private[sources] def resolveVersion(params: Map[String, String],
      path: String): Int = {
    val byV = opt(params, "versionAsOf")
    val byTs = opt(params, "timestampAsOf")
    require(byV.isEmpty || byTs.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    byV.map(_.toInt)
      .orElse(byTs.map(ts => Export.resolveAsOfTimestamp(path, ts.toLong)))
      .getOrElse(Export.latestSnapshotVersion(path))
  }

  /** Build the batch relation for (table, version). Also the
    * `graft_snapshot` TVF's fast path (package-wide visibility).
    *
    * COLUMN-MAPPED heads (a column was renamed/dropped with no data
    * rewrite) are served through [[GraftMappedParquetFormat]]: the
    * relation's schema — and therefore every plan attribute — stays
    * LOGICAL, and the format renames the requested columns and pushed
    * filters to their physical byte-names at reader-build time. The
    * translation is positional, so vectorized reads and codegen are
    * untouched.
    *
    * DV-BEARING heads (merge-on-read DELETE) are served by the
    * [[graft.GraftExtensions]] resolution rule, which rewrites the
    * relation into the standard `(file_path, row_index)` anti-join at
    * analysis time — the relation itself plans the raw files and
    * exposes the sidecar dirs via [[GraftLakeFileIndex.dvDirs]]. A
    * session WITHOUT the extension would re-emit deleted rows from a
    * raw scan, so the relation refuses in that case rather than serve
    * wrong answers. */
  private[graft] def relation(spark: SparkSession, path: String,
      params: Map[String, String]): BaseRelation = {
    val version = resolveVersion(params, path)
    require(version >= 1, s"$path has no committed versions")
    val m = Export.readManifest(path, version)
    val schema = m.schema
    val index = new GraftLakeFileIndex(spark, path, m, schema)
    if (index.dvDirs.nonEmpty)
      require(spark.sessionState.analyzer.extendedResolutionRules
          .exists(_.ruleName.contains("LakeDeletionVectors")),
        s"version $version of $path carries deletion vectors (MoR " +
          "delete); serving them from the batch relation needs the " +
          "graft extension's anti-join rewrite. Add " +
          "spark.sql.extensions=graft.GraftExtensions, or read via " +
          "Export.readSnapshot, or compact the table")
    val mapped: Map[String, String] = schema.fields.iterator
      .map(f => f.name -> Export.physicalOf(f))
      .filter { case (l, p) => l != p }.toMap
    val fmt =
      if (mapped.isEmpty) new ParquetFileFormat()
      else new GraftMappedParquetFormat(mapped)
    // SURFACED partition schema (r16): when every manifest line of the
    // version carries a `p=` spec for a layout column whose type
    // string-roundtrips exactly, that column is declared as a REAL
    // partition column — its per-file value served from the manifest
    // tag — which is what lets Spark's own DynamicPartitionPruning
    // inject its runtime subquery on dim⋈fact joins (the single
    // biggest scan-cost lever at 100 TB: a selective dim filter now
    // prunes fact FILES at run time, not just static literals).
    // Tables with untagged lines (MoR insert epochs, legacy commits)
    // or non-roundtrip types keep the empty partition schema and the
    // dataFilters tag-prune path — identical results, no DPP.
    HadoopFsRelation(index, index.partitionSchema, schema, None, fmt,
      params)(spark)
  }

  /** The one scan of committed lake files: `entries` — manifest lines
    * the caller already holds — planned through a raw
    * [[GraftLakeFileIndex]] and decoded under `dataSchema` by column
    * name. Statuses come from the lines' `len=` tags, so neither a
    * listing job nor a footer pass runs, however many files are planned
    * (`spark.read.parquet(paths)` lists them: one task per path above
    * Spark's 32-path parallel-discovery threshold). Deletion vectors
    * are the caller's to subtract. `options` are the parquet source's
    * (`ignoreMissingFiles`, ...), as `spark.read.option` takes them. */
  private[graft] def scan(spark: SparkSession, table: String,
      entries: Seq[Export.ManifestEntry], dataSchema: StructType,
      commitMs: Long, options: Map[String, String] = Map.empty)
      : DataFrame = {
    val index = new GraftLakeFileIndex(spark, table, entries, commitMs,
      dataSchema, rawFiles = true)
    GraftPlanBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
      new StructType(), dataSchema, None, new ParquetFileFormat(),
      options)(spark)))
  }

  // ---- the manifest-tag pruning kernel (the FileIndex every lake scan
  // plans through, the stream source's `where` option and DML planning)

  private[graft] def splitConjuncts(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }

  /** Column-API predicates reach the planner as operator-named
    * `UnresolvedFunction` nodes (`and`, `<`, `=`, ...) rather than the
    * binary catalyst nodes the SQL parser produces — normalize the
    * comparison/conjunction shapes so [[excludes]] prunes for BOTH
    * front doors. SQL-ANALYZED predicates additionally wrap their
    * literals in the coercion casts the analyzer inserts
    * (`doc_id < CAST(100 AS BIGINT)` — constant folding only happens
    * in the optimizer, which DML predicates never pass through), so
    * foldable casts OF literals evaluate here — without this, every
    * SQL DELETE/UPDATE comparison silently defeated stats pruning.
    * Unknown names / unfoldable shapes stay as-is (never prunes —
    * safe). */
  private[graft] def normalizeOps(e: Expression): Expression =
    e.transformUp {
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.isInstanceOf[Literal] =>
        try Literal(c.eval(null), c.dataType)
        catch { case scala.util.control.NonFatal(_) => c }
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.length == 2 && f.nameParts.length == 1 &&
            !f.isDistinct =>
        val a = f.arguments.head
        val b = f.arguments(1)
        f.nameParts.head.toLowerCase(java.util.Locale.ROOT) match {
          case "and" => And(a, b)
          case "<" => LessThan(a, b)
          case "<=" => LessThanOrEqual(a, b)
          case ">" => GreaterThan(a, b)
          case ">=" => GreaterThanOrEqual(a, b)
          case "=" | "==" => EqualTo(a, b)
          case _ => f
        }
    }

  private[graft] def longOf(l: Literal): Option[Long] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Option(l.value).map(v => v.toString.toLong)
    // DATE's internal value IS its ordered epoch-day integer and an
    // instant TIMESTAMP's is its epoch-micros long — the exact
    // encodings the `s=` writers record (unix_date / unix_micros), so
    // date and event-time range predicates compare like-to-like (r17)
    case org.apache.spark.sql.types.DateType |
        org.apache.spark.sql.types.TimestampType =>
      Option(l.value).map(v => v.toString.toLong)
    case _ => None
  }

  /** Manifest string form of an equality literal — only types whose
    * Spark CAST-to-string (what the `p=` writer used) equals the
    * literal's toString are eligible; anything else never prunes. */
  private def stringOf(l: Literal): Option[String] = l.dataType match {
    case StringType | ByteType | ShortType | IntegerType | LongType =>
      Option(l.value).map(_.toString)
    case _ => None
  }

  /** The `b=` bit positions of an integral needle, from the writer's own
    * expression `pmod(xxhash64(CAST(v AS BIGINT), i), BloomBits)`
    * evaluated here on the driver; other types never probe a filter. */
  private def bloomNeedle(l: Literal): Option[Seq[Long]] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Option(l.value).map { v =>
        val key = Literal(v.toString.toLong)
        (1 to Export.BloomHashes).map(i =>
          Pmod(new XxHash64(Seq(key, Literal(i))),
            Literal(Export.BloomBits.toLong)).eval().asInstanceOf[Long])
      }
    case _ => None
  }

  /** The file test of predicate `c`: true only when `c` PROVABLY
    * excludes every row of the entry's file — a `p=` spec contradicting
    * an equality or `IN` (on the column, or on `CAST(col AS STRING)`,
    * the form the spec stores), an `s=` range missing a comparison or an
    * equality, or a `b=` bloom filter lacking every integral `=`/`IN`
    * needle; an `And` excludes when either side does, an `Or` when both
    * do, and a `FALSE` literal always. `InSet` (what the optimizer makes
    * of an `IN` list past `spark.sql.optimizer.inSetConversionThreshold`)
    * lifts each value to a literal of the attribute's type. Missing tag
    * / non-literal shape / unknown type → never excludes. This is the
    * only file-skipping predicate of the lake: the format and catalog
    * reads, every filtered [[Export.readSnapshot]], the stream `where`
    * option and the file choice of every row-level rewrite
    * ([[Export.Scope]]) all reach it. Needles hash once per conjunct,
    * not per file. `physOf`
    * translates logical column names to the physical names the tags are
    * keyed by. Attributes may be resolved (the batch FileIndex's pushed
    * filters) or unresolved (the stream source's parsed `where` option)
    * — both are [[Attribute]]s and only the name is consulted. */
  private[graft] def excludes(c: Expression, physOf: Map[String, String])
      : Export.ManifestEntry => Boolean = {
    def phys(a: Attribute): String = physOf.getOrElse(a.name, a.name)
    // timestamp stats live under the `<phys>#us` key (micros); the
    // plain key may hold a pre-r17 seconds-encoded range a micros
    // literal must never compare against (Export.statKeyOf)
    def range(a: Attribute, l: Literal)(miss: (Long, (Long, Long)) => Boolean)
        : Export.ManifestEntry => Boolean =
      longOf(l).fold((_: Export.ManifestEntry) => false) { v =>
        val key = Export.statKeyOf(phys(a), l.dataType)
        e => e.stats.get(key).exists(miss(v, _))
      }
    def all(each: Seq[Export.ManifestEntry => Boolean])
        : Export.ManifestEntry => Boolean =
      e => each.nonEmpty && each.forall(_(e))
    c match {
      case Literal(false, BooleanType) => _ => true
      case And(l, r) =>
        val (a, b) = (excludes(l, physOf), excludes(r, physOf))
        e => a(e) || b(e)
      case Or(l, r) => all(Seq(excludes(l, physOf), excludes(r, physOf)))
      case EqualTo(a: Attribute, l: Literal) => eqExcludes(phys(a), l)
      case EqualTo(l: Literal, a: Attribute) => eqExcludes(phys(a), l)
      case EqualTo(Cast(a: Attribute, StringType, _, _), l: Literal)
          if l.dataType == StringType => partExcludes(phys(a), l)
      case EqualTo(l: Literal, Cast(a: Attribute, StringType, _, _))
          if l.dataType == StringType => partExcludes(phys(a), l)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        all(vs.map(l => eqExcludes(phys(a), l.asInstanceOf[Literal])))
      case In(Cast(a: Attribute, StringType, _, _), vs)
          if vs.forall(v => v.isInstanceOf[Literal] &&
            v.dataType == StringType) =>
        all(vs.map(l => partExcludes(phys(a), l.asInstanceOf[Literal])))
      case InSet(a: Attribute, vs) =>
        all(vs.toSeq.map(v => eqExcludes(phys(a), Literal(v, a.dataType))))
      case InSet(Cast(a: Attribute, StringType, _, _), vs) =>
        all(vs.toSeq.map(v => partExcludes(phys(a), Literal(v, StringType))))
      case GreaterThan(a: Attribute, l: Literal) =>
        range(a, l) { case (v, (_, hi)) => hi <= v }
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        range(a, l) { case (v, (_, hi)) => hi < v }
      case LessThan(a: Attribute, l: Literal) =>
        range(a, l) { case (v, (lo, _)) => lo >= v }
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        range(a, l) { case (v, (lo, _)) => lo > v }
      case GreaterThan(l: Literal, a: Attribute) => // v > col ≡ col < v
        range(a, l) { case (v, (lo, _)) => lo >= v }
      case LessThan(l: Literal, a: Attribute) => // v < col ≡ col > v
        range(a, l) { case (v, (_, hi)) => hi <= v }
      case _ => _ => false
    }
  }

  /** `p=` spec of physical column `p` differs from the literal. */
  private def partExcludes(p: String, l: Literal)
      : Export.ManifestEntry => Boolean =
    stringOf(l).fold((_: Export.ManifestEntry) => false)(v =>
      e => e.partition.get(p).exists(_ != v))

  /** An equality on physical column `p`: its `p=`, `s=` and `b=` tests. */
  private def eqExcludes(p: String, l: Literal)
      : Export.ManifestEntry => Boolean = {
    val part = partExcludes(p, l)
    val v = longOf(l)
    val statKey = Export.statKeyOf(p, l.dataType)
    val needle = bloomNeedle(l)
    e => part(e) ||
      v.zip(e.stats.get(statKey)).exists { case (x, (lo, hi)) =>
        x < lo || x > hi } ||
      needle.zip(e.bloom).exists { case (bits, (k, hex)) =>
        k == p && !Export.bloomMightContain(hex, bits) }
  }
}

/** Manifest-driven [[FileIndex]]: `listFiles` plans exactly the
  * given manifest entries minus those a pushed literal conjunct
  * provably excludes via the manifest's `p=`/`s=`/`b=` tags
  * ([[GraftLakeBatch.excludes]]). File statuses
  * are resolved ONCE at construction from the entries' `len=` tags;
  * legacy lines without one cost one `listStatus` per distinct parent
  * (epoch) directory — bounded by the manifest's directory count,
  * never the table root.
  *
  * `rawFiles` is the lake's own scans (DML candidates, time travel,
  * streams): every column is read from the files and the caller
  * subtracts deletion vectors itself, so no partition column is
  * surfaced and no sidecar is advertised to the extension's rewrite. */
final class GraftLakeFileIndex(spark: SparkSession, table: String,
    entries: Seq[Export.ManifestEntry], commitMs: Long, schema: StructType,
    rawFiles: Boolean) extends FileIndex {

  /** The catalog/format read of the manifest `m` of `table`; a
    * pre-timestamp commit stamps no mtime. */
  def this(spark: SparkSession, table: String, m: Export.Manifest,
      schema: StructType) =
    this(spark, table, m.entries, m.committedAt.getOrElse(0L), schema,
      rawFiles = false)

  /** The catalog/format read of `table` at `version`. */
  def this(spark: SparkSession, table: String, version: Int,
      schema: StructType) =
    this(spark, table, Export.readManifest(table, version), schema)

  private val (fs, root) = Export.fsRoot(table)

  /** Deletion-vector sidecar dirs referenced by the planned lines —
    * non-empty means a raw scan of the planned files would re-emit
    * MoR-deleted rows, and the extension's resolution rule must wrap
    * the relation in the `(file_path, row_index)` anti-join. */
  val dvDirs: Seq[String] =
    if (rawFiles) Nil else entries.flatMap(_.dv).map(_._1).distinct

  // logical name -> the physical name the tags are keyed by, so a
  // renamed column's pushed filters keep pruning files (the p=/s=/b=
  // tags never change name; only the logical label moves)
  private val physOf: Map[String, String] =
    schema.fields.map(f => f.name -> Export.physicalOf(f)).toMap

  private val statuses: Seq[(Export.ManifestEntry, FileStatus)] = {
    // r12+ manifest lines carry the file length (`len=` tag recorded at
    // commit time), so the scan's FileStatus set is built from the
    // manifest ALONE — zero data-dir round trips at planning. The
    // commit timestamp stands in for per-file mtime (files are
    // immutable and committed together). Legacy lines without the tag
    // fall back to one listStatus per distinct parent (epoch) dir.
    val (tagged, legacy) = entries.partition(_.len.isDefined)
    val fromManifest = tagged.map { e =>
      e -> new FileStatus(e.len.get, false, 1, 128L * 1024 * 1024,
        commitMs, fs.makeQualified(new Path(e.path)))
    }
    val fromFs = legacy.groupBy(e => new Path(e.path).getParent).toSeq
      .flatMap { case (dir, es) =>
        val listed = fs.listStatus(dir)
          .map(st => fs.makeQualified(st.getPath).toString -> st).toMap
        es.map { e =>
          val q = fs.makeQualified(new Path(e.path)).toString
          e -> listed.getOrElse(q, fs.getFileStatus(new Path(e.path)))
        }
      }
    fromManifest ++ fromFs
  }

  override def rootPaths: Seq[Path] = Seq(root)

  /** Partition-value parse for the surfaced schema: the `p=` tag holds
    * `CAST(col AS STRING)` of the written value (non-null, line-safe by
    * the commit grammar), so only types whose string form casts BACK
    * to the exact original are eligible — string, integrals, boolean,
    * date, decimal. A failed parse (None) disables surfacing for the
    * whole version: correctness over pruning. */
  private def typeRoundTrips(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
        org.apache.spark.sql.types.BooleanType |
        org.apache.spark.sql.types.DateType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  private def parseValue(s: String, dt: DataType): Option[Any] = {
    val v = org.apache.spark.sql.catalyst.expressions.Cast(
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        StringType), dt,
      Option(spark.sessionState.conf.sessionLocalTimeZone),
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY).eval(null)
    Option(v)
  }

  /** The SURFACED partition columns: logical fields whose physical
    * name is `p=`-tagged on EVERY manifest line of this version and
    * whose type string-roundtrips. Served as real partition columns
    * (values from the tags), which (a) routes their predicates through
    * typed partition-filter evaluation instead of the string-equality
    * kernel and (b) arms Spark's DynamicPartitionPruning for runtime
    * file pruning on joins. Any untagged line or unparsable value
    * disables surfacing for the whole version — readers then serve the
    * column from the data files exactly as before. */
  private val surfaced: Seq[org.apache.spark.sql.types.StructField] = {
    if (rawFiles || entries.isEmpty) Nil
    else {
      val common = entries.iterator.map(_.partition.keySet)
        .reduce(_ intersect _)
      schema.fields.toSeq.filter(f =>
        common.contains(physOf(f.name)) && typeRoundTrips(f.dataType))
    }
  }

  // entry path -> typed partition tuple; surfacing aborts wholesale on
  // the first unparsable tag value (never a silently wrong tuple)
  private val tupleOf: Map[String, InternalRow] =
    if (surfaced.isEmpty) Map.empty
    else {
      val parsed = entries.map { e =>
        val vs = surfaced.map(f => parseValue(
          e.partition(physOf(f.name)), f.dataType))
        if (vs.exists(_.isEmpty)) None
        else Some(e.path -> InternalRow.fromSeq(vs.map(_.get)))
      }
      if (parsed.exists(_.isEmpty)) Map.empty else parsed.flatten.toMap
    }

  override val partitionSchema: StructType =
    if (tupleOf.isEmpty && entries.nonEmpty) new StructType()
    else StructType(surfaced)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val excluded = dataFilters.flatMap(GraftLakeBatch.splitConjuncts)
      .map(GraftLakeBatch.excludes(_, physOf))
    val chosen = statuses.filterNot { case (e, _) =>
      excluded.exists(_(e)) }
    if (partitionSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty,
        chosen.map(_._2).toArray))
    else {
      // one PartitionDirectory per tag tuple; STATIC partition filters
      // evaluate interpreted against the typed tuple (runtime
      // DynamicPruning filters are evaluated by FileSourceScanExec
      // itself over the returned directories — the DPP contract)
      val fields = partitionSchema.fields
      val pred = partitionFilters.reduceOption(And).map { p =>
        org.apache.spark.sql.catalyst.expressions.Predicate
          .createInterpreted(p.transform {
            case a: org.apache.spark.sql.catalyst.expressions
                .AttributeReference =>
              val i = fields.indexWhere(_.name == a.name)
              require(i >= 0, s"partition filter references non-" +
                s"partition column '${a.name}'")
              org.apache.spark.sql.catalyst.expressions.BoundReference(
                i, fields(i).dataType, nullable = true)
          })
      }
      chosen.groupBy { case (e, _) => tupleOf(e.path) }.toSeq
        .collect { case (row, es) if pred.forall(_.eval(row)) =>
          PartitionDirectory(row, es.map(_._2).toArray)
        }
    }
  }

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
}
