package graft.plans

import java.net.{URLDecoder, URLEncoder}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.AliasIdentifier
import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, ResolvedNamespace, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedSubqueryColumnAliases, UnresolvedTable, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AlterViewAs, CreateView, DeleteFromTable, DropConstraint, DropView, InsertIntoStatement, LocalRelation, LogicalPlan, MergeIntoTable, ShowViews, SubqueryAlias, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{COMMAND, UNRESOLVED_RELATION}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Export

/** PERSISTENT SQL VIEWS in the lake catalog — `CREATE [OR REPLACE]
  * VIEW cat.ns.v [(cols)] AS SELECT ...`, `DROP VIEW [IF EXISTS]`,
  * `SHOW VIEWS IN cat.ns`, and view EXPANSION on read. Spark 4.x ships
  * the `ViewCatalog` connector API but no analyzer/exec path for it
  * (CREATE VIEW against a non-session catalog has no rule to claim
  * it), so the statements are rewritten here, the same extension seam
  * as the lake DML.
  *
  * Storage: a `_view` file under the view's warehouse path
  * (`<warehouse>/<ns>/<view>/_view`, urlencoded `k=v` lines — the
  * manifest property idiom). A view directory has no `_v*` manifests,
  * so the catalog's `listTables`/`isTable` never conflate it with a
  * table, and `tableExists` stays false.
  *
  * Semantics: the view stores its SQL TEXT and re-resolves PER READ —
  * schema-EVOLUTION binding (the Hive/Iceberg view law): base-table
  * column adds/renames flow through on the next read, and the view is
  * readable from any session that can reach the warehouse, unlike a
  * temp view. A user column list applies BY POSITION at expansion
  * (`UnresolvedSubqueryColumnAliases`, the `FROM t AS x(a,b)` node).
  * Cyclic references (possible only via CREATE OR REPLACE after the
  * fact) are detected at expansion and refuse loudly. Persistent views
  * over TEMP views are refused at CREATE — the text would re-resolve
  * against the READING session's temp state. CREATE/DROP defer their
  * side effect to execution ([[GraftDmlStatement]]): `EXPLAIN CREATE
  * VIEW` writes nothing. SHOW VIEWS is a pure metadata read and
  * resolves to a [[LocalRelation]] at analysis.
  *
  * Ref anchor: the reference serves logical tables over physical
  * layouts through its routing config (tidb-lightning.toml routes,
  * SURVEY §2 S3) — views are the serving-side composition twin.
  *
  * Injection point: the HINT-resolution seam — the Hints batch runs
  * BEFORE Resolution, which matters twice over: (a) Spark's own
  * `ResolveSessionCatalog` throws MISSING_CATALOG_ABILITY the moment
  * it sees a view statement whose identifier resolved to a non-session
  * catalog, so a plain resolution rule never gets the plan; (b) here
  * the statements still carry their raw `UnresolvedIdentifier` parts,
  * and claiming them needs only a conf lookup (is the first part a
  * configured lake catalog?), no resolution at all. The CREATE's query
  * is still unresolved at this point, so its validation (the text must
  * analyze, no temp-view captures, column-list arity) runs inside the
  * deferred thunk — the statement still fails eagerly at `spark.sql`,
  * the SQL contract, while EXPLAIN keeps writing nothing. */
final case class RewriteGraftLakeDdl(spark: SparkSession)
    extends Rule[LogicalPlan] {

  import GraftLakeViews._

  private def warehouseOf(cat: String): Option[String] =
    try {
      val conf = spark.conf
      if (conf.getOption(s"spark.sql.catalog.$cat").contains(
          classOf[graft.sources.GraftLakeCatalog].getName))
        conf.getOption(s"spark.sql.catalog.$cat.warehouse")
      else None
    } catch { case NonFatal(_) => None }

  /** Qualify a 1-2-part name with the session's CURRENT catalog and
    * namespace (the `USE <lakecat>.<ns>` surface): short references
    * must reach the same rewrite as fully-qualified ones, or the view
    * surface silently shrinks whenever a lake catalog is current.
    * Spark's precedence law is preserved: a TEMP view always claims a
    * 1-part name and `global_temp` claims its 2-part names, so
    * qualification never shadows either. */
  private def qualified(parts: Seq[String]): Seq[String] =
    if (parts.length >= 3 || parts.isEmpty) parts
    else {
      val cm = spark.sessionState.catalogManager
      val cat = cm.currentCatalog.name
      if (warehouseOf(cat).isEmpty) parts
      else if (parts.length == 2) {
        val globalDb = spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.StaticSQLConf.GLOBAL_TEMP_DATABASE)
        if (parts.head.equalsIgnoreCase(globalDb)) parts
        else cat +: parts
      } else if (spark.sessionState.catalog.getTempView(parts.head).isEmpty)
        cat +: (cm.currentNamespace.toSeq ++ parts)
      else parts
    }

  /** `cat.ns….name` → the view's directory, when `cat` is a configured
    * lake catalog. Two segments minimum after the catalog (a namespace
    * and the view name) — the lake warehouse is namespace-rooted;
    * shorter names qualify through the session's current catalog and
    * namespace first ([[qualified]]). */
  private def viewDirOf(parts0: Seq[String]): Option[String] = {
    val parts = qualified(parts0)
    if (parts.length < 3) None
    else warehouseOf(parts.head).map(w => (w +: parts.tail).mkString("/"))
  }

  private def identParts(p: LogicalPlan): Option[Seq[String]] = p match {
    case u: UnresolvedIdentifier => Some(u.nameParts)
    case v: UnresolvedView => Some(v.multipartIdentifier)
    case r: ResolvedIdentifier =>
      Some(r.catalog.name +: (r.identifier.namespace.toSeq :+
        r.identifier.name))
    case _ => None
  }

  private def isView(parts: Seq[String]): Boolean =
    viewDirOf(parts).exists(d => readView(d).isDefined)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsAnyPattern(UNRESOLVED_RELATION, COMMAND)) plan
    // TOP-DOWN so the DML-on-view guards see the statement node while
    // its table child is still the raw UnresolvedRelation (bottom-up
    // would expand the view first and leave the guard nothing to match)
    else plan.transformDownWithPruning(
        _.containsAnyPattern(UNRESOLVED_RELATION, COMMAND)) {
      // a view is not a write target - refuse loudly before the
      // expansion turns the statement into a confusing analysis error
      case i: InsertIntoStatement
          if relParts(i.table).exists(isView) =>
        refuseDmlOnView("INSERT INTO", relParts(i.table).get)
      case u: UpdateTable if relParts(u.table).exists(isView) =>
        refuseDmlOnView("UPDATE", relParts(u.table).get)
      case d: DeleteFromTable if relParts(d.table).exists(isView) =>
        refuseDmlOnView("DELETE FROM", relParts(d.table).get)
      case m: MergeIntoTable
          if relParts(m.targetTable).exists(isView) =>
        refuseDmlOnView("MERGE INTO", relParts(m.targetTable).get)
      case u: UnresolvedRelation
          if !u.isStreaming && isView(u.multipartIdentifier) =>
        expand(u.multipartIdentifier, Set.empty)
      case c: CreateView
          if identParts(c.child).exists(p => viewDirOf(p).isDefined) =>
        rewriteCreate(c, identParts(c.child).get)
      case d: DropView
          if identParts(d.child).exists(p => viewDirOf(p).isDefined) =>
        rewriteDrop(d, identParts(d.child).get)
      case a: AlterViewAs
          if identParts(a.child).exists(p => viewDirOf(p).isDefined) =>
        rewriteAlterAs(a, identParts(a.child).get)
      case s: ShowViews if namespaceParts(s.namespace).map(qualifiedNs)
          .exists(p => p.nonEmpty && warehouseOf(p.head).isDefined) =>
        rewriteShow(s, qualifiedNs(namespaceParts(s.namespace).get))
      // DESCRIBE HISTORY / DESCRIBE DETAIL (parsed by
      // [[GraftSqlParser]]): resolve the name through the same
      // qualification as views, then plan the exact manifest-only
      // frame the graft_history / graft_detail TVFs serve — pure
      // metadata reads, resolved eagerly like SHOW VIEWS
      case d: GraftDescribeStatement =>
        d.path.orElse(viewDirOf(d.nameParts)
            .filter(x => Export.latestSnapshotVersion(x) >= 1)) match {
          case Some(dir) =>
            val df =
              if (d.kind == "HISTORY") Export.snapshotHistory(spark, dir)
              else Export.snapshotDetail(spark, dir)
            df.queryExecution.logical
          case None
              if d.original.nonEmpty &&
                describeKeywordIsATable(d.kind) =>
            // the probe regex cannot tell `DESCRIBE HISTORY t` from
            // Spark's column-describe of a table literally named
            // `history` — when such a table/view exists and the
            // target is not a lake table, the statement was the
            // column form: delegate the verbatim text to Spark's own
            // parser (NOT the session parser, which would re-probe)
            new org.apache.spark.sql.execution.SparkSqlParser()
              .parsePlan(d.original)
          case None =>
            throw new IllegalArgumentException(
              s"DESCRIBE ${d.kind} ${d.nameParts.mkString(".")}: not " +
                "a lake table (fully qualify the name, USE the lake " +
                "catalog, or pass a quoted path)")
        }
      // OPTIMIZE t [WHERE pred] [ZORDER BY (a[, b])] / VACUUM t
      // [RETAIN n HOURS] (parsed by [[GraftSqlParser]]): the statement
      // faces of graft_optimize / graft_vacuum — resolved here,
      // executed DEFERRED (Command: spark.sql runs it eagerly, the
      // maintenance commit happens at execution, never at analysis),
      // returning the procedure twin's one-row result
      case ms: GraftMaintenanceStatement =>
        rewriteMaintenance(ms)
      // ALTER TABLE ... ADD CONSTRAINT name CHECK (...) / DROP
      // CONSTRAINT: Spark's own route dies twice for this engine
      // (ResolveSessionCatalog rejects any AddCheckConstraint whose
      // child resolved through a V1 relation — exactly what the lake's
      // deliberate V1 read fallback produces), so the statements
      // rewrite here to the audited metadata commits; enforcement
      // itself lives in the epoch writers, not in the statement
      case a: AddCheckConstraint
          if relParts(a.child).exists(p => viewDirOf(p).isDefined) =>
        rewriteAddCheck(a, relParts(a.child).get)
      case d: DropConstraint
          if relParts(d.table).exists(p => viewDirOf(p).isDefined) =>
        rewriteDropCheck(d, relParts(d.table).get)
    }

  private def relParts(p: LogicalPlan): Option[Seq[String]] =
    p.collectFirst {
      case u: UnresolvedRelation => u.multipartIdentifier
      case t: UnresolvedTable => t.multipartIdentifier
    }

  /** `OPTIMIZE` / `VACUUM` statement resolution: clause mapping onto
    * the audited compaction/retention commits (the graft_optimize /
    * graft_vacuum procedures' exact code paths — by-name parity is
    * spec-pinned):
    *  - bare OPTIMIZE re-clusters by a declared `graft.cluster.key`
    *    (never erodes zones) else plain-compacts the head;
    *  - OPTIMIZE ... WHERE takes partition-column EQUALITY conjuncts
    *    and rewrites only the matching partitions' files;
    *  - ZORDER BY (a) re-clusters on `a`; ZORDER BY (a, b) z-orders;
    *  - VACUUM keeps the head version and deletes unreferenced files
    *    older than RETAIN (default [[Export.DefaultVacuumHorizonMs]]).
    */
  private def rewriteMaintenance(
      ms: GraftMaintenanceStatement): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    val dirOpt = ms.path.orElse(viewDirOf(ms.nameParts)
      .filter(x => Export.latestSnapshotVersion(x) >= 1))
    // ANALYZE is the one maintenance shape Spark's own grammar also
    // owns (session-catalog tables): a non-lake target falls back to
    // the delegate parse of the verbatim text — the DESCRIBE pattern
    if (dirOpt.isEmpty && ms.kind == "ANALYZE" && ms.original.nonEmpty)
      return new org.apache.spark.sql.execution.SparkSqlParser()
        .parsePlan(ms.original)
    val dir = dirOpt.getOrElse(throw new IllegalArgumentException(
      s"${ms.kind} ${ms.nameParts.mkString(".")}: not a lake table " +
        "(fully qualify the name, USE the lake catalog, or pass a " +
        "quoted path)"))
    def la(n: String) = AttributeReference(n, LongType,
      nullable = false)()
    if (ms.kind == "OPTIMIZE") {
      val (whereSql, z) = (ms.whereSql, ms.zorderCols)
      require(whereSql.isEmpty || z.isEmpty,
        "OPTIMIZE ... WHERE cannot combine with ZORDER BY - compact " +
          "the partition first, then re-cluster, or z-order the " +
          "whole table")
      GraftMaintenanceResult(s"OPTIMIZE $dir",
        Seq(la("version"), la("n_files")), () => {
          val s = SparkSession.active
          val E = Export
          val v = (whereSql, z) match {
            case (Some(w), _) =>
              val (filters, ranges) = partitionPredicates(s, w)
              val head = E.latestSnapshotVersion(dir)
              val partCols = E.snapshotPartitionColumns(dir, head)
              val named = filters.keySet ++ ranges.map(_._1)
              require(partCols.nonEmpty &&
                named.subsetOf(partCols.toSet),
                s"OPTIMIZE ... WHERE must name partition-column " +
                  s"equality/range conjuncts (layout: " +
                  s"${partCols.mkString(", ")}; " +
                  s"got: ${named.mkString(", ")})")
              E.compactSnapshotPartition(s, dir, partCols, filters, 1,
                None, ranges)
            case (None, Seq(k)) =>
              E.compactSnapshot(s, dir,
                layout = Some(E.Layout.Clustered(k, 1)))
            case (None, Seq(a, b)) =>
              E.compactSnapshot(s, dir,
                layout = Some(E.Layout.Zordered(a, b, 1)))
            // the table's declared layout (partitions, else its
            // graft.cluster.key zones)
            case (None, Nil) => E.compactSnapshot(s, dir, 1)
            case (None, more) => throw new IllegalArgumentException(
              s"ZORDER BY takes one or two columns, got " +
                more.mkString(", "))
          }
          Seq(Seq(v.toLong, E.snapshotFiles(dir, v).size.toLong))
        })
    } else if (ms.kind == "ANALYZE") {
      // stats backfill: one read pass, zero rewrites — per-file n=/s=
      // tags land in a metadata-only commit and every later
      // scan/DELETE/UPDATE prunes with them
      val cols = ms.zorderCols
      GraftMaintenanceResult(s"ANALYZE $dir",
        Seq(la("version"), la("analyzed_files")), () => {
          val s = SparkSession.active
          val v = Export.analyzeSnapshotStats(s, dir, cols)
          Seq(Seq(v.toLong, Export.snapshotFiles(dir, v).size.toLong))
        })
    } else if (ms.kind == "RETAG") {
      // partition-tag backfill: stamp `p=` specs on untagged epochs
      // (metadata-only when files are single-tuple; a rewrite scoped
      // to just the spanning files otherwise) — the light maintenance
      // that restores DPP surfacing after a legacy/pre-layout commit
      val cols = ms.zorderCols
      GraftMaintenanceResult(s"RETAG $dir",
        Seq(la("version"), la("n_files")), () => {
          val s = SparkSession.active
          val v = Export.retagSnapshotPartitions(s, dir, cols)
          Seq(Seq(v.toLong, Export.snapshotFiles(dir, v).size.toLong))
        })
    } else if (ms.kind == "RESTORE") {
      // `RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF v` — the
      // rollback statement (graft_restore's face): ONE manifest commit
      // re-pointing the head at the target version's files, zero data
      // movement; timestamps resolve exactly like TIMESTAMP AS OF
      val (verb, value) = ms.asOf.getOrElse(
        throw new IllegalArgumentException(
          "RESTORE needs TO VERSION AS OF n or TO TIMESTAMP AS OF ts"))
      GraftMaintenanceResult(s"RESTORE $dir", Seq(la("version")), () => {
        val toV =
          if (verb == "VERSION") value.toInt
          else {
            val txt = value.stripPrefix("'").stripSuffix("'")
            val asMs =
              if (txt.nonEmpty && txt.forall(_.isDigit)) txt.toLong
              else java.sql.Timestamp.valueOf(txt).getTime
            Export.resolveAsOfTimestamp(dir, asMs)
          }
        Seq(Seq(Export.restoreSnapshot(dir, toV).toLong))
      })
    } else {
      val dry = ms.dryRun
      GraftMaintenanceResult(s"VACUUM $dir",
        Seq(la("dropped_versions"), la("deleted_files")), () => {
          val horizonMs = ms.retainHours
            .map(h => (h * 3600000.0).toLong)
            .getOrElse(Export.DefaultVacuumHorizonMs)
          // RETENTION FLOOR: enforced inside Export.vacuumSnapshots
          // since r18 (advisor: the CLI verb and the bare API accepted
          // sub-floor horizons with no check — one shared guard now
          // covers every front door; DRY RUN exempt, override via
          // spark.graft.vacuum.retentionCheck=false).
          val (dv, df) = Export.vacuumSnapshots(dir, 1, horizonMs,
            dryRun = dry)
          Seq(Seq(dv.toLong, df.toLong))
        })
    }
  }

  /** The WHERE clause of `OPTIMIZE ... WHERE`: a conjunction of
    * `col = literal` equalities over partition columns — anything else
    * refuses loudly (a row-level OPTIMIZE filter has no meaning; the
    * statement scopes PARTITIONS). */
  private def partitionPredicates(s: SparkSession, w: String)
      : (Map[String, String], Seq[(String, String, Literal)]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo,
      GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    // stringify through CAST-to-string — the exact form the p= spec
    // writer used — so typed literals match (`WHERE dt =
    // DATE'2024-01-01'` must compare as "2024-01-01", never the
    // internal day count)
    def lit(l: Literal): String = Option(
        org.apache.spark.sql.catalyst.expressions.Cast(l,
          org.apache.spark.sql.types.StringType,
          Option(s.sessionState.conf.sessionLocalTimeZone)).eval(null))
      .map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        "OPTIMIZE ... WHERE: NULL is not a partition value"))
    // range conjuncts compare TYPED (integrals/DATE/TIMESTAMP as longs
    // — the prune kernel's shapes); anything else refuses rather than
    // silently scoping the whole table
    def rng(a: UnresolvedAttribute, op: String, l: Literal)
        : (String, String, Literal) = {
      require(graft.sources.GraftLakeBatch.longOf(l).isDefined,
        s"OPTIMIZE ... WHERE range conjuncts support integral, DATE " +
          s"and TIMESTAMP partition-column literals only, got: " +
          s"${l.dataType.sql}")
      (a.name, op, l)
    }
    val eqs = Seq.newBuilder[(String, String)]
    val ranges = Seq.newBuilder[(String, String, Literal)]
    graft.sources.GraftLakeBatch.splitConjuncts(
        s.sessionState.sqlParser.parseExpression(w)).foreach {
      case EqualTo(a: UnresolvedAttribute, l: Literal) =>
        eqs += a.name -> lit(l)
      case EqualTo(l: Literal, a: UnresolvedAttribute) =>
        eqs += a.name -> lit(l)
      case GreaterThan(a: UnresolvedAttribute, l: Literal) =>
        ranges += rng(a, ">", l)
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        ranges += rng(a, ">=", l)
      case LessThan(a: UnresolvedAttribute, l: Literal) =>
        ranges += rng(a, "<", l)
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        ranges += rng(a, "<=", l)
      case GreaterThan(l: Literal, a: UnresolvedAttribute) =>
        ranges += rng(a, "<", l) // v > col ≡ col < v
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        ranges += rng(a, "<=", l)
      case LessThan(l: Literal, a: UnresolvedAttribute) =>
        ranges += rng(a, ">", l)
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        ranges += rng(a, ">=", l)
      case other => throw new IllegalArgumentException(
        "OPTIMIZE ... WHERE supports partition-column equality " +
          "and range conjuncts only (col = literal, col </<=/>/>= " +
          s"literal), got: $other")
    }
    (eqs.result().toMap, ranges.result())
  }

  /** True when a table, temp view, or lake table named `history` /
    * `detail` (the probe keyword) exists — the only situation in which
    * `DESCRIBE HISTORY <x>` was actually Spark's column-describe form
    * against that table rather than the lake statement. */
  private def describeKeywordIsATable(kind: String): Boolean = {
    val n = kind.toLowerCase(java.util.Locale.ROOT)
    val cat = spark.sessionState.catalog
    cat.getTempView(n).isDefined ||
      (try cat.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(n))
        catch { case scala.util.control.NonFatal(_) => false }) ||
      (try viewDirOf(Seq(n))
          .exists(x => Export.latestSnapshotVersion(x) >= 1)
        catch { case scala.util.control.NonFatal(_) => false })
  }

  private def refuseDmlOnView(stmt: String, parts: Seq[String]): Nothing =
    throw new UnsupportedOperationException(
      s"$stmt ${parts.mkString(".")}: the target is a VIEW - views are " +
        "stored SQL text, not data; write to the base table instead")

  private def rewriteAddCheck(a: AddCheckConstraint,
      parts: Seq[String]): LogicalPlan = {
    val dir = viewDirOf(parts).get
    val ck = a.checkConstraint
    val name = Option(ck.userProvidedName).getOrElse(
      s"chk_${math.abs(ck.condition.hashCode).toString}")
    val cond = ck.condition
    GraftDmlStatement(
      s"ALTER TABLE ${parts.mkString(".")} ADD CONSTRAINT $name", () => {
        // validates EXISTING rows, then one metadata-only commit; the
        // epoch writers enforce from the next write on
        Export.setSnapshotCheck(SparkSession.active, dir, name,
          Some(cond))
        ()
      })
  }

  private def rewriteDropCheck(d: DropConstraint,
      parts: Seq[String]): LogicalPlan = {
    val dir = viewDirOf(parts).get
    val (name, ifExists) = (d.name, d.ifExists)
    GraftDmlStatement(
      s"ALTER TABLE ${parts.mkString(".")} DROP CONSTRAINT $name", () => {
        val exists = Export.snapshotChecks(dir).contains(name)
        if (!exists && !ifExists)
          throw new IllegalArgumentException(
            s"no constraint '$name' on ${parts.mkString(".")}")
        if (exists)
          Export.setSnapshotCheck(SparkSession.active, dir, name, None)
        ()
      })
  }

  /** Inline the stored text, pre-expanding nested lake views with a
    * seen-set so a reference cycle refuses instead of spinning the
    * analyzer fixpoint; the alias keeps `v.col` / `v.*` resolution and
    * the column list applies by position. */
  private def expand(parts: Seq[String],
      seen: Set[Seq[String]]): LogicalPlan = {
    // cycle keys are the QUALIFIED name, so a short reference under
    // USE and its fully-qualified spelling are the same view
    val key = qualified(parts).map(_.toLowerCase)
    if (seen.contains(key))
      throw new IllegalStateException(
        s"cyclic view reference: ${parts.mkString(".")} refers " +
          "(transitively) to itself - re-CREATE one of the views in " +
          "the cycle")
    val dir = viewDirOf(parts).get
    val vd = readView(dir).getOrElse(
      throw new IllegalStateException(
        s"view ${parts.mkString(".")} vanished during analysis"))
    val parsed = CatalystSqlParser.parsePlan(vd.sql)
    val inner = parsed.transformUpWithPruning(
        _.containsPattern(UNRESOLVED_RELATION)) {
      case u: UnresolvedRelation if !u.isStreaming =>
        // a SHORT name inside the TEXT binds to the view's CREATION
        // context (the SQL view-default-database law) — never to the
        // reading session's USE state
        val raw = u.multipartIdentifier
        val bound =
          if (raw.length >= 3 || vd.ctx.isEmpty) raw
          else if (raw.length == 2) vd.ctx.head +: raw
          else vd.ctx ++ raw
        if (isView(bound)) expand(bound, seen + key)
        else if (bound != raw && viewDirOf(bound).exists(d =>
            Export.latestSnapshotVersion(d) >= 1))
          u.copy(multipartIdentifier = bound)
        else u
    }
    val body =
      if (vd.cols.isEmpty) inner
      else UnresolvedSubqueryColumnAliases(vd.cols, inner)
    SubqueryAlias(AliasIdentifier(parts.last, parts.init), body)
  }

  private def rewriteCreate(c: CreateView,
      parts: Seq[String]): LogicalPlan = {
    val dir = viewDirOf(parts).get
    val sql = c.originalText.getOrElse(throw new IllegalStateException(
      s"CREATE VIEW ${parts.mkString(".")}: no SQL text captured"))
    val cols = c.userSpecifiedColumns.map(_._1)
    val comment = c.comment
    val (allowExisting, replace) = (c.allowExisting, c.replace)
    GraftDmlStatement(s"CREATE VIEW ${parts.mkString(".")}", () => {
      val s = SparkSession.active
      require(Export.latestSnapshotVersion(dir) < 1,
        s"${parts.mkString(".")} is a TABLE - CREATE VIEW cannot " +
          "shadow it")
      // the SQL law: a broken query refuses the CREATE — analyze the
      // text now (this very rule expands nested lake views inside it)
      val analyzed = org.apache.spark.sql.GraftPlanBridge
        .ofRows(s, CatalystSqlParser.parsePlan(sql))
        .queryExecution.analyzed
      // a persistent view must not capture the creating session's temp
      // state - the stored text re-resolves in the READING session
      analyzed.foreach {
        case v: View if v.isTempView =>
          throw new IllegalArgumentException(
            s"CREATE VIEW ${parts.mkString(".")}: the query references " +
              s"a TEMPORARY view ('${v.desc.identifier.table}') - a " +
              "persistent view's text re-resolves in the reading " +
              "session, where that temp view does not exist. Inline " +
              "it or make it a lake view")
        case _ =>
      }
      if (cols.nonEmpty)
        require(cols.length == analyzed.output.length,
          s"CREATE VIEW ${parts.mkString(".")}: ${cols.length} column " +
            s"names for ${analyzed.output.length} query columns")
      val exists = readView(dir).isDefined
      if (exists && !replace && !allowExisting)
        throw new IllegalStateException(
          s"view ${parts.mkString(".")} already exists (use CREATE OR " +
            "REPLACE VIEW, or IF NOT EXISTS)")
      if (!exists || replace) {
        val cm = s.sessionState.catalogManager
        writeView(dir, ViewDef(sql, cols, comment,
          cm.currentCatalog.name +: cm.currentNamespace.toSeq))
      }
      ()
    })
  }

  /** `ALTER VIEW v AS SELECT ...` — swap the stored text in place,
    * keeping the comment but CLEARING a stored column list (the new
    * query names its own columns, the Spark semantics). The same
    * exec-time validation as CREATE: the text must analyze, no
    * temp-view captures. */
  private def rewriteAlterAs(a: AlterViewAs,
      parts: Seq[String]): LogicalPlan = {
    val dir = viewDirOf(parts).get
    val sql = a.originalText
    GraftDmlStatement(s"ALTER VIEW ${parts.mkString(".")} AS", () => {
      val s = SparkSession.active
      val existing = readView(dir).getOrElse(
        throw new IllegalArgumentException(
          if (Export.latestSnapshotVersion(dir) >= 1)
            s"${parts.mkString(".")} is a TABLE, not a view"
          else s"view ${parts.mkString(".")} does not exist"))
      val analyzed = org.apache.spark.sql.GraftPlanBridge
        .ofRows(s, CatalystSqlParser.parsePlan(sql))
        .queryExecution.analyzed
      analyzed.foreach {
        case v: View if v.isTempView =>
          throw new IllegalArgumentException(
            s"ALTER VIEW ${parts.mkString(".")}: the query references " +
              s"a TEMPORARY view ('${v.desc.identifier.table}')")
        case _ =>
      }
      // the NEW text binds to the ALTERING session's context
      val cm = s.sessionState.catalogManager
      writeView(dir, ViewDef(sql, Nil, existing.comment,
        cm.currentCatalog.name +: cm.currentNamespace.toSeq))
      ()
    })
  }

  private def rewriteDrop(d: DropView, parts: Seq[String]): LogicalPlan =
    GraftDmlStatement(s"DROP VIEW ${parts.mkString(".")}", () => {
      if (readView(viewDirOf(parts).get).isDefined)
        deleteView(viewDirOf(parts).get)
      else if (Export.latestSnapshotVersion(viewDirOf(parts).get) >= 1)
        throw new IllegalArgumentException(
          s"${parts.mkString(".")} is a TABLE, not a view - use DROP " +
            "TABLE")
      else if (!d.ifExists)
        throw new IllegalArgumentException(
          s"view ${parts.mkString(".")} does not exist")
      ()
    })

  private def namespaceParts(p: LogicalPlan): Option[Seq[String]] =
    p match {
      case u: UnresolvedNamespace => Some(u.multipartIdentifier)
      case r: ResolvedNamespace =>
        Some(r.catalog.name +: r.namespace)
      case _ if p == org.apache.spark.sql.catalyst.analysis
          .CurrentNamespace => Some(Nil)
      case _ => None
    }

  /** SHOW VIEWS' namespace under `USE`: a 0-1-part namespace whose
    * head is not a catalog qualifies with the current catalog (and,
    * when empty, the current namespace). */
  private def qualifiedNs(parts: Seq[String]): Seq[String] =
    if (parts.nonEmpty && warehouseOf(parts.head).isDefined) parts
    else {
      val cm = spark.sessionState.catalogManager
      if (warehouseOf(cm.currentCatalog.name).isEmpty) parts
      else cm.currentCatalog.name +:
        (if (parts.isEmpty) cm.currentNamespace.toSeq else parts)
    }

  /** SHOW VIEWS — a pure metadata read: resolve to the listed rows at
    * analysis (Spark's own ShowViewsCommand is likewise an eager
    * command; there is no side effect to defer). */
  private def rewriteShow(s: ShowViews,
      parts: Seq[String]): LogicalPlan = {
    val w = warehouseOf(parts.head).get
    val nsDir = (w +: parts.tail).mkString("/")
    val names = listViews(nsDir)
    val filtered = s.pattern match {
      case Some(p) =>
        // the SHOW ... LIKE law: '*' any chars, '|' alternation,
        // case-insensitive
        val rx = p.split("\\|").map(a =>
          java.util.regex.Pattern.quote(a.trim.toLowerCase)
            .replace("*", "\\E.*\\Q")).mkString("|")
        names.filter(n => n.toLowerCase.matches(rx))
      case None => names
    }
    val ns = UTF8String.fromString(parts.tail.mkString("."))
    LocalRelation(s.output, filtered.sorted.map(n =>
      org.apache.spark.sql.catalyst.InternalRow(
        ns, UTF8String.fromString(n), false)))
  }
}

/** The `_view` file format + FS helpers (urlencoded `k=v` lines, the
  * manifest property idiom — no JSON dependency). A view definition is
  * a GENERATION file `_view.N` (a legacy bare `_view` reads as
  * generation 0); a REPLACE commits `_view.N+1` through the same
  * non-overwriting create-temp-then-rename pair as every manifest, so
  * the OLD definition stays readable until the new one is fully
  * committed — a reader racing `CREATE OR REPLACE` sees old-or-new,
  * never a missing or torn view (delete-then-rename had exactly that
  * window, and rename-with-OVERWRITE is delete+rename inside Hadoop's
  * local FileContext too). Superseded generations are pruned
  * best-effort, keeping the immediate predecessor for in-flight
  * readers; a reader that loses the prune race re-lists — generations
  * only grow, so the retry converges. */
object GraftLakeViews {

  /** `ctx` is the CREATING session's current catalog+namespace — the
    * SQL view-default-database law: short names inside the stored text
    * bind to where the view was created, not to the reading session's
    * `USE` state. Empty on pre-r15 view files (their texts were
    * necessarily fully qualified). */
  final case class ViewDef(sql: String, cols: Seq[String],
      comment: Option[String], ctx: Seq[String] = Nil)

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** All committed view-definition generations under `root`. */
  private def viewFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath).flatMap { p =>
      val n = p.getName
      if (n == "_view") Some((0L, p))
      else if (n.startsWith("_view.") && !n.endsWith(".tmp"))
        scala.util.Try(n.drop("_view.".length).toLong).toOption
          .map((_, p))
      else None
    }

  private def parseView(fs: org.apache.hadoop.fs.FileSystem,
      f: Path): ViewDef = {
    val in = fs.open(f)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    val kvs = text.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); (k, dec(v)) }
      .toSeq
    val sql = kvs.collectFirst { case ("sql", v) => v }.getOrElse(
      throw new IllegalStateException(s"$f has no sql= line"))
    ViewDef(sql, kvs.collect { case ("col", v) => v },
      kvs.collectFirst { case ("comment", v) => v },
      kvs.collect { case ("ctx", v) => v })
  }

  def readView(dir: String): Option[ViewDef] = {
    val (fs, root) = Export.fsRoot(dir)
    var attempt = 0
    while (attempt <= 8) {
      viewFiles(fs, root).maxByOption(_._1) match {
        case None => return None
        case Some((_, f)) =>
          try return Some(parseView(fs, f))
          catch {
            // the generation was pruned between listing and open — a
            // NEWER one exists by construction; re-list (bounded: each
            // miss proves another replace landed)
            case e: java.io.FileNotFoundException =>
              attempt += 1
              if (attempt > 8) throw e
          }
      }
    }
    None // unreachable
  }

  def writeView(dir: String, vd: ViewDef): Unit = {
    val (fs, root) = Export.fsRoot(dir)
    fs.mkdirs(root)
    val payload = (Seq(s"sql=${enc(vd.sql)}") ++
      vd.cols.map(c => s"col=${enc(c)}") ++
      vd.comment.map(c => s"comment=${enc(c)}") ++
      vd.ctx.map(c => s"ctx=${enc(c)}") ++
      Seq(s"created_at=${System.currentTimeMillis()}"))
      .mkString("\n").getBytes("UTF-8")
    var attempt = 0
    while (attempt < 10) {
      val gen = viewFiles(fs, root).map(_._1).maxOption.getOrElse(-1L) + 1
      val dest = new Path(root, s"_view.$gen")
      val tmp = new Path(root, s"._view.${System.nanoTime()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(payload) finally out.close()
      // the manifest commit-point primitive (atomic create-exclusive,
      // content complete before the name appears); a loser re-reads
      // and claims gen+1
      if (Export.publishExclusive(fs, tmp, dest)) {
        viewFiles(fs, root).sortBy(_._1).dropRight(2).foreach {
          case (_, p) =>
            try fs.delete(p, false)
            catch { case NonFatal(_) => () } // next replace re-prunes
        }
        return
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"view commit under $root kept losing replace races")
  }

  def deleteView(dir: String): Unit = {
    val (fs, root) = Export.fsRoot(dir)
    fs.delete(root, true) // the dir holds only _view* (never manifests)
  }

  def listViews(nsDir: String): Seq[String] = {
    val (fs, root) = Export.fsRoot(nsDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && viewFiles(fs, st.getPath).nonEmpty)
      .map(_.getPath.getName)
  }
}
