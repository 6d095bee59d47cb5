package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.GraftV1FallbackBridge
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCapability, TableCatalog, TableCatalogCapability, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Export
import graft.operators.Export.Layout

/** SQL CATALOG over graft lake tables — the last mile of the SQL story:
  * after
  *
  *   spark.sql.catalog.graftlake = graft.sources.GraftLakeCatalog
  *   spark.sql.catalog.graftlake.warehouse = /data/lake
  *
  * plain SQL addresses tables by NAME instead of path:
  *
  *   CREATE NAMESPACE graftlake.corpus
  *   CREATE TABLE graftlake.corpus.docs (doc_id BIGINT, text STRING)
  *     [PARTITIONED BY (lang)]          -- hive-style layout, p=-tagged
  *   INSERT INTO graftlake.corpus.docs SELECT ...
  *   INSERT OVERWRITE graftlake.corpus.docs SELECT ...
  *   SELECT * FROM graftlake.corpus.docs WHERE ...
  *   ALTER TABLE graftlake.corpus.docs RENAME COLUMN a TO b
  *     | DROP COLUMN a | ADD COLUMN x BIGINT
  *     | ALTER COLUMN n TYPE BIGINT     -- all metadata-only commits
  *
  * An identifier `ns.table` maps to the snapshot-log directory
  * `<warehouse>/ns/table`; a "table" IS its manifest log, so every
  * existing verb (time travel via the TVFs, DML via the `graft_*`
  * procedures, maintenance via the CLI) composes with catalog-created
  * tables — they all address the same directory.
  *
  * Read path: `V2TableWithV1Fallback` (via [[org.apache.spark.sql.GraftV1FallbackBridge]]) — the analyzer resolves the
  * table to its v1 `CatalogTable` (provider `graftlake`, location =
  * the table dir), which lands in [[GraftLakeDataSource.createRelation]]
  * and therefore in the manifest-planned `HadoopFsRelation` with file
  * pruning and pushdown (the same deliberate DSv1 choice as the
  * format: a native v2 `PartitionReader` would hand-decode parquet).
  * Write path: `V1_BATCH_WRITE` — `INSERT INTO` appends a snapshot
  * version, `INSERT OVERWRITE` commits a full-replace version (time
  * travel keeps the old state; never a file-level truncate).
  *
  * Column-mapped heads serve through the physical-renaming parquet
  * format and DV-bearing (MoR-deleted) heads through the extension's
  * anti-join rewrite — `SELECT` by name is correct immediately after a
  * RENAME/DROP COLUMN or a MoR DELETE, no compaction required. DROP
  * TABLE deletes the directory (the catalog owns the warehouse
  * layout); RENAME is a filesystem rename and therefore only atomic
  * where the store's rename is. */
class GraftLakeCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** COLUMN DEFAULT VALUES are first-class: `CREATE TABLE ... (c INT
    * DEFAULT 5)` persists the analyzer's `CURRENT_DEFAULT` metadata in
    * the committed schema (the metadata-carry law in
    * [[Export.internalMeta]] keeps it alive across every data commit),
    * and INSERTs that omit the column — or write the DEFAULT keyword —
    * materialize it at write time through Spark's own default-column
    * resolution. `ALTER COLUMN ... SET/DROP DEFAULT` is a metadata-only
    * commit ([[Export.setSnapshotColumnDefault]], future inserts only).
    * `ADD COLUMN ... DEFAULT` stays refused: it would need an
    * EXISTS_DEFAULT read fill for pre-add files, and this lake's
    * evolution law is null-fill. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)
      .asJava

  private def dirOf(parts: Seq[String]): String =
    (warehouse +: parts).mkString("/")

  private def tableDir(ident: Identifier): String =
    dirOf(ident.namespace.toIndexedSeq :+ ident.name)

  private def fsOf(dir: String) = Export.fsRoot(dir)

  private def isTable(dir: String): Boolean =
    Export.latestSnapshotVersion(dir) >= 1

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (fs, root) = fsOf(dirOf(namespace.toIndexedSeq))
    if (!fs.exists(root)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toIndexedSeq): Seq[String])
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        isTable(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new GraftLakeTable(catalogName, ident, dir)
  }

  /** SQL time travel by name: `SELECT ... FROM glc.ns.t VERSION AS OF v`
    * / `TIMESTAMP AS OF ts` — the returned table is PINNED and the read
    * rule plans that version's manifest. Writes to a pinned table are
    * refused by the analyzer (a versioned relation is not a write
    * target). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new GraftLakeTable(catalogName, ident, dir, Some(version.toInt))
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // the v2 contract hands MICROseconds since epoch; the lake stamps ms
    new GraftLakeTable(catalogName, ident, dir,
      Some(Export.resolveAsOfTimestamp(dir, timestamp / 1000)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (col, ...) — identity transforms only: the lake's
    // layout is hive-style value directories; bucket/temporal transforms
    // have no epoch-writer analog and are refused loudly
    val partCols = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1,
        s"unsupported partition transform $t - the lake partitions by " +
          "plain top-level columns (PARTITIONED BY (col, ...))")
      t.references.head.fieldNames.head
    }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the table schema"))
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // a PERSISTENT VIEW owns this name: committing manifests beside
    // its _view file would make every read shadow the table (the view
    // expands before resolution) - refuse, never silently shadow
    require(graft.plans.GraftLakeViews.readView(dir).isEmpty,
      s"${ident.toString} is a VIEW - DROP VIEW first, or pick " +
        "another name")
    // DEFAULT columns: keep CURRENT_DEFAULT (the INSERT-time fill
    // Spark's analyzer resolves) but strip EXISTS_DEFAULT — that key
    // is a READ-path fill for files missing the column, and this
    // lake's read contract for absent columns is null-fill; a file
    // of a created-with-default table always carries the column
    // (defaults materialize at write), so the key could only ever
    // fire surprisingly
    val stored = StructType(schema.fields.map { f =>
      if (!f.metadata.contains("EXISTS_DEFAULT")) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("EXISTS_DEFAULT").build())
    })
    // a zero-file v1 commit carrying the schema (and the declared
    // layout - the first INSERT reads it back, every later one derives
    // it from the committed p= specs): an empty but typed table.
    // ZERO files matters: an empty parquet part file would carry no
    // p= spec and poison partition-scoped DML on the table forever
    Export.createEmptySnapshot(dir, stored,
      meta = if (partCols.isEmpty) Map.empty
        else Map("partition_cols" -> partCols.mkString(",")))
    // TBLPROPERTIES: the engine's own `graft.*` knobs persist in the
    // manifest property channel (e.g. `graft.update.mode=mor` routes
    // the native UPDATE merge-on-read); Spark's bookkeeping keys
    // (provider/location/owner) are not table semantics and drop
    val graftProps = properties.asScala.toMap
      .filter { case (k, _) => k.startsWith("graft.") }
    if (graftProps.nonEmpty)
      Export.setSnapshotProperties(dir, graftProps)
    new GraftLakeTable(catalogName, ident, dir)
  }

  /** `CREATE TABLE ... (cols, CONSTRAINT c CHECK (...))` — the
    * TableInfo overload. The interface DEFAULT delegates to the
    * columns variant and silently DROPS `info.constraints()`; a lost
    * CHECK is a data-integrity hole, so this override stores each one
    * after the zero-file create (nothing to validate on an empty
    * table — the epoch writers enforce from the first INSERT).
    * Non-CHECK constraints refuse, and a refusal drops the
    * half-created table so the statement never half-applies. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    // GENERATED columns: the v2 Column carries generationExpression()
    // but Spark's column→StructField conversion does NOT embed it, so
    // stamp the analyzer's own metadata key here — the committed
    // schema is where the epoch writers read it back from
    val genKey = org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY
    val genOf: Map[String, String] = info.columns()
      .flatMap(c => Option(c.generationExpression).map(c.name -> _))
      .toMap
    // IDENTITY columns ride the same seam: the v2 Column carries
    // identityColumnSpec() and the conversion drops it too — stamp the
    // analyzer's identity metadata keys so the epoch writers (and
    // every DESCRIBE) read them from the committed schema
    val IC = org.apache.spark.sql.catalyst.util.IdentityColumn
    val idOf: Map[String,
        org.apache.spark.sql.connector.catalog.IdentityColumnSpec] =
      info.columns()
        .flatMap(c => Option(c.identityColumnSpec).map(c.name -> _))
        .toMap
    val enriched = StructType(info.schema().fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      genOf.foreach { case (n, g) =>
        if (n == f.name) mb.putString(genKey, g) }
      idOf.get(f.name).foreach { spec =>
        require(spec.getStep != 0L,
          s"identity column '${f.name}': INCREMENT BY 0 would issue " +
            "the same id forever")
        mb.putLong(IC.IDENTITY_INFO_START, spec.getStart)
          .putLong(IC.IDENTITY_INFO_STEP, spec.getStep)
          .putBoolean(IC.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            spec.isAllowExplicitInsert)
      }
      if (genOf.contains(f.name) || idOf.contains(f.name))
        f.copy(metadata = mb.build())
      else f
    })
    val t = createTable(ident, enriched, info.partitions(),
      info.properties())
    if (info.constraints().nonEmpty) {
      try info.constraints().foreach {
        case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
          Export.setSnapshotCheck(SparkSession.active, tableDir(ident),
            ck.name, Some(ck.predicateSql))
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are enforceable here - got '$other' " +
            "(PRIMARY KEY / FOREIGN KEY / UNIQUE are informational " +
            "claims this engine does not store)")
      } catch {
        case e: Throwable => dropTable(ident); throw e
      }
      loadTable(ident)
    } else t
  }

  /** SQL schema evolution BY NAME — every change is the corresponding
    * metadata-only lake commit (no data rewrite, old versions still
    * time-travel, reads serve the mapped head transparently):
    *
    *   ALTER TABLE c.ns.t RENAME COLUMN a TO b   → renameSnapshotColumn
    *   ALTER TABLE c.ns.t DROP COLUMN a          → dropSnapshotColumn
    *   ALTER TABLE c.ns.t ADD COLUMN x BIGINT    → addSnapshotColumn
    *   ALTER TABLE c.ns.t ALTER COLUMN a TYPE BIGINT → widenSnapshotColumn
    *
    * Nested fields and column moves/defaults are not lake concepts here
    * — refused loudly, never half-applied: EVERY change in the call is
    * validated against the (simulated) evolving schema BEFORE the first
    * one commits, so a multi-change statement whose later change is
    * invalid (e.g. `ADD COLUMNS (a INT, a INT)`, a rename collision, a
    * narrowing type) refuses as a whole instead of leaving the table
    * half-altered. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"$what on nested field ${fieldNames.mkString(".")} is not " +
          "supported - lake columns are top-level")
      fieldNames.head
    }
    // PHASE 1 — validate the whole list against the evolving schema;
    // commits nothing, throws on the FIRST invalid change
    val head = Export.latestSnapshotVersion(dir)
    var names = Export.snapshotSchema(dir, head)
      .map(_.fields.map(f => f.name -> f.dataType).toVector)
      .getOrElse(Vector.empty)
    def has(n: String) = names.exists(_._1 == n)
    changes.foreach {
      case c: TableChange.RenameColumn =>
        val from = topLevel(c.fieldNames, "RENAME COLUMN")
        require(has(from), s"RENAME COLUMN: no column '$from'")
        require(!has(c.newName),
          s"RENAME COLUMN: '${c.newName}' already exists")
        names = names.map { case (n, t) =>
          (if (n == from) c.newName else n) -> t }
      case c: TableChange.DeleteColumn =>
        val n = topLevel(c.fieldNames, "DROP COLUMN")
        require(has(n), s"DROP COLUMN: no column '$n'")
        require(names.size > 1,
          "DROP COLUMN: cannot drop the table's last column")
        names = names.filterNot(_._1 == n)
      case c: TableChange.AddColumn =>
        val n = topLevel(c.fieldNames, "ADD COLUMN")
        require(c.isNullable,
          "ADD COLUMN must be nullable - existing rows read back null")
        require(c.defaultValue == null,
          s"ADD COLUMN '$n' WITH DEFAULT is not supported - existing " +
            "rows read back null (the lake's evolution law); add the " +
            "column, then ALTER COLUMN ... SET DEFAULT for future " +
            "inserts")
        require(!has(n), s"ADD COLUMN: '$n' already exists")
        names = names :+ (n -> c.dataType)
      case c: TableChange.UpdateColumnDefaultValue =>
        val n = topLevel(c.fieldNames, "ALTER COLUMN DEFAULT")
        require(has(n), s"ALTER COLUMN DEFAULT: no column '$n'")
      case c: TableChange.AddConstraint =>
        c.constraint match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(ck.predicateSql != null && ck.predicateSql.nonEmpty,
              s"ADD CONSTRAINT ${ck.name}: CHECK needs a predicate")
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are enforceable here - got " +
              s"'$other' (PRIMARY KEY / FOREIGN KEY / UNIQUE are " +
              "informational claims this engine does not store)")
        }
      case _: TableChange.DropConstraint => () // ifExists handled below
      case c: TableChange.UpdateColumnType =>
        val n = topLevel(c.fieldNames, "ALTER COLUMN TYPE")
        val cur = names.find(_._1 == n).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER COLUMN TYPE: no column '$n'"))._2
        require(Export.widens(cur, c.newDataType),
          s"ALTER COLUMN TYPE: $cur -> ${c.newDataType} is not a safe " +
            "widening (integral up-chain or float->double only)")
        names = names.map { case (m, t) =>
          m -> (if (m == n) c.newDataType else t) }
      case c: TableChange.SetProperty =>
        // 'comment' rides the property channel too (COMMENT ON TABLE
        // parses to SetProperty("comment", ...)); everything else
        // non-graft is Spark bookkeeping, refused as before
        require(c.property.startsWith("graft.") ||
          c.property == "comment",
          s"SET TBLPROPERTIES: only graft.* properties (and the table " +
            s"comment) are table semantics here, got '${c.property}'")
      case c: TableChange.RemoveProperty =>
        require(c.property.startsWith("graft.") ||
          c.property == "comment",
          s"UNSET TBLPROPERTIES: only graft.* properties (and the " +
            s"table comment) are table semantics here, got " +
            s"'${c.property}'")
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other - the lake supports " +
          "RENAME/DROP/ADD COLUMN, safe type widening, and graft.* " +
          "TBLPROPERTIES")
    }
    // PHASE 2 — apply; each lake commit is atomic and pre-validated
    // (consecutive property changes collapse into ONE metadata commit)
    val setProps = changes.collect {
      case c: TableChange.SetProperty => c.property -> c.value }.toMap
    val unsetProps = changes.collect {
      case c: TableChange.RemoveProperty => c.property }.toSeq
    if (setProps.nonEmpty || unsetProps.nonEmpty)
      Export.setSnapshotProperties(dir, setProps, unsetProps)
    changes.foreach {
      case c: TableChange.RenameColumn =>
        Export.renameSnapshotColumn(dir, c.fieldNames.head, c.newName)
      case c: TableChange.DeleteColumn =>
        Export.dropSnapshotColumn(dir, c.fieldNames.head)
      case c: TableChange.AddColumn =>
        Export.addSnapshotColumn(dir, c.fieldNames.head, c.dataType)
      case c: TableChange.UpdateColumnType =>
        Export.widenSnapshotColumn(dir, c.fieldNames.head, c.newDataType)
      case c: TableChange.UpdateColumnDefaultValue =>
        // SET DEFAULT carries the analyzed SQL text; DROP DEFAULT
        // arrives as an empty/null text — both are one metadata commit
        Export.setSnapshotColumnDefault(dir, c.fieldNames.head,
          Option(c.newDefaultValue).filter(_.nonEmpty))
      case c: TableChange.AddConstraint =>
        val ck = c.constraint
          .asInstanceOf[org.apache.spark.sql.connector.catalog.constraints.Check]
        // validates EXISTING rows, then one metadata-only commit;
        // enforcement itself lives in the epoch writers
        Export.setSnapshotCheck(SparkSession.active, dir,
          ck.name, Some(ck.predicateSql))
      case c: TableChange.DropConstraint =>
        val exists = Export.snapshotChecks(dir).contains(c.name)
        require(exists || c.ifExists,
          s"no constraint '${c.name}' on this table")
        if (exists)
          Export.setSnapshotCheck(SparkSession.active, dir, c.name, None)
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        () // applied above in one commit
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    new GraftLakeTable(catalogName, ident, dir)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else {
      val (fs, root) = fsOf(dir)
      fs.delete(root, true)
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val (fs, src) = fsOf(tableDir(oldIdent))
    val (_, dst) = fsOf(tableDir(newIdent))
    if (!isTable(src.toString)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename $src -> $dst failed")
    // the metadata half: manifests carry ABSOLUTE data-file URIs, so
    // every surviving version is re-pointed at the new directory
    // (clone-referenced external paths don't match and carry unchanged)
    Export.rewriteSnapshotPaths(dst.toString, src.toString, dst.toString)
  }

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val (fs, root) = fsOf(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val (fs, root) = fsOf(dirOf(namespace.toIndexedSeq))
    fs.exists(root)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(
      (catalogName +: namespace.toIndexedSeq): Seq[String])

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val (fs, root) = fsOf(dirOf(namespace.toIndexedSeq))
    fs.mkdirs(root)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespaces carry no mutable metadata here")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val (fs, root) = fsOf(dirOf(namespace.toIndexedSeq))
    if (!fs.exists(root)) false
    else {
      if (!cascade && fs.listStatus(root).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(root, true)
    }
  }
}

/** One catalog table = one snapshot-log directory. Reads go through the
  * v1 fallback (see [[GraftLakeCatalog]] doc); writes are V1 batch
  * writes mapping INSERT INTO → append commit and INSERT OVERWRITE →
  * full-replace commit. */
final class GraftLakeTable(catalogName: String, ident: Identifier,
    private[graft] val dir: String,
    private[graft] val versionAsOf: Option[Int] = None) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with GraftV1FallbackBridge {

  // ---- PARTITION MANAGEMENT: `SHOW PARTITIONS` lists the manifest's
  // p= tuples (one manifest read, zero data-dir listings), and `ALTER
  // TABLE ... DROP PARTITION` is a METADATA-ONLY commit dropping the
  // matching lines ([[Export.dropSnapshotPartition]] — at 100 TB,
  // dropping a day costs one manifest write; files fall to vacuum).
  // Partitions are IMPLICIT in this lake (the layout appears when rows
  // do), so ADD PARTITION / partition metadata refuse loudly.

  // CACHED per table instance (loadTable hands a fresh instance per
  // lookup, so this is per-analysis): the analyzer consults
  // partitionSchema on far more statements than partition commands,
  // and each uncached call would cost two manifest reads
  private lazy val partitionSchemaCached: StructType = {
    val cols = Export.declaredPartitionColumns(dir)
    val st = schema()
    StructType(cols.flatMap(c => st.fields.find(_.name == c)))
  }
  override def partitionSchema(): StructType = partitionSchemaCached

  /** The EXTERNAL string of one partition value — the exact `p=` spec
    * form the epoch writers lay out (dates as `2026-01-01`, not the
    * internal day count). */
  private def specString(ident0: org.apache.spark.sql.catalyst.InternalRow,
      i: Int, dt: org.apache.spark.sql.types.DataType): String =
    String.valueOf(org.apache.spark.sql.catalyst.expressions
      .Cast(org.apache.spark.sql.catalyst.expressions.Literal(
          ident0.get(i, dt), dt),
        org.apache.spark.sql.types.StringType, Some("UTC")).eval(null))

  private def internalOf(s: String,
      dt: org.apache.spark.sql.types.DataType): Any =
    org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType), dt, Some("UTC")).eval(null)

  override def listPartitionIdentifiers(names: Array[String],
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    val v = versionAsOf.getOrElse(Export.latestSnapshotVersion(dir))
    if (v < 1 || ps.isEmpty)
      return Array.empty[org.apache.spark.sql.catalyst.InternalRow]
    val tuples = Export.snapshotPartitionTuples(dir, v,
      ps.fieldNames.toSeq)
    val wanted: Map[Int, String] = names.zipWithIndex.map {
      case (n, i) =>
        val idx = ps.fieldIndex(n)
        idx -> specString(ident0, i, ps.fields(idx).dataType)
    }.toMap
    tuples.toSeq.sortBy(_.mkString("/"))
      .filter(tp => wanted.forall { case (idx, s) => tp(idx) == s })
      .map(tp => org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        ps.fields.toSeq.zip(tp).map { case (f, s) =>
          internalOf(s, f.dataType) }))
      .toArray
  }

  override def dropPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    require(versionAsOf.isEmpty,
      s"cannot DROP PARTITION of time-travel relation ${name()}")
    val ps = partitionSchema()
    val spec = ps.fields.toSeq.zipWithIndex.map { case (f, i) =>
      f.name -> specString(ident0, i, f.dataType) }.toMap
    try { Export.dropSnapshotPartition(dir, spec); true }
    catch {
      // absent partition: false, so IF EXISTS no-ops and the bare
      // statement raises Spark's own NoSuchPartitionException
      case e: IllegalArgumentException
          if e.getMessage.contains("no partition matching") => false
    }
  }

  override def createPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"${name()}: partitions are implicit in this lake - INSERT rows " +
        "and the layout appears; there is nothing to ADD")

  override def replacePartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"${name()}: partition metadata is not a lake concept here")

  override def loadPartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()

  /** `TRUNCATE TABLE cat.ns.t` — one zero-line replace commit: every
    * row gone, schema and declared partition layout carried, old
    * versions still time-travel ([[Export.truncateSnapshot]]). */
  override def truncateTable(): Boolean = {
    require(versionAsOf.isEmpty,
      s"cannot TRUNCATE time-travel relation ${name()} - a pinned " +
        "version is immutable by definition")
    Export.truncateSnapshot(dir)
    true
  }

  /** Placeholder v2 scan: `DELETE FROM` planning insists the target be
    * readable (`V2ScanRelationPushDown` builds a scan it then discards
    * for metadata deletes), so this satisfies the shape — but actual
    * READS never reach it: the resolution rule rewrites every read
    * relation to the manifest-planned v1 relation first. Executing it
    * (a session missing the graft.GraftExtensions extension) fails
    * with the contract spelled out instead of a hand-rolled row scan. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType =
            GraftLakeTable.this.schema()
          override def description(): String =
            s"graftlake v1-resolved table ${GraftLakeTable.this.name()} " +
              "(reads require the graft.GraftExtensions session " +
              "extension, which plans them from the manifest)"
        }
    }

  /** `DELETE FROM cat.ns.t WHERE ...` — the engine hands the pushed v1
    * filters; translatable conjuncts become one copy-on-write delete
    * commit ([[Export.deleteWhere]] — SQL NULL semantics, old states
    * time-travel). An untranslatable filter refuses in
    * [[canDeleteWhere]], and the engine reports the unsupported
    * predicate instead of deleting the wrong rows. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Export.deleteWhere(spark, dir, cond)
  }

  private def filterToColumn(
      f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  override def name(): String =
    (catalogName +: ident.namespace.toIndexedSeq :+ ident.name)
      .mkString(".")

  override def schema(): StructType =
    Export.snapshotSchema(dir,
        versionAsOf.getOrElse(Export.latestSnapshotVersion(dir)))
      .getOrElse(new StructType())

  // BATCH_READ is declared for the capability CHECK (a DELETE target
  // must be readable); actual reads never build a v2 scan — the
  // resolution rule rewrites every read relation to the manifest-
  // planned v1 relation first (the catalog therefore REQUIRES the
  // graft.GraftExtensions session extension, its documented contract).
  // AUTOMATIC_SCHEMA_EVOLUTION opts into the analyzer's
  // `ResolveMergeIntoSchemaEvolution`: `MERGE ... WITH SCHEMA
  // EVOLUTION` computes the source-minus-target column delta and lands
  // it through [[alterTable]] (metadata-only ADD COLUMN / safe-widen
  // commits) before the DML rewrite fires.
  // OVERWRITE_BY_FILTER (r15) routes STATIC `INSERT OVERWRITE
  // [PARTITION (spec)]` through the analyzer rewrite (Delta's
  // replaceWhere in its partition form) — the v2 plan is
  // OverwriteByExpression, claimed by RewriteGraftLakeDml.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def properties(): util.Map[String, String] =
    (Export.snapshotProperties(dir) ++
      Map("location" -> dir, "provider" -> "graftlake")).asJava

  /** The stored CHECK constraints, surfaced through the connector API
    * (DESCRIBE et al.) — all VALID (ADD validated existing rows) and
    * enforced (the epoch writers assert per row). */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    Export.snapshotChecks(dir).toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** The v1 face the analyzer resolves reads through: a `graftlake`-
    * provider CatalogTable at the table dir — lands in
    * [[GraftLakeDataSource.createRelation]], i.e. the manifest-planned
    * HadoopFsRelation. */
  override def v1Table: CatalogTable = CatalogTable(
    identifier = TableIdentifier(ident.name,
      ident.namespace.lastOption, Some(catalogName)),
    tableType = CatalogTableType.EXTERNAL,
    storage = CatalogStorageFormat.empty.copy(
      locationUri = Some(new java.net.URI(dir)),
      properties = Map("path" -> dir)),
    schema = schema(),
    provider = Some("graftlake"))

  /** The table's declared partition layout: derived from the head's
    * committed `p=` specs once data exists, from the CREATE commit's
    * recorded `partition_cols` before the first insert. */
  override def partitioning(): Array[Transform] =
    Export.declaredPartitionColumns(dir).map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                legacyOverwrite: Boolean): Unit = {
              val spark = data.sparkSession
              // every INSERT lands in the table's declared layout: a
              // `graft.cluster.key` table gets a ZONED epoch, so
              // zone-scoped merges and pruned reads work from the
              // first write, no OPTIMIZE ... ORDER BY bootstrap needed
              val layout = Export.declaredLayout(dir) match {
                // keep the batch's own parallelism: one zoned file per
                // incoming partition, like the plain epoch write
                case Layout.Clustered(k, _) =>
                  Layout.Clustered(k, math.max(1, data.rdd.getNumPartitions))
                case l => l
              }
              if (overwrite || legacyOverwrite)
                Export.replaceSnapshot(spark, data, dir, layout)
              else Export.appendSnapshot(spark, data, dir, layout)
            }
          }
      }
    }

  override def toString: String = s"GraftLakeTable($dir)"
}
