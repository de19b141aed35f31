package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsDelete, SupportsNamespaces, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 `TableCatalog` over a warehouse directory of
  * [[SnapshotTable]] roots — the pure-SQL surface of the snapshot
  * format, so a SQL-only user never touches the object API:
  *
  * {{{
  *   spark.sql.catalog.snap           = graft.sources.SnapshotCatalog
  *   spark.sql.catalog.snap.warehouse = /data/warehouse
  *
  *   CREATE TABLE snap.db.docs (doc_id BIGINT, lang STRING)
  *     PARTITIONED BY (bucket(16, doc_id))          -- keys + buckets
  *   INSERT INTO snap.db.docs SELECT ...            -- manifest append
  *   INSERT OVERWRITE snap.db.docs SELECT ...       -- overwrite commit
  *   SELECT * FROM snap.db.docs VERSION AS OF 2     -- time travel
  *   SELECT * FROM snap.db.docs TIMESTAMP AS OF '...'
  *   ALTER TABLE snap.db.docs ADD COLUMN score DOUBLE
  *   ALTER TABLE snap.db.docs RENAME TO snap.db.docs2
  *   DROP TABLE snap.db.docs
  * }}}
  *
  * Layout is directory-per-namespace under the warehouse root, with a
  * table = any directory holding a `_manifests` catalog — the metadata
  * IS the filesystem, so there is no extra service to run and
  * `listTables` is one directory listing (the Delta "path-based tables
  * plus a thin name mapping" shape, not a Hive metastore port).
  *
  * Reads resolve through [[SnapshotV2Table]], so SQL queries get the
  * same snapshot pinning, bucket pruning, data-skipping stats, and
  * vectorized parquet scan as `spark.read.format("graft-snapshot")`;
  * `VERSION AS OF` / `TIMESTAMP AS OF` land on the connector's
  * `versionAsOf` / `timestampAsOf` (Spark hands the catalog timestamps
  * in MICROseconds; manifests stamp millis). Writes ride the V2→V1
  * `InsertableRelation` bridge ([[TableCapability.V1_BATCH_WRITE]]):
  * `INSERT INTO` is a manifest append, `INSERT OVERWRITE` an overwrite
  * commit — both the same atomic publish protocol as library callers,
  * and history stays readable through time travel afterwards.
  *
  * Scale note: every catalog operation is O(manifests) driver metadata
  * (+ one directory listing for DDL); no data files are read or moved
  * except by DROP (delete) and ALTER RENAME (one filesystem rename:
  * manifests record dirs relative to the table root, see
  * [[SnapshotTable.rename]]).
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  import org.apache.spark.sql.connector.catalog.functions.UnboundFunction

  /** The `bucket` transform function backing storage-partitioned joins:
    * the scan reports `KeyGroupedPartitioning(bucket(n, keys…))`
    * ([[SnapshotScan.outputPartitioning]]) and Spark resolves the
    * transform through THIS catalog — same-bucketed snapshot tables
    * then join on their keys with zero shuffle. `produceResult`
    * reproduces the writer's exact bucket hash
    * ([[SnapshotTable.bucketOfLiterals]]: Murmur3 seed 42, pmod). */
  override def loadFunction(ident: Identifier): UnboundFunction = {
    if (ident.name != "bucket")
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
        ident: Identifier)
    SnapshotBucketFunction
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    ident.name == "bucket"

  private var catName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def fsys: FileSystem =
    LocalFs.resolve(new Path(warehouse), spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
      .getOrElse(throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at the warehouse root"))
  }

  override def name(): String = catName

  /** One path segment of an identifier — rejected rather than escaped,
    * so a crafted table name can never traverse out of the warehouse. */
  private def segment(s: String): String = {
    require(s.nonEmpty && s != "." && s != ".." && !s.contains("/") &&
      !s.startsWith("_") && !s.startsWith("."),
      s"illegal catalog name segment '$s'")
    s
  }

  private def nsPath(namespace: Seq[String]): Path =
    namespace.foldLeft(new Path(warehouse))((p, s) => new Path(p, segment(s)))

  private def tableRoot(ident: Identifier): String =
    new Path(nsPath(ident.namespace.toSeq), segment(ident.name)).toString

  private def isTableDir(p: Path): Boolean =
    fsys.exists(new Path(p, "_manifests"))

  // ---- tables ----

  override def tableExists(ident: Identifier): Boolean =
    SnapshotTable.exists(spark, tableRoot(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace.toSeq)
    if (!fsys.exists(dir)) throw new NoSuchNamespaceException(
      catName +: namespace)
    fsys.listStatus(dir).toSeq
      .filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  private def load(ident: Identifier, opts: Map[String, String]): Table = {
    val root = tableRoot(ident)
    if (!SnapshotTable.exists(spark, root)) {
      // `cat.ns.t.history|files|tags` — the Iceberg metadata-table
      // spelling: the trailing identifier part names a metadata
      // relation of the table the namespace tail resolves to. A REAL
      // table named e.g. `history` wins (checked above); metadata
      // resolution only fills the miss.
      val ns = ident.namespace.toSeq
      if (ns.nonEmpty && SnapshotMeta.MetaNames.contains(ident.name)) {
        val parentRoot = nsPath(ns).toString
        if (SnapshotTable.exists(spark, parentRoot)) {
          val pin = if (opts.isEmpty) None
            else Some(SnapshotMeta.resolvePin(spark, parentRoot, opts))
          return new SnapshotMetaTable(parentRoot, ident.name, pin)
        }
      }
      throw new NoSuchTableException(
        (catName +: ident.namespace.toSeq :+ ident.name).toArray.toSeq)
    }
    val resolved = SnapshotV2Table.resolve(new CaseInsensitiveStringMap(
      (opts + ("path" -> root)).asJava))
    new SnapshotCatalogTable(root, resolved.snapshot)
  }

  /** Catalog-level capabilities: column DEFAULTs are declared so
    * Spark's parser/analyzer accepts `DEFAULT` clauses and fills
    * INSERTs from the schema's CURRENT_DEFAULT metadata
    * ([[SnapshotCatalogTable.schema]]). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** `VERSION AS OF n`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Map("versionAsOf" -> version))

  /** `TIMESTAMP AS OF t` — Spark passes MICROseconds since the epoch;
    * manifest commit stamps are millis. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Map("timestampAsOf" -> (timestamp / 1000L).toString))

  /** `bucket(n, cols…)` partition transform → the table's key columns +
    * bucket count (the format's native layout). Anything else has no
    * snapshot-table meaning and is rejected loudly. */
  private def parseBucket(t: Transform): (Int, Seq[String]) = {
    // structural, not a BucketTransform type match (that class is
    // private[sql]): a bucket transform is name "bucket" with one int
    // literal argument (the count) and the key columns as references
    if (t.name != "bucket") throw new UnsupportedOperationException(
      s"snapshot tables only support PARTITIONED BY (bucket(n, keys…)), " +
        s"got $t")
    val n = t.arguments.collectFirst { case l: Literal[_] =>
      l.value.toString.toInt }
    val cols = t.arguments.collect { case r: NamedReference =>
      r.fieldNames.mkString(".") }.toSeq
    (n.getOrElse(sys.error(s"bucket transform without a count: $t")), cols)
  }

  /** The CREATE/REPLACE definition parsed from a V2 statement: keys/
    * buckets from the at-most-one `bucket(n, keys…)` transform
    * (preferred, else properties), every other transform an identity/
    * date partition field — `PARTITIONED BY (days(ts), lang,
    * bucket(8, id))` in any order; CREATE-time column DEFAULTs arrive
    * as Spark's CURRENT_DEFAULT field metadata (the V2
    * column↔StructType encoding); `stripped` is the schema without
    * default metadata (toDDL would serialize DEFAULT clauses fromDDL
    * can't parse — defaults live in the manifest's own field). */
  private case class TableDef(keys: Seq[String], buckets: Int,
      partitionBy: Seq[String], statsCols: Option[Seq[String]],
      changeFeed: Boolean, colDefaults: Map[String, String],
      stripped: StructType, props: Map[String, String])

  private def parseTableDef(schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): TableDef = {
    val props = properties.asScala
    def prop(k: String): Option[String] =
      props.get(k).orElse(props.get(TableCatalog.OPTION_PREFIX + k))
    val (bucketTs, partTs) = partitions.toSeq.partition(_.name == "bucket")
    val (buckets, keys) = bucketTs match {
      case Seq() => (
        prop("buckets").map(_.toInt).getOrElse(16),
        prop("keys").map(_.split(",").toSeq.filter(_.nonEmpty))
          .getOrElse(Seq.empty))
      case Seq(one) => parseBucket(one)
      case many => throw new UnsupportedOperationException(
        s"snapshot tables take at most ONE bucket(n, keys…) transform, " +
          s"got $many")
    }
    val partitionBy = partTs.map { t =>
      val cols = t.arguments.collect { case r: NamedReference =>
        r.fieldNames.mkString(".") }
      require(cols.length == 1, s"partition transform $t must reference " +
        "exactly one column")
      t.name match {
        case "identity" => cols.head
        case n @ ("hours" | "days" | "months" | "years") =>
          s"$n(${cols.head})"
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform '$other' in $t (have " +
            "identity, hours, days, months, years, bucket)")
      }
    }
    val colDefaults = schema.fields.flatMap { f =>
      if (f.metadata.contains("CURRENT_DEFAULT"))
        Some(f.name -> f.metadata.getString("CURRENT_DEFAULT"))
      else None
    }.toMap
    // sticky manifest-persisted properties (whitelisted; everything
    // else in the map is either engine-parsed above or Spark-internal)
    val persisted = Seq(SnapshotTable.RowLevelModeProp)
      .flatMap(k => prop(k).map(k -> _)).toMap
    TableDef(keys, buckets, partitionBy,
      prop("statscols").map(_.split(",").toSeq.filter(_.nonEmpty)),
      prop("changefeed").exists(_.toBoolean), colDefaults,
      SnapshotTable.stripDefaultMeta(schema), persisted)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = tableRoot(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      (catName +: ident.namespace.toSeq :+ ident.name).toArray.toSeq)
    val d = parseTableDef(schema, partitions, properties)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d.stripped)
    SnapshotTable.create(empty, root, d.keys, d.buckets, d.statsCols,
      changeFeed = d.changeFeed, partitionBy = d.partitionBy,
      colDefaults = d.colDefaults, props = d.props)
    loadTable(ident)
  }

  // ---- atomic CREATE OR REPLACE (StagingTableCatalog) ----
  //
  // Without staging, Spark's ReplaceTableExec falls back to DROP +
  // CREATE: non-atomic (a crash between the two loses the table) and
  // HISTORY-DESTROYING (drop deletes every manifest). The staged path
  // publishes ONE `replace` commit instead ([[SnapshotTable
  // .replaceTable]]): content and definition swap atomically, prior
  // versions stay time-travelable. Writes (RTAS) buffer on the staged
  // table through the same V1 bridge as normal inserts and execute
  // inside commitStagedChanges(); nothing lands before it, so
  // abortStagedChanges() has nothing to clean.

  private class StagedSnapshotTable(ident: Identifier, root: String,
      d: TableDef, orReplace: Boolean) extends StagedTable
      with SupportsWrite {
    private var buffered: Option[org.apache.spark.sql.DataFrame] = None

    override def name(): String =
      (catName +: ident.namespace.toSeq :+ ident.name).mkString(".")
    override def schema(): StructType = d.stripped
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this // staged = whole table
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = { buffered = Some(data); () }
            }
        }
      }

    override def commitStagedChanges(): Unit = {
      val data = buffered.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d.stripped))
      if (orReplace)
        SnapshotTable.replaceTable(data, root, d.keys, d.buckets,
          d.statsCols, changeFeed = d.changeFeed,
          partitionBy = d.partitionBy, colDefaults = d.colDefaults,
          props = d.props)
      else
        SnapshotTable.create(data, root, d.keys, d.buckets, d.statsCols,
          changeFeed = d.changeFeed, partitionBy = d.partitionBy,
          colDefaults = d.colDefaults, props = d.props)
      ()
    }
    override def abortStagedChanges(): Unit = () // nothing published
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      (catName +: ident.namespace.toSeq :+ ident.name).toArray.toSeq)
    new StagedSnapshotTable(ident, tableRoot(ident),
      parseTableDef(schema, partitions, properties), orReplace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(
      (catName +: ident.namespace.toSeq :+ ident.name).toArray.toSeq)
    new StagedSnapshotTable(ident, tableRoot(ident),
      parseTableDef(schema, partitions, properties), orReplace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    new StagedSnapshotTable(ident, tableRoot(ident),
      parseTableDef(schema, partitions, properties), orReplace = true)

  /** ADD COLUMNS only (the format's add-column evolution): an empty
    * append commit with the extended schema — no data file is touched,
    * old versions keep their own schema under time travel. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = tableRoot(ident)
    val cur = SnapshotTable.headOption(spark, root).getOrElse(
      throw new NoSuchTableException(
        (catName +: ident.namespace.toSeq :+ ident.name).toArray.toSeq))
    // RENAME/DROP COLUMN (column mapping) and ALTER COLUMN TYPE
    // (widening) are pure-metadata commits — zero file rewrites; ADD
    // COLUMNs are collected and batch
    // into ONE empty mergeSchema append AFTER all renames/drops, so an
    // added column always lands at the end of the schema regardless of
    // its position in the statement. Renames/drops apply in statement
    // order, each as its own commit. Because a multi-change ALTER is
    // therefore multiple commits, the WHOLE list is validated up front
    // against a simulated schema — a change that would fail cannot
    // leave earlier changes half-applied. (A crash mid-ALTER can still
    // leave a committed prefix — each prefix is a valid table state.)
    sealed trait Ch
    final case class ChRename(old: String, nw: String) extends Ch
    final case class ChDrop(name: String) extends Ch
    final case class ChWiden(name: String,
        to: org.apache.spark.sql.types.DataType) extends Ch
    final case class ChDefault(name: String, sql: Option[String]) extends Ch
    val adds = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.spark.sql.types.StructField, Option[String])]
    val propChanges = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[String])]
    val ordered = scala.collection.mutable.ArrayBuffer.empty[Ch]
    changes.foreach {
      // SET/UNSET TBLPROPERTIES: sticky manifest properties, each a
      // pure-metadata commit after the column changes
      case sp: TableChange.SetProperty =>
        propChanges += (sp.property -> Some(sp.value))
      case rp: TableChange.RemoveProperty =>
        propChanges += (rp.property -> None)
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"nested ADD COLUMN unsupported: ${a.fieldNames.mkString(".")}")
        require(a.position == null,
          "ADD COLUMN positions unsupported: new columns append")
        // ADD COLUMN … DEFAULT: write-side default for future inserts
        // AND a frozen existence default filled at scan for files that
        // predate the column ([[SnapshotTable.addColumns]] — the Delta
        // metadata-fill semantics)
        adds += (org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true) ->
          Option(a.defaultValue).map(_.getSql))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"nested RENAME COLUMN unsupported: ${r.fieldNames.mkString(".")}")
        ordered += ChRename(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"nested DROP COLUMN unsupported: ${d.fieldNames.mkString(".")}")
        ordered += ChDrop(d.fieldNames.head)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          s"nested ALTER COLUMN TYPE unsupported: ${u.fieldNames.mkString(".")}")
        ordered += ChWiden(u.fieldNames.head, u.newDataType)
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          "nested ALTER COLUMN DEFAULT unsupported: " +
            u.fieldNames.mkString("."))
        // SET DEFAULT '<sql>' / DROP DEFAULT (arrives as empty text)
        ordered += ChDefault(u.fieldNames.head,
          Option(u.newDefaultValue).filter(_.nonEmpty))
      case other => throw new UnsupportedOperationException(
        s"snapshot tables support ALTER TABLE … ADD COLUMNS / RENAME " +
          s"COLUMN / DROP COLUMN / ALTER COLUMN … TYPE (widening), " +
          s"got $other")
    }
    // ---- up-front validation over the simulated schema ----
    locally {
      var fields = org.apache.spark.sql.types.StructType
        .fromDDL(cur.schemaDdl).fields
        .map(f => f.name -> f.dataType).toVector
      def names = fields.map(_._1)
      val phys = cur.colMap
      val reserved = (cur.colMap.values ++ cur.droppedPhys).toSet
      val constrained = cur.constraints.values
        .flatMap(e => SnapshotTable.constraintRefs(spark, e)).toSet
      val partSources = cur.partSpec.map(_.col).toSet
      ordered.foreach {
        case ChRename(old, nw) =>
          require(names.contains(old), s"no column '$old' to rename")
          require(!cur.keys.contains(old),
            s"'$old' is a key column; keys are not renameable")
          require(!partSources.contains(old),
            s"'$old' is a partition source column; not renameable")
          require(!constrained.contains(old),
            s"cannot rename column '$old': a CHECK constraint references it")
          require(old != nw && !names.contains(nw),
            s"rename target '$nw' already exists")
          require(nw == phys.getOrElse(old, old) || !reserved.contains(nw),
            s"column name '$nw' is reserved by column mapping")
          fields = fields.map { case (n, t) =>
            (if (n == old) nw else n) -> t }
        case ChDrop(name) =>
          require(names.contains(name), s"no column '$name' to drop")
          require(!cur.keys.contains(name),
            s"'$name' is a key column; keys are not droppable")
          require(!partSources.contains(name),
            s"'$name' is a partition source column; not droppable")
          require(!constrained.contains(name),
            s"cannot drop column '$name': a CHECK constraint references it")
          fields = fields.filterNot(_._1 == name)
        case ChWiden(name, to) =>
          require(names.contains(name), s"no column '$name' to widen")
          require(!cur.keys.contains(name),
            s"'$name' is a key column; key types are frozen at create")
          require(!partSources.contains(name),
            s"'$name' is a partition source column; its type is frozen")
          val from = fields.find(_._1 == name).get._2
          require(SnapshotTable.typeWidens(from, to),
            s"unsupported widening ${from.sql} -> ${to.sql} for '$name'")
          fields = fields.map { case (n, t) =>
            n -> (if (n == name) to else t) }
        case ChDefault(name, _) =>
          require(names.contains(name),
            s"no column '$name' to set a DEFAULT on")
      }
      adds.foreach { case (f, _) =>
        require(!names.contains(f.name),
          s"ADD COLUMN '${f.name}': column already exists")
        require(!reserved.contains(f.name),
          s"ADD COLUMN '${f.name}': name is reserved by column mapping")
        fields :+= f.name -> f.dataType
      }
    }
    ordered.foreach {
      case ChRename(old, nw) => SnapshotTable.renameColumn(spark, root, old, nw)
      case ChDrop(name) => SnapshotTable.dropColumn(spark, root, name)
      case ChWiden(name, to) =>
        SnapshotTable.widenColumn(spark, root, name, to.sql)
      case ChDefault(name, sql) =>
        SnapshotTable.setColumnDefault(spark, root, name, sql)
    }
    if (adds.nonEmpty)
      SnapshotTable.addColumns(spark, root, adds.toSeq)
    propChanges.foreach { case (k, v) =>
      SnapshotTable.setTableProperty(spark, root, k, v)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = new Path(tableRoot(ident))
    if (!fsys.exists(root) || !isTableDir(root)) false
    else fsys.delete(root, true)
  }

  override def renameTable(from: Identifier, to0: Identifier): Unit = {
    // Spark hands RENAME TO's destination through UNstripped: for
    // `ALTER TABLE cat.t RENAME TO cat.t2` the target arrives as
    // Identifier(["cat"], "t2") — drop the leading catalog-name segment
    // or the table nests under a phantom namespace named like us
    val to =
      if (to0.namespace.headOption.contains(catName))
        Identifier.of(to0.namespace.drop(1), to0.name)
      else to0
    if (!tableExists(from)) throw new NoSuchTableException(
      (catName +: from.namespace.toSeq :+ from.name).toArray.toSeq)
    if (tableExists(to)) throw new TableAlreadyExistsException(
      (catName +: to.namespace.toSeq :+ to.name).toArray.toSeq)
    SnapshotTable.rename(spark, tableRoot(from), tableRoot(to))
  }

  // ---- maintenance procedures: CALL cat.system.<name>(…) ----

  /** Resolve a procedure's `table` argument ('docs' or 'ns.docs') to
    * its root path, via the same identifier rules as table loads. */
  private[sources] def procTableRoot(table: String): String = {
    val parts = table.split("\\.").toSeq
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val root = tableRoot(ident)
    require(SnapshotTable.exists(spark, root),
      s"no snapshot table '$table' in catalog $catName")
    root
  }

  /** Resolve a procedure's TARGET table argument (clone destination) to
    * its root path — must NOT exist yet (the operation creates it). */
  private[sources] def procNewTableRoot(table: String): String = {
    val parts = table.split("\\.").toSeq
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val root = tableRoot(ident)
    require(!SnapshotTable.exists(spark, root),
      s"snapshot table '$table' already exists in catalog $catName")
    root
  }

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      SnapshotProcedures.Names.map(n =>
        Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system") &&
      SnapshotProcedures.Names.contains(ident.name),
      s"unknown procedure ${ident.namespace.mkString(".")}.${ident.name} " +
        s"(have: system.{${SnapshotProcedures.Names.mkString(", ")}})")
    SnapshotProcedures.load(this, ident.name)
  }

  // ---- namespaces: directories without a _manifests catalog ----

  private def listNs(parent: Path): Seq[Array[String]] =
    if (!fsys.exists(parent)) Seq.empty
    else fsys.listStatus(parent).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") && !isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName))

  override def listNamespaces(): Array[Array[String]] =
    listNs(new Path(warehouse)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace.toSeq)
    if (!fsys.exists(dir)) throw new NoSuchNamespaceException(
      catName +: namespace)
    listNs(dir).map(namespace ++ _).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fsys.exists(nsPath(namespace.toSeq)) &&
        !isTableDir(nsPath(namespace.toSeq)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catName +: namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(catName +: namespace)
    fsys.mkdirs(nsPath(namespace.toSeq))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "snapshot catalog namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = nsPath(namespace.toSeq)
    if (!cascade && fsys.listStatus(dir).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
        catName +: namespace)
    fsys.delete(dir, true)
  }
}

/** `bucket(numBuckets, key…)` as a catalog function (the Iceberg shape
  * Spark's storage-partitioned-join machinery expects): bound input is
  * `(numBuckets INT, key columns…)`, result is the bucket id with the
  * writer's exact hash. The canonical name is what the planner compares
  * to decide two scans are co-partitioned. */
private[sources] object SnapshotBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types.{DataType, IntegerType}

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, cols…): the snapshot format's key-hash bucket id"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2 &&
      inputType.fields.head.dataType == IntegerType,
      s"bucket expects (numBuckets INT, key columns…), got $inputType")
    val keyTypes = inputType.fields.drop(1).map(_.dataType).toSeq
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        (IntegerType +: keyTypes).toArray
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.snapshot.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        val values = keyTypes.zipWithIndex.map { case (t, i) =>
          // internal → external: bucketOfLiterals builds foldable
          // literals from Scala-side values
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(t)(input.get(i + 1, t))
        }
        Int.box(SnapshotTable.bucketOfLiterals(values, keyTypes, n))
      }
    }
  }
}

/** A catalog-loaded snapshot table: the connector's read surface
  * ([[SnapshotV2Table]] scan building — pruning, stats skipping,
  * streaming source) PLUS the SQL write surface via the V2→V1
  * `InsertableRelation` bridge, so `INSERT INTO` / `INSERT OVERWRITE` /
  * CTAS land on the same manifest commit protocol as the object API.
  * The path-based `TableProvider` table deliberately does NOT carry
  * this capability — `df.write.format("graft-snapshot")` keeps its
  * richer V1 seam (create-on-first-write options, op=upsert/delete).
  *
  * `DELETE FROM` ([[SupportsDelete]]) picks its commit shape from the
  * predicate:
  *
  *   - conjuncts that pin EVERY key column to a finite literal set (and
  *     nothing else) → the manifest's keyed delete, confined to the hit
  *     key-hash buckets — a point delete on a 100 TB table touches
  *     1/buckets of it;
  *   - any other (translatable) predicate → copy-on-write: read the
  *     live snapshot, keep the non-matching rows, commit one overwrite
  *     — the Delta DELETE shape, O(table) once, never per-row.
  *
  * `TRUNCATE TABLE` rides the same seam (delete WHERE true → an empty
  * overwrite commit; history stays time-travel readable). */
private[sources] class SnapshotCatalogTable(path: String,
    snapshot: SnapshotTable.Snapshot)
    extends SnapshotV2Table(path, snapshot)
    with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** `UPDATE` / `MERGE INTO` / residual `DELETE`, commit shape chosen
    * by the sticky `rowlevelmode` table property: group-based
    * copy-on-write by default ([[SnapshotRowLevelOperation]] — replaces
    * the scanned groups), or delta-based merge-on-read
    * ([[SnapshotDeltaRowLevelOperation]] — O(matched) positional
    * tombstones + replacement rows) under `'merge-on-read'`. Keyed
    * `DELETE`s still take the metadata path below in either mode:
    * Spark's `OptimizeMetadataOnlyDeleteFromTable` converts the
    * rewritten plan back to [[deleteWhere]] whenever [[canDeleteWhere]]
    * accepts the predicate, so point deletes never write a file. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () =>
      if (snapshot != null && snapshot.props
          .get(SnapshotTable.RowLevelModeProp).contains("merge-on-read"))
        new SnapshotDeltaRowLevelOperation(path, snapshot, info.command)
      else new SnapshotRowLevelOperation(path, snapshot, info.command)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** Catalog view of the schema: columns with write-side DEFAULTs carry
    * Spark's `CURRENT_DEFAULT`/`EXISTS_DEFAULT` field metadata, so the
    * analyzer fills SQL INSERTs that omit them (ResolveDefaultColumns)
    * — the writes below the analyzer then see complete rows. Defaults
    * are constant-foldable by construction ([[SnapshotTable
    * .setColumnDefault]] validates at declaration), so EXISTS_DEFAULT
    * (which Spark requires alongside) is the same constant; the SCAN
    * plane strips both keys ([[SnapshotScan]]) so a read never
    * back-fills old files with them. */
  private lazy val schemaWithDefaults: StructType = {
    val base = super.schema()
    if (snapshot == null || snapshot.colDefaults.isEmpty) base
    else StructType(base.fields.map { f =>
      snapshot.colDefaults.get(f.name).fold(f) { d =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", d)
          .putString("EXISTS_DEFAULT", d)
        f.copy(metadata = mb.build())
      }
    })
  }
  // computed once per loaded table: analysis consults schema() on every
  // query touching the relation
  override def schema(): StructType = schemaWithDefaults

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapshotCatalogWriteBuilder(path)

  /** Bound on key tuples expanded from IN-list cross products (same
    * rationale as the read side's probe bound). */
  private val MaxDeleteTuples = 4096

  /** The key tuples a filter set pins, IFF it consists EXCLUSIVELY of
    * equality/IN conjuncts over the key columns covering every key —
    * any extra conjunct would narrow the match set, so the keyed-delete
    * rewrite (which ignores non-key columns) would delete too much. */
  private def keyTuples(filters: Array[Filter]): Option[Seq[Seq[Any]]] = {
    if (snapshot.keys.isEmpty || filters.isEmpty) return None
    val keySet = snapshot.keys.toSet
    val valueSets = scala.collection.mutable.Map.empty[String, Set[Any]]
    def narrow(c: String, vs: Set[Any]): Unit =
      valueSets(c) = valueSets.get(c).fold(vs)(_ intersect vs)
    filters.foreach {
      case EqualTo(c, v) if keySet(c) && v != null => narrow(c, Set(v))
      case In(c, vs) if keySet(c) && vs.nonEmpty && !vs.contains(null) =>
        narrow(c, vs.toSet)
      case _ => return None // a non-key-equality conjunct: not a pure key delete
    }
    if (!snapshot.keys.forall(valueSets.contains)) return None
    val sets = snapshot.keys.map(valueSets)
    if (sets.map(_.size.toLong).product > MaxDeleteTuples) return None
    Some(sets.foldLeft(Seq(Seq.empty[Any])) { (acc, s) =>
      acc.flatMap(prefix => s.toSeq.map(prefix :+ _))
    })
  }

  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    def bin(a: String, v: Any)(op: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      Some(op(col(a), lit(v)))
    f match {
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case EqualTo(a, v) => bin(a, v)(_ === _)
      case EqualNullSafe(a, v) => bin(a, v)(_ <=> _)
      case GreaterThan(a, v) => bin(a, v)(_ > _)
      case GreaterThanOrEqual(a, v) => bin(a, v)(_ >= _)
      case LessThan(a, v) => bin(a, v)(_ < _)
      case LessThanOrEqual(a, v) => bin(a, v)(_ <= _)
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(c) => toColumn(c).map(!_)
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    keyTuples(filters).isDefined || filters.forall(toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    keyTuples(filters) match {
      case Some(tuples) =>
        val schema = StructType(snapshot.keys.map(k =>
          StructType.fromDDL(snapshot.schemaDdl)(k)))
        val rows = tuples.map(t =>
          org.apache.spark.sql.Row.fromSeq(t))
        SnapshotTable.delete(
          spark.createDataFrame(rows.asJava, schema), path)
        ()
      case None =>
        val pred = filters.flatMap(toColumn(_)).reduceOption(_ && _)
          .getOrElse(lit(true))
        if (snapshot.keys.isEmpty || snapshot.props
            .get(SnapshotTable.RowLevelModeProp).contains("merge-on-read"))
          // positional merge-on-read — O(matched) tombstone positions
          // instead of a copy-on-write rewrite (the deletion-vector
          // shape; compact folds it away). Keyless tables always;
          // keyed tables under `rowlevelmode = 'merge-on-read'`.
          // Untranslatable predicates (subqueries) never reach here —
          // canDeleteWhere refuses and Spark plans the row-level
          // operation instead (delta-based in the same mode).
          SnapshotTable.deleteWhere(spark, path, pred, mergeOnRead = true)
        else
          // keyed: the partition/stats-pinned copy-on-write DELETE —
          // provably-all-match dirs drop as pure metadata, provably-
          // none-match dirs carry verbatim, boundary dirs rewrite
          // (three-valued semantics handled inside deleteWhere)
          SnapshotTable.deleteWhere(spark, path, pred)
        ()
    }
  }
}

/** The catalog's maintenance surface as SQL `CALL`s (the Iceberg
  * procedure shape — maintenance belongs in the catalog, not in a
  * side-channel shell script):
  *
  * {{{
  *   CALL cat.system.history('ns.tbl')       -- (version, op, ts, n_dirs)
  *   CALL cat.system.compact('ns.tbl', 4)    -- buckets with > 4 dirs
  *   CALL cat.system.compact('ns.tbl', 0)    -- full rewrite
  *   CALL cat.system.vacuum('ns.tbl', 1)     -- keep newest N versions
  * }}}
  *
  * Each returns its result as driver-local rows ([[LocalScan]] — the
  * metadata IS driver-resident, O(versions), so shipping it through a
  * distributed scan would be ceremony). The heavy lifting (compact's
  * rewrite) still runs as normal distributed jobs inside the call. */
private[sources] object SnapshotProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  val Names: Seq[String] = Seq("history", "compact", "compact_where",
    "vacuum", "zorder",
    "restore", "clone", "create_tag", "drop_tag", "tags", "rescale",
    "repartition_spec",
    "create_branch", "drop_branch", "fast_forward", "branches",
    "add_constraint", "drop_constraint", "constraints")

  private def spark = SparkSession.active

  private class RowsScan(schema: StructType, data: Array[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data
  }

  private def one(schema: StructType,
      data: Seq[InternalRow]): util.Iterator[Scan] =
    util.Collections.singletonList(
      new RowsScan(schema, data.toArray): Scan).iterator()

  /** One procedure: fixed IN parameters, deterministic=false (every
    * call commits or reads live catalog state). */
  private abstract class Proc(val name0: String,
      params: Seq[ProcedureParameter], out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = name0
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): util.Iterator[Scan] =
      one(out, run(input))
  }

  private def tableParam: ProcedureParameter =
    ProcedureParameter.in("table", StringType).build()

  def load(cat: SnapshotCatalog, name: String): UnboundProcedure =
    name match {
      case "history" => new Proc("history", Seq(tableParam),
          StructType.fromDDL("version BIGINT, op STRING, ts BIGINT, " +
            "n_dirs INT, n_rows BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          SnapshotTable.versions(spark, root).map(s =>
            InternalRow(s.version, UTF8String.fromString(s.op), s.ts,
              s.entries.size,
              // null when any live entry predates row counting
              s.metadataRowCount.map(Long.box).orNull))
        }
      }
      case "compact" => new Proc("compact",
          Seq(tableParam,
            ProcedureParameter.in("max_dirs_per_bucket", IntegerType)
              .build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          val maxDirs = input.getInt(1)
          val v = if (maxDirs <= 0) SnapshotTable.compact(spark, root)
            else SnapshotTable.compact(spark, root, maxDirs)
          Seq(InternalRow(v))
        }
      }
      case "compact_where" => new Proc("compact_where",
          Seq(tableParam,
            ProcedureParameter.in("predicate", StringType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.compactWhere(spark, root,
            org.apache.spark.sql.functions.expr(
              input.getUTF8String(1).toString))))
        }
      }
      case "zorder" => new Proc("zorder",
          Seq(tableParam,
            ProcedureParameter.in("cols", StringType).build(),
            ProcedureParameter.in("slices_per_bucket", IntegerType)
              .build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          val cols = input.getUTF8String(1).toString.split(",")
            .toSeq.map(_.trim).filter(_.nonEmpty)
          Seq(InternalRow(
            SnapshotTable.zorder(spark, root, cols, input.getInt(2))))
        }
      }
      case "restore" => new Proc("restore",
          Seq(tableParam,
            ProcedureParameter.in("version", LongType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.restore(spark, root,
            version = Some(input.getLong(1)))))
        }
      }
      case "clone" => new Proc("clone",
          Seq(tableParam,
            ProcedureParameter.in("target", StringType).build(),
            // version <= 0 clones the current head
            ProcedureParameter.in("version", LongType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val src = cat.procTableRoot(input.getUTF8String(0).toString)
          val dst = cat.procNewTableRoot(input.getUTF8String(1).toString)
          val v = input.getLong(2)
          Seq(InternalRow(SnapshotTable.cloneTable(spark, src, dst,
            version = if (v <= 0) None else Some(v))))
        }
      }
      case "create_tag" => new Proc("create_tag",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build(),
            // version <= 0 tags the current head
            ProcedureParameter.in("version", LongType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          val v = input.getLong(2)
          Seq(InternalRow(SnapshotTable.createTag(spark, root,
            input.getUTF8String(1).toString,
            if (v <= 0) None else Some(v))))
        }
      }
      case "drop_tag" => new Proc("drop_tag",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.dropTag(spark, root,
            input.getUTF8String(1).toString)))
        }
      }
      case "tags" => new Proc("tags", Seq(tableParam),
          StructType.fromDDL("name STRING, version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          SnapshotTable.tags(spark, root).map { case (n, v) =>
            InternalRow(UTF8String.fromString(n), v)
          }
        }
      }
      case "add_constraint" => new Proc("add_constraint",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build(),
            ProcedureParameter.in("expression", StringType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.addConstraint(spark, root,
            input.getUTF8String(1).toString,
            input.getUTF8String(2).toString)))
        }
      }
      case "drop_constraint" => new Proc("drop_constraint",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.dropConstraint(spark, root,
            input.getUTF8String(1).toString)))
        }
      }
      case "constraints" => new Proc("constraints", Seq(tableParam),
          StructType.fromDDL("name STRING, expression STRING")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          SnapshotTable.headOption(spark, root).get.constraints.toSeq
            .sortBy(_._1).map { case (n, e) =>
              InternalRow(UTF8String.fromString(n), UTF8String.fromString(e))
            }
        }
      }
      case "create_branch" => new Proc("create_branch",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build(),
            // version <= 0 forks from the current head
            ProcedureParameter.in("version", LongType).build()),
          StructType.fromDDL("base BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          val v = input.getLong(2)
          Seq(InternalRow(SnapshotTable.createBranch(spark, root,
            input.getUTF8String(1).toString,
            if (v <= 0) None else Some(v))))
        }
      }
      case "drop_branch" => new Proc("drop_branch",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build()),
          StructType.fromDDL("abandoned_commits INT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.dropBranch(spark, root,
            input.getUTF8String(1).toString)))
        }
      }
      case "fast_forward" => new Proc("fast_forward",
          Seq(tableParam,
            ProcedureParameter.in("name", StringType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.fastForward(spark, root,
            input.getUTF8String(1).toString)))
        }
      }
      case "branches" => new Proc("branches", Seq(tableParam),
          StructType.fromDDL("name STRING, base BIGINT, head BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          SnapshotTable.branchList(spark, root).map { case (n, b, h) =>
            InternalRow(UTF8String.fromString(n), b, h)
          }
        }
      }
      case "repartition_spec" => new Proc("repartition_spec",
          Seq(tableParam,
            // comma-separated transforms, the PARTITIONED BY spelling:
            // 'days(ts),lang'; empty string retires every field
            ProcedureParameter.in("spec", StringType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          val spec = input.getUTF8String(1).toString.split(",")
            .toSeq.map(_.trim).filter(_.nonEmpty)
          Seq(InternalRow(
            SnapshotTable.repartitionSpec(spark, root, spec)))
        }
      }
      case "rescale" => new Proc("rescale",
          Seq(tableParam,
            ProcedureParameter.in("new_buckets", IntegerType).build()),
          StructType.fromDDL("version BIGINT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          Seq(InternalRow(SnapshotTable.rescaleBuckets(spark, root,
            input.getInt(1))))
        }
      }
      case "vacuum" => new Proc("vacuum",
          Seq(tableParam,
            ProcedureParameter.in("keep_versions", IntegerType).build()),
          StructType.fromDDL(
            "expired_manifests INT, deleted_dirs INT")) {
        override def run(input: InternalRow): Seq[InternalRow] = {
          val root = cat.procTableRoot(input.getUTF8String(0).toString)
          val (m, d) = SnapshotTable.vacuum(spark, root, input.getInt(1))
          Seq(InternalRow(m, d))
        }
      }
      case other => sys.error(s"unknown procedure $other")
    }
}

/** INSERT INTO → manifest append; truncate (INSERT OVERWRITE's
  * always-true filter) → overwrite commit. Both keep history readable
  * through time travel — "overwrite" replaces the LIVE entry list, it
  * deletes no data file (vacuum does that, with its in-flight guard). */
private[sources] class SnapshotCatalogWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
            overwrite: Boolean): Unit = {
          if (overwriteAll || overwrite) SnapshotTable.overwrite(data, path)
          else SnapshotTable.append(data, path)
          ()
        }
      }
  }
}
