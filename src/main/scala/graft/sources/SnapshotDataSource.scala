package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftCatalystFilterScanBuilder, GraftParquetBridge, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for [[SnapshotTable]] — the SQL-surface read
  * path of the snapshot format, so external tools reach it without the
  * object API:
  *
  * {{{
  *   spark.read.format("graft-snapshot").load(root)              // latest
  *   spark.read.format("graft-snapshot")
  *     .option("versionAsOf", 3).load(root)                      // version
  *   spark.read.format("graft-snapshot")
  *     .option("timestampAsOf", "2026-08-14 12:00:00").load(root)
  * }}}
  *
  * Architecture: the connector owns the METADATA plane — it resolves one
  * immutable manifest at table-creation time (so every scan of the
  * returned DataFrame is snapshot-isolated, exactly like
  * [[SnapshotTable.read]]) and prunes WHICH bucket dirs to read from
  * pushed key predicates; the DATA plane is delegated to Spark's own
  * vectorized `ParquetScan` over the resolved file list
  * ([[GraftParquetBridge]]), which keeps whole-stage codegen, column
  * pruning, and parquet row-group statistics pruning — a hand-rolled
  * reader would lose all three.
  *
  * Key-predicate file pruning (`SupportsPushDownFilters` semantics via
  * the catalyst pushdown seam): conjunctive `key = lit` / `key IN (…)`
  * predicates covering EVERY table key column resolve to their hash
  * buckets with the writer's exact hash
  * ([[SnapshotTable.bucketOfLiterals]]) and only the hit buckets' dirs
  * enter the scan — `WHERE doc_id = 42` on a 37-bucket table reads
  * ~1/37 of its bytes, the read-side mirror of the merge-on-write
  * pruning. Every predicate is also kept as post-scan residue, so a
  * pruning miss can only over-read, never wrong-answer. */
class SnapshotDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-snapshot"

  /** STREAMING SINK (`df.writeStream.format("graft-snapshot")
    * .start(root)` — the write-side twin of [[SnapshotMicroBatchStream]]
    * and the native spelling of the q159 foreachBatch pattern): every
    * micro-batch lands as ONE atomic manifest commit, stamped with a
    * `txn = (queryId, batchId)` so a batch replayed after a crash
    * between its commit and the checkpoint write is SKIPPED — the
    * Delta sink's SetTransaction idempotency, giving exactly-once table
    * content from at-least-once batch delivery.
    *
    *   - options: `op` = append (default) | upsert (last-write-wins
    *     merge, Update-mode-friendly); `keys`/`buckets`/`statsCols`
    *     create the table on the FIRST batch; `mergeSchema` allows
    *     add-column evolution mid-stream; `txnAppId` overrides the
    *     dedup scope (default: the streaming query id, so a RESTARTED
    *     query — same checkpoint, same id — dedups across restarts);
    *   - Complete output mode maps to an overwrite commit per batch.
    *
    * The sink keeps `sqlContext.sparkSession`, the session that called
    * `writeStream.start`, and commits every micro-batch there rather
    * than in the per-run clone Spark executes the query in (see
    * [[SnapshotSink]]). */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-snapshot lays data out by key-hash buckets; partitionBy " +
        "is not supported on the streaming sink")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot sink needs a path: .start(<table root>)"))
    new SnapshotSink(sqlContext.sparkSession, path,
      parameters.map { case (k, v) => k.toLowerCase -> v }, outputMode)
  }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotV2Table.resolve(options).schemaStruct

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    SnapshotV2Table.resolve(
      new CaseInsensitiveStringMap(properties))

  /** WRITE surface (`df.write.format("graft-snapshot")`): Spark routes
    * Append/Overwrite saves on a TableProvider whose table doesn't
    * declare BATCH_WRITE to this V1 seam, where the commit maps onto the
    * object API — so SQL writers get the same manifest protocol, bucket
    * pruning, and stats recording as library callers:
    *
    *   - first write to an empty root CREATES the table (options `keys`
    *     — comma-separated, default keyless — `buckets`, `statsCols`);
    *   - `mode("append")` + default op appends; `option("op", "upsert")`
    *     merges last-write-wins; `option("op", "delete")` removes the
    *     batch's key tuples;
    *   - `mode("overwrite")` replaces content (history stays readable);
    *   - `option("mergeSchema", true)` allows add-column evolution. */
  override def createRelation(sqlContext0: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot needs a path: .save(<table root>)"))
    val ci = parameters.map { case (k, v) => k.toLowerCase -> v }
    val mergeSchema = ci.get("mergeschema").exists(_.toBoolean)
    val op = ci.getOrElse("op", "append")
    require(Seq("append", "upsert", "delete", "upsert-mor", "delete-mor")
        .contains(op),
      s"unknown op '$op' (append | upsert | delete | upsert-mor | " +
        "delete-mor)")
    val exists = SnapshotTable.exists(data.sparkSession, path)
    def createNew(): Unit = {
      val keys = ci.get("keys").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      val buckets = ci.get("buckets").map(_.toInt).getOrElse(16)
      val statsCols = ci.get("statscols")
        .map(s => s.split(",").toSeq.filter(_.nonEmpty))
      SnapshotTable.create(data, path, keys, buckets, statsCols,
        changeFeed = ci.get("changefeed").exists(_.toBoolean))
      ()
    }
    mode match {
      case SaveMode.Append if !exists => createNew()
      case SaveMode.Append => op match {
        case "append" => SnapshotTable.append(data, path, mergeSchema)
        case "upsert" => SnapshotTable.upsert(data, path, mergeSchema)
        case "delete" => SnapshotTable.delete(data, path)
        case "upsert-mor" =>
          SnapshotTable.upsert(data, path, mergeSchema, mergeOnRead = true)
        case "delete-mor" =>
          SnapshotTable.delete(data, path, mergeOnRead = true)
      }
      case SaveMode.Overwrite if !exists => createNew()
      case SaveMode.Overwrite =>
        SnapshotTable.overwrite(data, path, mergeSchema)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"snapshot table already exists at $path")
      case SaveMode.ErrorIfExists => createNew()
      case SaveMode.Ignore => if (!exists) createNew()
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = sqlContext0
      override def schema: StructType = data.schema
    }
  }
}

/** See [[SnapshotDataSource.createSink]] for the options.
  *
  * Every micro-batch commits in `spark`, the session that started the
  * query, not in the clone the micro-batch arrives in. Spark runs each
  * start of a query (each `Trigger.AvailableNow` run) in a fresh
  * `cloneSession()` with its own session UUID; with artifact isolation
  * on (the default) each UUID gets its own executor class loader, and
  * the generated-code cache is keyed by that loader, so a commit in the
  * clone would compile every generated class of the commit again on
  * each run. In `spark` all runs of the query share one loader and one
  * warm cache.
  *
  * The commit (the existence check, the `txn` watermark, the write and
  * auto-compaction) is planned under `spark`'s SQL conf as it is when
  * the batch runs, not under the clone's copy taken at query start. The
  * table content a batch produces does not depend on that conf. */
private[graft] class SnapshotSink(spark: SparkSession, path: String,
    opts: Map[String, String],
    outputMode: org.apache.spark.sql.streaming.OutputMode)
    extends org.apache.spark.sql.execution.streaming.Sink {
  import org.apache.spark.sql.streaming.OutputMode

  private val op = opts.getOrElse("op", "append")
  require(Seq("append", "upsert", "upsert-mor").contains(op),
    s"unknown sink op '$op' (append | upsert | upsert-mor)")
  private val mergeSchema = opts.get("mergeschema").exists(_.toBoolean)
  private val complete = outputMode == OutputMode.Complete()
  // optimistic-concurrency rebase budget per micro-batch commit: lets
  // several streams (or a stream + batch maintenance) share one table;
  // the txn stamp keeps replay-dedup exact across the retries
  private val retries = opts.getOrElse("commitretries", "2").toInt

  /** AUTO-COMPACTION (Delta's post-write auto-compact shape): after
    * each batch commit, buckets whose dir/delta count exceeds this run
    * a bucket-TARGETED [[SnapshotTable.compact]] — so a 10 s-trigger
    * stream (8,640 commits/day) keeps its data plane bounded at
    * O(threshold) read inputs per bucket instead of accumulating one
    * dir per commit forever. Below-threshold batches cost one O(entries)
    * driver check, zero jobs, no commit. The compact commit is
    * content-neutral, so DOWNSTREAM tailing/CDF streams skip it (the
    * dataChange=false discipline) — maintenance doesn't break readers.
    * Best-effort: a lost race or transient failure defers to the next
    * batch; the data commit above is already durable. */
  private val autoCompactDirs = opts.get("autocompactdirs").map(_.toInt)
  autoCompactDirs.foreach(k => require(k >= 1,
    s"autoCompactDirs must be >= 1: $k"))

  override def addBatch(batchId: Long,
      data0: org.apache.spark.sql.DataFrame): Unit = {
    // the harness hands a streaming-flagged frame of the query's clone;
    // re-wrap its executed plan as a batch frame of the starting session
    // (the ForeachBatchSink recipe) so the object API's writes run on it
    val data = org.apache.spark.sql.GraftSqlBridge.unStream(data0, spark)
    // dedup scope: the streaming query id (stable across restarts from
    // one checkpoint) unless the caller pins its own app id
    val appId = opts.getOrElse("txnappid",
      Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        .getOrElse("graft-snapshot-sink"))
    val exists = SnapshotTable.exists(spark, path)
    if (exists &&
        SnapshotTable.lastTxn(spark, path, appId).exists(_ >= batchId)) {
      // replayed batch (crash after commit, before checkpoint): skip
      return
    }
    val txn = Some(appId -> batchId)
    if (!exists) {
      val keys = opts.get("keys").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      val buckets = opts.get("buckets").map(_.toInt).getOrElse(16)
      val statsCols = opts.get("statscols")
        .map(s => s.split(",").toSeq.filter(_.nonEmpty))
      SnapshotTable.create(data, path, keys, buckets, statsCols, txn,
        changeFeed = opts.get("changefeed").exists(_.toBoolean))
    } else if (complete) {
      SnapshotTable.overwrite(data, path, mergeSchema, txn)
    } else if (op == "upsert") {
      SnapshotTable.upsert(data, path, mergeSchema, txn = txn,
        retries = retries)
    } else if (op == "upsert-mor") {
      // the high-commit-rate streaming shape: each micro-batch lands as
      // one O(batch) delta layer, no existing bucket bytes read —
      // schedule compact() on the maintenance cadence
      SnapshotTable.upsert(data, path, mergeSchema, txn = txn,
        mergeOnRead = true, retries = retries)
    } else {
      SnapshotTable.append(data, path, mergeSchema, txn, retries = retries)
    }
    autoCompactDirs.foreach { k =>
      try { SnapshotTable.compact(spark, path, k); () }
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto-compact of $path deferred (batch $batchId committed " +
              s"fine): ${e.getMessage}")
      }
    }
    ()
  }

  override def toString: String = s"SnapshotSink[$path, op=$op]"
}


private[graft] object SnapshotV2Table {
  /** Resolve the options to ONE immutable snapshot — version pinning
    * happens here, once, so later scans never chase the table head. */
  def resolve(options: CaseInsensitiveStringMap): SnapshotV2Table = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot needs a path: .load(<table root>)"))
    // a non-numeric versionAsOf is a TAG name (so SQL
    // `VERSION AS OF 'release-1'` lands here through the catalog);
    // the explicit tagAsOf option spells the same thing for
    // DataFrame readers
    val versionOpt = Option(options.get("versionAsOf"))
    val tagOpt = Option(options.get("tagAsOf"))
    require(versionOpt.isEmpty || tagOpt.isEmpty,
      "set versionAsOf OR tagAsOf, not both")
    val version = versionOpt.map(s => s.toLongOption.getOrElse(
        SnapshotTable.tags(spark, path).collectFirst {
          case (n, v) if n == s => v
        }.getOrElse(sys.error(
          s"versionAsOf '$s' is neither a version nor a tag at $path"))))
      .orElse(tagOpt.map(t =>
        SnapshotTable.tags(spark, path).collectFirst {
          case (n, v) if n == t => v
        }.getOrElse(sys.error(s"no tag '$t' at $path"))))
    val asOf = Option(options.get("timestampAsOf")).map { s =>
      // accept epoch millis or any timestamp string Spark can cast
      s.toLongOption.getOrElse(java.sql.Timestamp.valueOf(s).getTime)
    }
    require(version.isEmpty || asOf.isEmpty,
      "set versionAsOf/tagAsOf OR timestampAsOf, not both")
    val cdf = Option(options.get("readChangeFeed")).exists(_.toBoolean)
    // a missing table resolves to a scanless placeholder instead of
    // failing here: the WRITE path must reach the V1 write seam to
    // create-on-first-write (reads of a missing table still fail loudly,
    // at scan building)
    if (!SnapshotTable.exists(spark, path))
      return new SnapshotV2Table(path, null, cdf)
    // audit reads of a write-audit-publish branch: the branch HEAD,
    // with the full scan surface (pruning, stats, MOR resolution)
    Option(options.get("branch")).foreach { b =>
      require(version.isEmpty && asOf.isEmpty && !cdf,
        "a branch read resolves the branch HEAD: no version/timestamp/" +
          "tag/changeFeed options alongside 'branch'")
      return new SnapshotV2Table(path,
        SnapshotTable.branchHead(spark, path, b), cdf)
    }
    // O(1)-parse resolution (checkpoint-assisted for timestamps)
    val snap = SnapshotTable.resolve(spark, path, version, asOf)
    new SnapshotV2Table(path, snap, cdf)
  }
}

private[graft] class SnapshotV2Table(path: String,
    val snapshot: SnapshotTable.Snapshot,
    readChangeFeed: Boolean = false) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row-identity metadata columns (`_sdv_file`, `_sdv_pos`): the
    * physical position every positional (deletion-vector) surface
    * speaks — deleteWhere tombstones, the delta-based row-level
    * operations' rowId, and user-queryable provenance. Synthesized by
    * the scan ([[SnapshotPosScan]]); never stored in data files. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    import org.apache.spark.sql.types.DataType
    def mc(n: String, t: DataType, doc: String): MetadataColumn =
      new MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType = t
        override def isNullable: Boolean = false
        override def comment(): String = doc
      }
    Array(
      mc(SnapshotTable.PosFileCol, org.apache.spark.sql.types.StringType,
        "commit-relative file suffix of the row's data file"),
      mc(SnapshotTable.PosPosCol, org.apache.spark.sql.types.LongType,
        "row index within the row's data file"))
  }

  /** null snapshot = missing table placeholder (write flows only).
    * Change-feed reads surface the table schema PLUS the two change
    * columns — the Delta CDF shape. */
  val schemaStruct: StructType =
    if (snapshot == null) new StructType()
    else if (readChangeFeed)
      StructType.fromDDL(snapshot.schemaDdl)
        .add(SnapshotTable.ChangeTypeCol, "string")
        .add(SnapshotTable.CommitVersionCol, "long")
    else StructType.fromDDL(snapshot.schemaDdl)

  override def name(): String =
    if (snapshot == null) s"graft-snapshot($path@missing)"
    else s"graft-snapshot($path@v${snapshot.version}" +
      (if (readChangeFeed) ",cdf)" else ")")
  override def schema(): StructType = schemaStruct
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** Sticky manifest properties (SHOW TBLPROPERTIES surface). */
  override def properties(): util.Map[String, String] =
    if (snapshot == null) util.Collections.emptyMap()
    else {
      val m = new util.HashMap[String, String]()
      snapshot.props.foreach { case (k, v) => m.put(k, v) }
      m
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (snapshot == null)
      throw new IllegalArgumentException(s"no snapshot table at $path")
    if (readChangeFeed)
      new SnapshotCdfScanBuilder(snapshot, path,
        Option(options.get("startingVersion")).map(_.toLong),
        Option(options.get("endingVersion")).map(_.toLong),
        Option(options.get("endingTimestamp"))
          .map(SnapshotStreamOptions.parseTs),
        SnapshotStreamOptions(
          Option(options.get("maxFilesPerTrigger")).map(_.toInt),
          Option(options.get("maxBytesPerTrigger")).map(_.toLong),
          Option(options.get("maxRowsPerTrigger")).map(_.toLong),
          None, // startingVersion is the CDF builder's own option above
          Option(options.get("startingTimestamp"))
            .map(SnapshotStreamOptions.parseTs)))
    else new SnapshotScanBuilder(snapshot, schemaStruct, path,
      ignoreChanges = Option(options.get("ignoreChanges"))
        .exists(_.toBoolean),
      streamOpts = SnapshotStreamOptions.from(options))
  }
}

/** Records pushed predicates + required columns, then at `build()` time
  * (after the optimizer has finished pushing) prunes the manifest's dir
  * list and delegates to the vectorized parquet scan. */
private[graft] class SnapshotScanBuilder(snap: SnapshotTable.Snapshot,
    tableSchema: StructType, root: String = "",
    ignoreChanges: Boolean = false,
    runtimeFilterKeysOnly: Boolean = false,
    streamOpts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends GraftCatalystFilterScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  /** Bound on the literal key tuples expanded from IN-list products —
    * past this the lookup is not a point read and the full dir list is
    * cheaper than hashing a huge cross product on the driver. */
  private val MaxProbeTuples = 4096

  private var required: StructType = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Hit buckets implied by the pushed conjuncts, or None when the
    * predicates don't pin every key column to a finite value set. Only
    * top-level conjuncts constrain (each pushed filter IS one conjunct),
    * so the implication is sound: any row outside the hit buckets would
    * violate one of the equality predicates. */
  private def keyTypes: Seq[DataType] =
    snap.keys.map(k => tableSchema(k).dataType)

  /** Literal key tuples the pushed conjuncts pin, or None when they
    * don't cover every key column with a finite value set. */
  private[graft] def probeTuples(filters: Seq[Filter]): Option[Seq[Seq[Any]]] = {
    if (snap.keys.isEmpty) return None
    val keySet = snap.keys.toSet
    val valueSets = scala.collection.mutable.Map.empty[String, Set[Any]]
    def narrow(c: String, vs: Set[Any]): Unit =
      valueSets(c) = valueSets.get(c).fold(vs)(_ intersect vs)
    filters.foreach {
      case EqualTo(c, v) if keySet(c) && v != null => narrow(c, Set(v))
      case EqualNullSafe(c, v) if keySet(c) && v != null => narrow(c, Set(v))
      case In(c, vs) if keySet(c) && vs.nonEmpty && !vs.contains(null) =>
        narrow(c, vs.toSet)
      case _ => () // non-key / non-equality conjuncts never widen a set
    }
    if (!snap.keys.forall(valueSets.contains)) return None
    val sets = snap.keys.map(valueSets)
    if (sets.map(_.size.toLong).product > MaxProbeTuples) return None
    Some(sets.foldLeft(Seq(Seq.empty[Any])) { (acc, s) =>
      acc.flatMap(prefix => s.toSeq.map(prefix :+ _))
    })
  }

  private[graft] def prunedBuckets(filters: Seq[Filter]): Option[Set[Int]] =
    probeTuples(filters).map(_.map(t =>
      SnapshotTable.bucketOfLiterals(t, keyTypes, snap.buckets)).toSet)

  /** Per-dir key-bloom pruning for literal point lookups: a dir whose
    * filter rejects every probe hash provably holds none of the probe
    * keys (no false negatives), so `WHERE key = <absent>` plans ZERO
    * input partitions. Composes after bucket + stats pruning; dirs
    * without a filter (or any read error) always survive. */
  private def bloomPruned(cur: Seq[(Int, String)],
      filters: Seq[Filter]): Seq[(Int, String)] = {
    if (root.isEmpty || cur.isEmpty) return cur
    probeTuples(filters) match {
      case Some(tuples) if tuples.nonEmpty =>
        val hashes = tuples.map(t =>
          SnapshotTable.keyHashOfLiterals(t, keyTypes))
        val fsys = LocalFs.resolve(new org.apache.hadoop.fs.Path(root),
          SparkSession.active.sparkContext.hadoopConfiguration)
        cur.filter(e => SnapshotTable.bloomMayContain(fsys, e._2, hashes))
      case _ => cur
    }
  }

  /** Entries surviving data-skipping: a dir is read unless SOME pushed
    * conjunct is provably unsatisfiable against its recorded column
    * bounds ([[SnapshotTable.statsSatisfiable]] — sound three-valued
    * logic, absent stats keep the dir). Composes with bucket pruning:
    * buckets answer key-equality, stats answer range/equality on the
    * correlated (usually time-like) columns appends sort into dirs. */
  private[graft] def statsPruned(entries: Seq[(Int, String)],
      filters: Seq[Filter]): Seq[(Int, String)] = {
    if ((snap.dirStats.isEmpty && snap.partSpec.isEmpty) ||
      filters.isEmpty) return entries
    val types = SnapshotTable.statsTypes(snap.schemaDdl)
    // manifest stats are keyed by PHYSICAL column names; pushed filters
    // speak the logical view — relabel the per-dir stats once (a
    // dropped column's orphaned stats keep their physical key and no
    // filter ever references it). statsFor overlays partition-derived
    // bounds (guaranteed on partitioned dirs) under the recorded ones,
    // so `PARTITIONED BY (days(ts))` prunes a time-range scan even on a
    // stats-disabled table.
    val toLogical = snap.logicalOf
    entries.filter { case (_, dir) =>
      val st0 = snap.statsFor(dir)
      st0.isEmpty || {
        val st = if (toLogical.isEmpty) st0
          else st0.map { case (c, v) => toLogical.getOrElse(c, c) -> v }
        filters.forall(f => SnapshotTable.statsSatisfiable(st, types, f))
      }
    }
  }

  /** One pruning pass over `cur` for `filters`: key-bucket narrowing
    * (full key coverage only) composed with data-skipping stats — used
    * at build() for pushed predicates AND again at execution for
    * runtime filters ([[SnapshotScan.filter]]). */
  private[graft] def reprune(cur: Seq[(Int, String)],
      filters: Seq[Filter]): Seq[(Int, String)] = {
    val bucketed = prunedBuckets(filters) match {
      // layout-aware: a historical-layout dir (post-rescale, before
      // migration) is kept when it can HOLD a hit bucket's keys; its
      // old-bucket sibling rows are dropped by the residual predicates
      // (every pushed filter is also kept as post-scan residue)
      case Some(hit) => cur.filter(e => snap.entryHit(e, hit))
      case None => cur
    }
    bloomPruned(statsPruned(bucketed, filters), filters)
  }

  // ---- complete aggregate pushdown from manifest statistics ----
  //
  // `SELECT min(c), max(c), count(*) FROM snapshot_table` (no filter, no
  // grouping) is answered ENTIRELY from the manifest: exact per-dir
  // min/max stats fold to the global extremum, per-dir row counts to the
  // global count — zero scan tasks at any table size (the Delta/Iceberg
  // metadata-query shape generalized past COUNT). Only provably-exact
  // cases push: stats columns of integral/date/timestamp type (string
  // bounds are TRUNCATED in the manifest and float bounds drop
  // non-finite values — both would lie), every live dir carrying stats
  // (or a zero row count), and no pushed predicates (this builder keeps
  // every filter as residue, so Spark never offers a filtered aggregate
  // here — the guard is belt and braces).

  private var pushedAggSchema: Option[StructType] = None
  private var pushedAggRow: Option[org.apache.spark.sql.catalyst.InternalRow] =
    None

  /** Exact fold of one column's per-dir bounds; None = not answerable
    * from the manifest (refuse pushdown), Some(None) = SQL NULL (all
    * rows null or empty table). */
  private def foldBounds(c: String,
      hi: Boolean): Option[Option[Long]] = {
    val pc = snap.physicalOf(c) // stats + statsCols are keyed physical
    if (!snap.statsCols.contains(pc)) return None
    val perDir = snap.entries.map { case (_, d) =>
      if (snap.dirRows.get(d).contains(0L)) Some(None) // empty dir
      else snap.dirStats.get(d).flatMap(_.get(pc)) match {
        case Some(st) =>
          val bound = if (hi) st.hi else st.lo
          bound match {
            case Some(v: Long) => Some(Some(v))
            case Some(_) => None // non-integral normalization: refuse
            case None if st.hasNull => Some(None) // all-null dir: skip
            case None => None // unknown bound: refuse
          }
        case None => None // dir without recorded stats: refuse
      }
    }
    if (perDir.exists(_.isEmpty)) return None
    val values = perDir.flatMap(_.get.toSeq)
    Some(if (values.isEmpty) None
    else Some(if (hi) values.max else values.min))
  }

  /** Internal-row value for a folded Long bound under the column's
    * catalyst type (stats normalize integral/date/timestamp to Long). */
  private def internalValue(dt: DataType, v: Long): Any = dt match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => v
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType => v.toInt
    case org.apache.spark.sql.types.ShortType => v.toShort
    case org.apache.spark.sql.types.ByteType => v.toByte
    case other => sys.error(s"unexpected pushed-aggregate type $other")
  }

  private def aggEligible(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** (schema field, internal value) for one aggregate call, or None when
    * the manifest can't answer it exactly. */
  private def translateAgg(
      f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[(org.apache.spark.sql.types.StructField, Any)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
          .filter(c => tableSchema.fieldNames.contains(c))
      case _ => None
    }
    f match {
      case _: CountStar => snap.metadataRowCount.map(n =>
        org.apache.spark.sql.types.StructField("count(*)",
          org.apache.spark.sql.types.LongType, nullable = false) -> n)
      case m: Min => colOf(m.column).flatMap { c =>
        val dt = tableSchema(c).dataType
        if (!aggEligible(dt)) None
        else foldBounds(c, hi = false).map(v =>
          org.apache.spark.sql.types.StructField(s"min($c)", dt) ->
            v.map(internalValue(dt, _)).orNull)
      }
      case m: Max => colOf(m.column).flatMap { c =>
        val dt = tableSchema(c).dataType
        if (!aggEligible(dt)) None
        else foldBounds(c, hi = true).map(v =>
          org.apache.spark.sql.types.StructField(s"max($c)", dt) ->
            v.map(internalValue(dt, _)).orNull)
      }
      case _ => None
    }
  }

  private def translateAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = {
    if (agg.groupByExpressions.nonEmpty) return None
    if (catalystFilters.nonEmpty || v1Filters.nonEmpty) return None
    // unresolved merge-on-read deltas: a tombstone may remove the
    // extremum row and a replacement row may shadow it — per-dir bounds
    // no longer fold exactly, refuse the pushdown
    if (snap.deltas.nonEmpty) return None
    if (snap.entries.nonEmpty &&
      !snap.entries.forall(e => snap.dirRows.contains(e._2))) return None
    val parts = agg.aggregateExpressions.toSeq.map(translateAgg)
    if (parts.exists(_.isEmpty) || parts.isEmpty) return None
    val (fields, values) = parts.flatten.unzip
    Some(StructType(fields) ->
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(values))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAggregation(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAggregation(agg) match {
    case Some((schema, row)) =>
      pushedAggSchema = Some(schema); pushedAggRow = Some(row); true
    case None => false
  }

  override def build(): Scan = pushedAggSchema match {
    case Some(aggSchema) =>
      // one driver-local row: plans as LocalTableScanExec, zero tasks
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = aggSchema
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(pushedAggRow.get)
        override def description(): String =
          s"graft-snapshot v${snap.version} manifest-aggregate " +
            aggSchema.fieldNames.mkString(", ")
      }
    case None if snap.deltas.nonEmpty =>
      // unresolved merge-on-read deltas: the raw ParquetScan plane
      // would surface shadowed/tombstoned rows. Plain reads switch to
      // the resolving scan; ROW-LEVEL operation scans refuse (their
      // replaced-group bookkeeping assumes raw dirs — copy-on-write
      // SQL DML on a delta-bearing table wants a compact first).
      require(!runtimeFilterKeysOnly,
        s"row-level SQL operation on snapshot v${snap.version} with " +
          s"${snap.deltas.size} unresolved merge-on-read delta dirs — " +
          "compact the table first (SnapshotTable.compact / " +
          "CALL <cat>.system.compact)")
      if (snap.deltas.forall(_.kind == "pos"))
        // positional (deletion-vector) layer only — keyless tables
        // always, keyed tables with no pending event deltas: the
        // replaying scan anti-joins base rows' parquet row indexes
        // against the small recorded position set, no key machinery
        new SnapshotPosScan(snap, tableSchema, required, catalystFilters,
          reprune(snap.entries, v1Filters.toSeq), snap.deltas, root,
          ignoreChanges, streamOpts)
      else {
        val hit = prunedBuckets(v1Filters.toSeq)
        val (pos, events) = snap.deltas.partition(_.kind == "pos")
        new SnapshotMorScan(snap, tableSchema, required, catalystFilters,
          reprune(snap.entries, v1Filters.toSeq),
          hit.fold(events)(h => events.filter(d => h(d.bucket))),
          root, ignoreChanges, streamOpts,
          hit.fold(pos)(h => pos.filter(d => h(d.bucket))))
      }
    case None if needsIdentity() =>
      // row-identity metadata columns requested (`_sdv_file`,
      // `_sdv_pos` — SELECTed provenance or a delta-based row-level
      // operation's rowId): the positional scan synthesizes them from
      // split suffix + parquet row index, with an empty tombstone set
      new SnapshotPosScan(snap, tableSchema, required, catalystFilters,
        reprune(snap.entries, v1Filters.toSeq), Seq.empty, root,
        ignoreChanges, streamOpts)
    case None =>
      new SnapshotScan(snap, tableSchema, required, catalystFilters,
        reprune(snap.entries, v1Filters.toSeq), root, ignoreChanges,
        reprune, runtimeFilterKeysOnly, streamOpts)
  }

  private def needsIdentity(): Boolean =
    required.fieldNames.exists(SnapshotTable.IdentityCols)
}

/** The built scan: batch reads delegate to Spark's vectorized
  * `ParquetScan` over the pruned dir list; streaming reads serve the
  * table AS A SOURCE ([[SnapshotMicroBatchStream]]) — the read-side
  * twin of the q159 foreachBatch sink. */
private[graft] class SnapshotScan(snap: SnapshotTable.Snapshot,
    tableSchema: StructType, required: StructType,
    catalystFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    entries0: Seq[(Int, String)], root: String, ignoreChanges: Boolean,
    reprune: (Seq[(Int, String)], Seq[Filter]) => Seq[(Int, String)] =
      (cur, _) => cur,
    runtimeFilterKeysOnly: Boolean = false,
    streamOpts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Dirs this scan will read; shrinks when RUNTIME filters arrive
    * ([[filter]] — Spark's V2 dynamic filtering, the DPP analogue). */
  private var entries: Seq[(Int, String)] = entries0

  /** The final (static + runtime pruned) dir list — read at COMMIT time
    * by group-based row-level operations, whose replaced-group set must
    * be exactly what this scan fed the replacement query
    * ([[SnapshotRowLevelOperation]]). */
  private[sources] def currentEntries: Seq[(Int, String)] = entries

  /** Columns Spark may derive runtime IN-filters for from a join's
    * build side: the table keys (bucket pruning on a single-key table —
    * a dim-driven fact scan reads only the dims' buckets) and every
    * stats column (min/max dir skipping for the rest).
    *
    * Row-level operation scans (`runtimeFilterKeysOnly`) advertise ONLY
    * the keys: `RowLevelOperationRuntimeGroupFiltering` builds ONE
    * dynamic predicate over ALL advertised attributes — a multi-column
    * `named_struct(…) IN (…)` has no V1 translation and prunes nothing,
    * while a keys-only `key IN (matched keys)` hits the bucket pruner
    * and confines the copy-on-write to the matched buckets.
    *
    * Restricted to the scan's OUTPUT (`required`) columns: Spark's
    * `PartitionPruning.getFilterableTableScan` resolves every advertised
    * attribute against the pruned scan output and throws on a miss, so a
    * column-pruned scan must not advertise the columns it dropped. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (if (runtimeFilterKeysOnly) snap.keys
     else (snap.keys ++ snap.statsCols).distinct)
      .filter(c => required.fieldNames.contains(c))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  /** Runtime pruning with join-time values: same bucket + stats pass as
    * the static build — sound (pruning only narrows; residual filters
    * still run) and O(entries) driver work at execution prep. */
  override def filter(filters: Array[Filter]): Unit = {
    entries = reprune(entries, filters.toSeq)
  }

  /** True iff this scan reads the WHOLE snapshot with no pushed
    * predicates — the precondition for the metadata-only count rewrite
    * ([[graft.plans.SnapshotMetadataOnlyCount]]) to be sound on a
    * post-pushdown plan. */
  def isFullUnfilteredScan: Boolean =
    catalystFilters.isEmpty && entries == snap.entries

  /** Manifest row count of the pinned snapshot, when complete. */
  def metadataRowCount: Option[Long] = snap.metadataRowCount

  /** EXACT planner statistics from the manifest, PRUNING-AWARE: summed
    * over the entries this scan will actually read (bucket- and
    * stats-pruned), not the whole table — a key point-lookup on a
    * 100 TB table reports ~1/buckets of its size, so AQE/CBO broadcast
    * that side of a join instead of defaulting it to "unknown = huge"
    * ([[SnapshotTable.dirStatistics]]). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    SnapshotTable.dirStatistics(snap, entries.map(_._2))

  /** Files store PHYSICAL column names (column mapping): the delegated
    * parquet plane reads the physicalized schema with attribute-renamed
    * pushed filters, and its rows come back positional, so the data
    * plane never copies and [[readSchema]] stays the logical view. */
  private val physFilters = SnapshotTable.physFilters(snap, catalystFilters)

  /** The MANIFEST's frozen existence defaults in physical-name space —
    * the only default metadata allowed to reach the parquet plane:
    * catalog-attached CURRENT/EXISTS pairs (write-side, head-version)
    * are stripped and replaced with this snapshot's own recorded map,
    * so time travel fills each version's truth and plain ADD COLUMN
    * (no DEFAULT) keeps the null contract. */
  private def metaFor(st: StructType): StructType =
    SnapshotTable.readSchemaMetaPhys(snap, st)

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-snapshot v${snap.version} (${entries.size} dirs)"

  /** STORAGE-PARTITIONED JOIN support: the table is physically hash-
    * bucketed by its keys, so the scan reports
    * `KeyGroupedPartitioning(bucket(n, keys…))` and emits its input
    * partitions PER BUCKET, each stamped with the bucket id
    * ([[HasPartitionKey]]) — two snapshot tables with the same keys and
    * bucket count join on their keys with ZERO shuffle on either side
    * (under `spark.sql.sources.v2.bucketing.enabled`, via the catalog's
    * `bucket` function — [[SnapshotCatalog.loadFunction]]). Keyless
    * tables report unknown partitioning. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    // a mixed-layout snapshot (mid-migration after a rescale) has no
    // single bucket transform its dirs all satisfy — storage-partitioned
    // joins stand down until compaction migrates the old dirs
    if (snap.keys.isEmpty || snap.mixedLayout)
      new UnknownPartitioning(entries.size)
    else new KeyGroupedPartitioning(
      Array(Expressions.bucket(snap.buckets, snap.keys: _*)),
      entries.map(_._1).distinct.size)
  }

  /** The plan of the current [[entries]], made once per entry list
    * (runtime filtering replaces the list, and Spark asks a re-filtered
    * scan for its partitions again): ONE [[SnapshotTable.planRole]] over
    * every dir, its splits packed back into FilePartitions per bucket so
    * each partition carries its bucket id and a small bucket stays one
    * task. Multiple partitions may share a key — Spark groups them. */
  private var plannedFor: Option[(Seq[(Int, String)],
      Array[InputPartition], SnapshotTable.PlannedRole)] = None

  private def planned: (Array[InputPartition], SnapshotTable.PlannedRole) =
    synchronized {
      plannedFor.filter(_._1 == entries).map(p => (p._2, p._3)).getOrElse {
        val r = SnapshotTable.planRole(entries.map(_._2), snap.dirFiles,
          metaFor(tableSchema), metaFor(required), physFilters)
        val parts: Array[InputPartition] =
          if (snap.keys.isEmpty || snap.mixedLayout) r.parts.toArray
          else entries.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
            case (b, es) => r.packed(es.map(_._2)).map(p =>
              KeyedInputPartition(
                org.apache.spark.sql.catalyst.InternalRow(b), p))
          }.toArray
        plannedFor = Some((entries, parts, r))
        (parts, r)
      }
    }

  /** The reader factory depends on schema and filters, never on the
    * file list: one per scan. */
  private lazy val readerFactory: PartitionReaderFactory = {
    val f = planned._2.factory
    if (snap.keys.isEmpty || snap.mixedLayout) f else new KeyedReaderFactory(f)
  }

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[InputPartition] = planned._1
      override def createReaderFactory(): PartitionReaderFactory =
        readerFactory
    }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    SnapshotMicroBatchStream.of(snap, root, tableSchema, required,
      physFilters, ignoreChanges, streamOpts)
}

/** A delegate input partition stamped with its key-hash bucket id —
  * the [[org.apache.spark.sql.connector.read.HasPartitionKey]] unit the
  * storage-partitioned-join planner groups on. */
private[graft] case class KeyedInputPartition(
    key: org.apache.spark.sql.catalyst.InternalRow,
    inner: org.apache.spark.sql.connector.read.InputPartition)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Unwraps [[KeyedInputPartition]]s before delegating to the parquet
  * reader factory (row and columnar paths alike). */
private[graft] class KeyedReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.InputPartition
  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: KeyedInputPartition => k.inner
    case other => other
  }
  override def createReader(p: InputPartition) =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}

/** Micro-batch offset: how much of the table the stream has served.
  * Three forms (the sub-version `index` is what lets admission control
  * split one huge snapshot/commit across triggers, the Delta
  * `(reservoirVersion, index, isStartingVersion)` shape):
  *
  *   - `{"version":0}` — nothing served yet, initial snapshot pending;
  *   - `{"version":V}` — everything through commit V fully served (the
  *     legacy whole-version form every pre-admission checkpoint holds,
  *     still emitted whenever a boundary is clean);
  *   - `{"version":V,"index":i,"phase":"init"}` — rate-limited initial
  *     snapshot: the first `i` dirs (manifest order) of the
  *     consolidated snapshot pinned AT V;
  *   - `{"version":V,"index":i,"phase":"tail"}` — rate-limited tail:
  *     everything through V−1, plus the first `i` fresh dirs of commit
  *     V. (`{"version":0,"index":-1,"phase":"tail"}` is the explicit
  *     from-scratch tail anchor `startingVersion=1` begins at.)
  */
private[graft] case class SnapshotOffset(version: Long, index: Int = -1,
    phase: String = "")
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (phase.isEmpty) s"""{"version":$version}"""
    else s"""{"version":$version,"index":$index,"phase":"$phase"}"""
}

/** Streaming read knobs parsed from `readStream` options — admission
  * control (how much backlog one micro-batch admits) and the starting
  * position (skip the initial snapshot), the Delta source option
  * surface:
  *
  *   - `maxFilesPerTrigger` — max data DIRS admitted per batch (the
  *     manifest's commit unit — a hard cap);
  *   - `maxBytesPerTrigger` — soft cap on manifest-recorded bytes per
  *     batch (a batch admits dirs until the cap is crossed, always at
  *     least one, so progress never stalls);
  *   - `maxRowsPerTrigger`  — same, over manifest-recorded row counts;
  *   - `startingVersion`    — serve commits from this version on
  *     (inclusive; `"latest"` = only commits after stream start)
  *     INSTEAD of the consolidated initial snapshot — the
  *     backfill-free subscription;
  *   - `startingTimestamp`  — earliest commit at/after this timestamp
  *     (epoch millis or a `java.sql.Timestamp` string).
  *
  * 100 TB framing: without admission control the FIRST batch of a new
  * stream is the whole table — one micro-batch sized O(100 TB) that no
  * executor fleet drains inside a trigger. With it, the initial
  * snapshot and any append backlog stream through in bounded,
  * checkpointed slices, and a crash resumes mid-slice exactly. */
private[graft] case class SnapshotStreamOptions(
    maxFiles: Option[Int] = None, maxBytes: Option[Long] = None,
    maxRows: Option[Long] = None, startingVersion: Option[String] = None,
    startingTimestamp: Option[Long] = None) {
  require(maxFiles.forall(_ >= 1), "maxFilesPerTrigger must be >= 1")
  require(maxBytes.forall(_ >= 1), "maxBytesPerTrigger must be >= 1")
  require(maxRows.forall(_ >= 1), "maxRowsPerTrigger must be >= 1")
  require(startingVersion.isEmpty || startingTimestamp.isEmpty,
    "set startingVersion OR startingTimestamp, not both")
  def limited: Boolean =
    maxFiles.isDefined || maxBytes.isDefined || maxRows.isDefined
}

private[graft] object SnapshotStreamOptions {
  def from(options: CaseInsensitiveStringMap): SnapshotStreamOptions =
    SnapshotStreamOptions(
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      Option(options.get("maxRowsPerTrigger")).map(_.toLong),
      Option(options.get("startingVersion")),
      Option(options.get("startingTimestamp")).map(parseTs))

  /** Epoch millis, a timestamp string (`yyyy-MM-dd HH:mm:ss[.f…]`), or
    * a date-only `yyyy-MM-dd` (midnight — the Delta-style spelling).
    * String forms resolve in the SPARK SESSION time zone
    * (`spark.sql.session.timeZone`), not the driver JVM's: a stream's
    * start point must not shift with deployment host settings. */
  def parseTs(s: String): Long =
    s.toLongOption.getOrElse {
      val zone = java.time.ZoneId.of(
        SparkSession.active.conf.get("spark.sql.session.timeZone"))
      val t = s.trim
      val local =
        if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      local.atZone(zone).toInstant.toEpochMilli
    }
}

/** Per-batch admission budgets decoded from Spark's [[ReadLimit]]
  * (min-wins across a composite; `Long.MaxValue` = unbounded) — shared
  * by the append-tailing source and the change-feed stream. */
private[graft] object StreamAdmission {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows}

  case class Budgets(files: Long, bytes: Long, rows: Long) {
    def unlimited: Boolean = files == Long.MaxValue &&
      bytes == Long.MaxValue && rows == Long.MaxValue
    def exhaustedBy(used: Budgets): Boolean =
      used.files >= files || used.bytes >= bytes || used.rows >= rows
  }
  val None0: Budgets = Budgets(0L, 0L, 0L)
  val Unlimited: Budgets = Budgets(Long.MaxValue, Long.MaxValue, Long.MaxValue)

  def budgetsOf(limit: ReadLimit): Budgets = limit match {
    case _: ReadAllAvailable => Unlimited
    case f: ReadMaxFiles => Budgets(f.maxFiles.toLong, Long.MaxValue, Long.MaxValue)
    case b: ReadMaxBytes => Budgets(Long.MaxValue, b.maxBytes, Long.MaxValue)
    case r: ReadMaxRows => Budgets(Long.MaxValue, Long.MaxValue, r.maxRows)
    case c: CompositeReadLimit =>
      c.getReadLimits.map(budgetsOf).reduceOption { (a, b) =>
        Budgets(math.min(a.files, b.files), math.min(a.bytes, b.bytes),
          math.min(a.rows, b.rows))
      }.getOrElse(Unlimited)
    // min-rows and future limit kinds don't bound dir admission
    case _ => Unlimited
  }

  /** The default limit advertised for a set of stream options. */
  def defaultLimit(opts: SnapshotStreamOptions): ReadLimit = {
    val ls = Seq(opts.maxFiles.map(ReadLimit.maxFiles),
      opts.maxBytes.map(ReadLimit.maxBytes),
      opts.maxRows.map(ReadLimit.maxRows)).flatten
    ls match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Saturating add where only LIMITED budgets charge (an unknown
    * per-dir stat must never trip an unlimited budget). */
  def charge(limitedTo: Long, acc: Long, d: Long): Long =
    if (limitedTo == Long.MaxValue) acc
    else if (acc + d < 0 || acc == Long.MaxValue) Long.MaxValue
    else acc + d

  /** Saturating plain sum (per-dir costs can be `Long.MaxValue` =
    * unknown; several must not wrap negative). */
  def satSum(xs: Seq[Long]): Long = xs.foldLeft(0L)((acc, x) =>
    if (acc == Long.MaxValue || x == Long.MaxValue || acc + x < 0)
      Long.MaxValue else acc + x)

  /** Manifests parsed per admission step while walking a backlog: a
    * budget-limited `latestOffset` parses the unserved window in
    * chunks this size and stops at exhaustion, so a long backfill
    * costs O(served + skipped-free) parses per trigger — never
    * O(backlog) per trigger (which would be O(backlog²) to drain). */
  val WindowChunk = 64L
}

/** Streaming source over the snapshot table — an APPEND-tailing reader
  * with exactly-once versioned offsets (the Delta streaming-source
  * shape):
  *
  *   - offsets are manifest versions, so a restart resumes from the
  *     checkpointed version and each commit is served exactly once;
  *   - the FIRST batch (offset 0 → head) serves the whole snapshot at
  *     stream start — upserts/deletes before the start are already
  *     consolidated in it;
  *   - subsequent batches serve ONLY the fresh dirs of `append` commits
  *     in `(start, end]` — O(new data) per trigger, nothing re-read;
  *   - a non-append commit mid-stream (upsert/delete/overwrite/compact
  *     rewrites consolidated dirs, so its fresh dirs are NOT purely new
  *     rows) fails loudly unless `ignoreChanges=true`, which serves the
  *     rewritten dirs verbatim and may re-emit rewritten rows — exactly
  *     Delta's documented `ignoreChanges` caveat.
  *
  * The version listing re-reads the manifest catalog each trigger
  * (O(versions) driver metadata). Each batch's dirs plan as ONE reader
  * role (`plan`, [[SnapshotTable.planRole]], the path every snapshot
  * scan plans through): its partitions, and its reader factory, so
  * executors stream the same vectorized path batch reads use. A batch
  * that serves no dir builds nothing.
  *
  * ADMISSION CONTROL ([[SupportsAdmissionControl]], the Delta source
  * shape): `maxFilesPerTrigger` / `maxBytesPerTrigger` /
  * `maxRowsPerTrigger` bound what one micro-batch admits, splitting the
  * initial snapshot AND any append backlog across triggers via
  * sub-version offsets ([[SnapshotOffset]]) — budgets are charged from
  * the manifest's per-dir byte/row counts, zero data reads. Unlimited
  * streams keep the names-only O(1) head probe per tick; limited ones
  * parse only the unserved window. [[SupportsTriggerAvailableNow]] pins
  * the head at query start, so `Trigger.AvailableNow` drains exactly
  * the backlog-at-start in bounded batches and stops. */
private[graft] class SnapshotMicroBatchStream(root: String,
    plan: Seq[String] => SnapshotTable.PlannedRole, ignoreChanges: Boolean,
    opts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private def spark = SparkSession.active

  private def head(): Long =
    SnapshotTable.headVersion(spark, root).getOrElse(0L)

  /** AvailableNow pin: commits past this are out of this run's scope
    * (the run "behaves as if no new data arrives after prepare"). */
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(head())

  /** Anchor at commit `v` (inclusive): serving v's fresh rows requires
    * DIFFING against v−1's entry list, so v−1's manifest must still be
    * listed — a vacuumed predecessor refuses UP FRONT with guidance
    * (self-contained manifests carry full entry lists, not per-commit
    * adds, hence the predecessor dependency; Delta reads commit v's own
    * actions instead and doesn't have it). */
  private def anchorAt(v: Long): SnapshotOffset = {
    require(v >= 1, s"startingVersion must be >= 1, got $v")
    val listed = SnapshotTable.listedVersions(spark, root)
    // empty/not-yet-created table: v=1 would pass the head check
    // (h=0, 1 <= 0+1) and then snapAt(1) would blame a mid-stream
    // vacuum — name the real condition instead
    require(listed.nonEmpty, s"no snapshot table at $root")
    val h = listed.lastOption.getOrElse(0L)
    require(v <= h + 1, s"startingVersion $v is past the head of " +
      s"$root (v$h)")
    if (v == 1L) {
      // a delta-bearing clone commit can never be tail-served, and its
      // v1 manifest is immutable — refuse at query start (before any
      // offset is checkpointed) with guidance that actually works
      val first = snapAt(1L)
      if (first.op == "clone" && first.deltas.nonEmpty)
        sys.error(s"cannot start at version 1 of $root: its clone " +
          s"commit immutably carries ${first.deltas.size} unresolved " +
          "merge-on-read delta dir(s). Stream the consolidated " +
          "snapshot instead (no startingVersion, after a compact), or " +
          "re-clone from a compacted source")
      SnapshotOffset(0L, -1, "tail")
    }
    else {
      if (!listed.contains(v - 1))
        sys.error(s"cannot start at version $v of $root: version " +
          s"${v - 1} (needed to diff v$v's fresh rows) has been " +
          s"vacuumed — oldest retained is ${listed.headOption.getOrElse(0L)}; " +
          "start at a version whose predecessor is retained, or stream " +
          "the consolidated snapshot (no startingVersion)")
      SnapshotOffset(v - 1)
    }
  }

  override def initialOffset(): Offset = opts.startingVersion match {
    case Some("latest") => SnapshotOffset(head())
    case Some(s) =>
      anchorAt(s.toLongOption.getOrElse(sys.error(
        s"startingVersion must be a version number or 'latest', got '$s'")))
    case None => opts.startingTimestamp match {
      case Some(t) =>
        SnapshotTable.firstVersionAtOrAfter(spark, root, t) match {
          case Some(v) => anchorAt(v)
          case None => sys.error(s"startingTimestamp $t is after the " +
            s"newest commit at $root — every existing commit predates it")
        }
      case None => SnapshotOffset(0L)
    }
  }

  // names-only head probe: a per-tick latestOffset must not parse (or
  // list-and-parse) an unbounded history
  override def latestOffset(): Offset = SnapshotOffset(head())

  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(opts)

  override def reportLatestOffset(): Offset = SnapshotOffset(head())

  private type Budgets = StreamAdmission.Budgets
  private def Budgets(f: Long, b: Long, r: Long): Budgets =
    StreamAdmission.Budgets(f, b, r)
  private def budgetsOf(limit: ReadLimit): Budgets =
    StreamAdmission.budgetsOf(limit)

  private def snapAt(v: Long): SnapshotTable.Snapshot =
    SnapshotTable.versionWindow(spark, root, v, v).getOrElse(v, sys.error(
      s"offset version $v vanished from $root (vacuumed mid-stream?)"))

  /** The stream's served-position decoded from an offset:
    * `Left((V, i))` = mid-initial-snapshot at V, i dirs in;
    * `Right((a, s))` = tailing, commits ≤ a fully served plus the first
    * `s` fresh dirs of commit a+1; `None` = initial snapshot pending. */
  private def stateOf(o: SnapshotOffset)
      : Option[Either[(Long, Int), (Long, Int)]] = o match {
    case SnapshotOffset(0L, -1, "") => None
    case SnapshotOffset(v, i, "init") => Some(Left((v, i)))
    case SnapshotOffset(v, -1, _) => Some(Right((v, 0)))
    case SnapshotOffset(v, i, "tail") => Some(Right((v - 1, i)))
    case other => sys.error(s"bad snapshot offset state: ${other.json()}")
  }

  /** Dir list the pinned initial snapshot serves, in manifest order —
    * deterministic across restarts, so index offsets slice into it
    * stably. A snapshot carrying unresolved merge-on-read deltas
    * REFUSES: its base entries served verbatim would emit tombstoned
    * and shadowed rows a batch read (which resolves) does not. */
  private def initDirs(s: SnapshotTable.Snapshot): Seq[String] = {
    require(s.deltas.isEmpty,
      s"snapshot stream at $root: v${s.version} carries " +
        s"${s.deltas.size} unresolved merge-on-read delta dir(s); its " +
        "base entries alone are not the table's content — compact " +
        "before streaming")
    s.entries.map(_._2)
  }

  /** Why commit `next` can NEVER tail-serve, or None when it can —
    * checked by the admission walk BEFORE an offset covering the
    * commit is logged (thrown only at plan time, the refusal would
    * wedge the checkpoint: the logged batch replays into the same
    * error forever) and enforced again by [[freshDirs]]. Inserting and
    * no-data-change commits ([[SnapshotTable.commitKind]]) serve; any
    * other commit refuses unless `ignoreChanges` streams its rewritten
    * dirs verbatim. */
  private def tailRefusal(next: SnapshotTable.Snapshot): Option[String] = {
    // a clone commit serves its entries as pure inserts — unsound if it
    // carried unresolved deltas (tombstoned/shadowed rows would emit);
    // its v1 manifest is immutable, so the only servable spellings are
    // the consolidated snapshot (after compact) or a fresh clone
    if (next.op == "clone" && next.deltas.nonEmpty)
      Some(s"snapshot stream at $root: clone commit " +
        s"v${next.version} immutably carries ${next.deltas.size} " +
        "unresolved merge-on-read delta dir(s). Stream the " +
        "consolidated snapshot instead (no startingVersion, after a " +
        "compact), or re-clone from a compacted source")
    else if (ignoreChanges) None
    else SnapshotTable.commitKind(next.op) match {
      case SnapshotTable.CommitKind.Inserts |
           SnapshotTable.CommitKind.NoDataChange => None
      case _ => Some(s"snapshot stream at $root hit a '${next.op}' " +
        s"commit (v${next.version}): its dirs consolidate existing rows, " +
        "not just new ones. Restart from scratch, or set " +
        "ignoreChanges=true to stream rewritten dirs verbatim " +
        "(re-emits rewritten rows, the Delta ignoreChanges caveat)")
    }
  }

  /** Fresh dirs of commit `next` over its predecessor's entries, under
    * append-tail semantics. Rescale, column renames/drops and the other
    * pure-metadata commits keep identical dirs (zero new rows; file
    * columns are physically stable), so the append-tailing contract is
    * undisturbed. `compact`/`zorder` commits REWRITE dirs but are
    * content-neutral by construction, so the stream SKIPS them entirely
    * (the Delta `dataChange = false` semantics) — table maintenance and
    * tailing readers coexist, no re-emits, no restart. */
  private def freshDirs(next: SnapshotTable.Snapshot,
      prev: Option[SnapshotTable.Snapshot]): Seq[String] = {
    tailRefusal(next).foreach(sys.error)
    val prevEntries = prev.fold(Seq.empty[String])(_.entries.map(_._2))
    // content-neutral rewrites are skipped for clean streams (the Delta
    // dataChange=false discipline). Under ignoreChanges the verbatim
    // re-emit happens ONLY when the commit actually FOLDED merge-on-
    // read deltas — that re-emit is ignoreChanges' sole delivery path
    // for MOR changes (removing it would turn the documented caveat
    // into silent loss), while a pure fragmentation compact stays
    // invisible to every consumer (no full-table duplicate flood on
    // the nightly maintenance cadence)
    if (next.op == "compact" || next.op == "zorder") {
      val folded = prev.exists(p =>
        p.deltas.exists(d => !next.deltas.contains(d)))
      if (!(ignoreChanges && folded)) return Seq.empty
    }
    next.entries.map(_._2).diff(prevEntries)
  }

  /** (snapshot, lazy fresh dirs) per commit in `(anchorV, toV]` — ONE
    * window parse, O(batch span) not O(history). The dirs thunk (and
    * `freshDirs`' unservable-op fail-fast inside it) evaluates only
    * when the caller actually serves the commit: the admission walk
    * probes [[tailRefusal]] on the SNAPSHOT first, so a rate-limited
    * trigger serves+checkpoints the in-budget commits BEFORE an
    * unservable one, and the refusal fires on the trigger that
    * reaches it — with its offset still unlogged. */
  private def tailWindow(anchorV: Long, toV: Long,
      fetch: (Long, Long) => Map[Long, SnapshotTable.Snapshot] =
        (f, t) => SnapshotTable.versionWindow(spark, root, f, t))
      : Iterator[(SnapshotTable.Snapshot, () => Seq[String])] = {
    if (toV <= anchorV) return Iterator.empty
    val byV = fetch(math.max(1L, anchorV), toV)
    def at(v: Long): SnapshotTable.Snapshot =
      byV.getOrElse(v, sys.error(
        s"offset version $v vanished from $root (vacuumed mid-stream?)"))
    ((anchorV + 1) to toV).iterator.map { v =>
      val next = at(v)
      next -> (() => freshDirs(next,
        if (v == 1L) None else Some(at(v - 1))))
    }
  }

  /** Greedy in-order dir admission against `b`, charged from the
    * manifest's per-dir stats: hard file cap, soft byte/row caps (the
    * crossing dir is admitted — a dir bigger than the budget still
    * streams, alone). Unknown counts (legacy manifests) fill the soft
    * budget whole, so such dirs go one per batch rather than starving
    * the stream. Returns dirs taken; >= 1 whenever any is offered. */
  private def admit(dirs: Seq[String], sn: SnapshotTable.Snapshot,
      b: Budgets, used: Budgets): (Int, Budgets) = {
    import StreamAdmission.charge
    var n = 0
    var u = used
    while (n < dirs.size && !b.exhaustedBy(u)) {
      val d = dirs(n)
      u = Budgets(u.files + 1,
        charge(b.bytes, u.bytes, sn.dirBytes.getOrElse(d, Long.MaxValue)),
        charge(b.rows, u.rows, sn.dirRows.getOrElse(d, Long.MaxValue)))
      n += 1
    }
    (n, u)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[SnapshotOffset]
    val b = budgetsOf(limit)
    val h = availableNowCap.fold(head())(math.min(head(), _))
    stateOf(so) match {
      case None => // initial snapshot pending
        if (h == 0) return so // empty table
        // ONE manifest parse on the very first trigger, limited or not:
        // the delta-bearing refusal must fire HERE, before Spark logs
        // the offset — thrown at plan time it would wedge the
        // checkpoint (the logged batch replays against the same pinned
        // version forever, even after the advised compact)
        val sn = snapAt(h) // pin the initial snapshot at today's head
        val dirs = initDirs(sn)
        if (b.unlimited) return SnapshotOffset(h)
        val (n, _) = admit(dirs, sn, b, Budgets(0, 0, 0))
        if (n >= dirs.size) SnapshotOffset(h)
        else SnapshotOffset(h, n, "init")
      case Some(Left((v, i))) => // mid-initial-snapshot at pinned v
        val sn = snapAt(v)
        val dirs = initDirs(sn)
        if (b.unlimited) return SnapshotOffset(v)
        val (n, _) = admit(dirs.drop(i), sn, b, Budgets(0, 0, 0))
        if (i + n >= dirs.size) SnapshotOffset(v)
        else SnapshotOffset(v, i + n, "init")
      case Some(Right((a, s))) => // tailing
        if (h <= a && s == 0) return so
        var anchor = a
        var served = s
        var u = Budgets(0, 0, 0)
        var open = true
        // chunked walk: parse only as far as the budget reaches, never
        // the whole backlog per trigger (StreamAdmission.WindowChunk) —
        // an UNLIMITED trigger walks its whole window (which it serves
        // anyway): the walk is where the unservable-commit refusal
        // fires BEFORE the offset is logged; ONE listing serves every
        // chunk
        val fetch = SnapshotTable.versionLister(spark, root)
        var lo = a
        val hi = math.max(h, a + 1)
        while (open && lo < hi) {
          val chunkHi = math.min(hi, lo + StreamAdmission.WindowChunk)
          val win = tailWindow(lo, chunkHi, fetch)
          while (open && win.hasNext) {
            val (sn, freshF) = win.next()
            tailRefusal(sn) match {
              case Some(reason) =>
                // serve and checkpoint everything before the
                // unservable commit first; refuse (offset unlogged)
                // only when it is the very next commit
                if (anchor > a || served != s) open = false
                else sys.error(reason)
              case None =>
                val fresh = freshF()
                val from = if (sn.version == a + 1) s else 0
                val (n, u2) = admit(fresh.drop(from), sn, b, u)
                u = u2
                if (from + n >= fresh.size) { anchor = sn.version; served = 0 }
                else { anchor = sn.version - 1; served = from + n; open = false }
                if (b.exhaustedBy(u)) open = false
            }
          }
          lo = chunkHi
        }
        if (anchor == a && served == s) so
        else if (served == 0) SnapshotOffset(anchor)
        else SnapshotOffset(anchor + 1, served, "tail")
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val P = """\{"version":(\d+)\}""".r
    val F = """\{"version":(\d+),"index":(-?\d+),"phase":"(init|tail)"\}""".r
    json.trim match {
      case P(n) => SnapshotOffset(n.toLong)
      case F(v, i, p) =>
        val (vv, ii) = (v.toLong, i.toInt)
        // normalize the redundant complete-tail spelling so offset
        // equality (= "no new data") is structural
        if (p == "tail" && ii < 0 && vv > 0) SnapshotOffset(vv)
        else SnapshotOffset(vv, ii, p)
      case other => sys.error(s"bad snapshot offset: $other")
    }
  }

  /** Dirs the batch `(start, end]` serves — every admissible offset
    * pair (legacy whole-version, mid-initial-snapshot slices, partial
    * tail slices). Slicing indexes into manifest-ordered dir lists, so
    * the same offsets always name the same dirs. */
  private[graft] def rangeDirs(so: SnapshotOffset,
      eo: SnapshotOffset): Seq[String] = {
    if (so == eo) return Seq.empty
    def bad(): Nothing = sys.error(
      s"inconsistent snapshot offsets: ${so.json()} -> ${eo.json()}")
    (stateOf(so), stateOf(eo)) match {
      case (None, Some(Left((v, j)))) => initDirs(snapAt(v)).take(j)
      case (None, Some(Right((v, 0)))) if v > 0 => initDirs(snapAt(v))
      case (Some(Left((v, i))), Some(Left((v2, j)))) if v2 == v && j > i =>
        initDirs(snapAt(v)).slice(i, j)
      case (Some(Left((v, i))), Some(Right((v2, 0)))) if v2 == v =>
        initDirs(snapAt(v)).drop(i)
      case (Some(Right((a, s))), Some(Right((a2, s2))))
          if a2 > a || (a2 == a && s2 > s) =>
        val lastV = if (s2 > 0) a2 + 1 else a2
        tailWindow(a, lastV).flatMap { case (sn, freshF) =>
          val fresh = freshF()
          val from = if (sn.version == a + 1) s else 0
          val until = if (s2 > 0 && sn.version == a2 + 1) s2 else fresh.size
          fresh.slice(from, until)
        }.toSeq
      case _ => bad()
    }
  }

  /** The last planned batch `(start, end)` and its role: a batch is
    * planned once however often Spark asks for its partitions. */
  private var planned: Option[((Offset, Offset), SnapshotTable.PlannedRole)] =
    None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = synchronized {
    val r = planned.filter(_._1 == ((start, end))).map(_._2).getOrElse {
      val r = plan(rangeDirs(start.asInstanceOf[SnapshotOffset],
        end.asInstanceOf[SnapshotOffset]))
      planned = Some(((start, end), r))
      r
    }
    r.parts.toArray
  }

  /** The planned batch's role factory: a factory depends only on schema,
    * filters and conf, and Spark asks a micro-batch scan for its
    * partitions before its factory; a batch that planned no partition
    * never makes a reader. */
  override def createReaderFactory(): PartitionReaderFactory =
    synchronized(planned.fold[PartitionReaderFactory](
      SnapshotTable.NoPartitionsReaderFactory)(_._2.factory))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] object SnapshotMicroBatchStream {
  /** The stream of a connector scan over `snap`: each batch's dirs plan
    * as one role under the scan's pruned schema and pushed filters. */
  def of(snap: SnapshotTable.Snapshot, root: String, tableSchema: StructType,
      required: StructType,
      physFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      ignoreChanges: Boolean, opts: SnapshotStreamOptions)
      : SnapshotMicroBatchStream = {
    require(!required.fieldNames.exists(SnapshotTable.IdentityCols),
      "row-identity metadata columns are a batch-read surface; " +
        "streaming reads cannot synthesize them")
    val (tbl, req) = (SnapshotTable.readSchemaMetaPhys(snap, tableSchema),
      SnapshotTable.readSchemaMetaPhys(snap, required))
    new SnapshotMicroBatchStream(root,
      SnapshotTable.planRole(_, snap.dirFiles, tbl, req, physFilters),
      ignoreChanges, opts)
  }
}

// ---- change-data-feed reads (`option("readChangeFeed", "true")`) ----

/** No pushdown: a change-feed read is change-complete by contract (a
  * pruned feed would silently drop changes); filters run post-scan.
  * Timestamp options resolve to versions HERE (checkpoint-assisted):
  * `startingTimestamp` = earliest commit at/after t (refused when every
  * commit predates it — the Delta semantics), `endingTimestamp` =
  * newest commit at/before t. */
private[graft] class SnapshotCdfScanBuilder(snap: SnapshotTable.Snapshot,
    root: String, startingVersion: Option[Long],
    endingVersion: Option[Long],
    endingTimestamp: Option[Long] = None,
    streamOpts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends ScanBuilder {
  override def build(): Scan = {
    val spark = SparkSession.active
    require(startingVersion.isEmpty || streamOpts.startingTimestamp.isEmpty,
      "set startingVersion OR startingTimestamp, not both")
    require(endingVersion.isEmpty || endingTimestamp.isEmpty,
      "set endingVersion OR endingTimestamp, not both")
    val sv = startingVersion.orElse(streamOpts.startingTimestamp.map { t =>
      SnapshotTable.firstVersionAtOrAfter(spark, root, t).getOrElse(
        sys.error(s"startingTimestamp $t is after the newest commit at " +
          s"$root — every existing commit predates it"))
    })
    val ev = endingVersion.orElse(endingTimestamp.map(t =>
      SnapshotTable.resolve(spark, root, None, Some(t)).version))
    new SnapshotCdfScan(snap, root, sv, ev, streamOpts)
  }
}

/** The change feed as a V2 scan — batch AND streaming (the Delta CDF
  * surface):
  *
  * {{{
  *   spark.read.format("graft-snapshot")            // batch: commits
  *     .option("readChangeFeed", "true")            //   [starting,
  *     .option("startingVersion", 2)                //    ending]
  *     .option("endingVersion", 5).load(root)       //   inclusive
  *   spark.readStream.format("graft-snapshot")      // stream: changes
  *     .option("readChangeFeed", "true").load(root) //   after load
  * }}}
  *
  * Output schema = table schema + `_change_type` + `_commit_version`.
  * Every batch is served from O(changed rows) files, never a diff job:
  *
  *   - `create`/`append` commits read their fresh dirs verbatim, tagged
  *     `insert` by a constant-appending reader (no change file needed —
  *     the fresh dirs ARE the inserts);
  *   - `upsert`/`delete` commits on a `changeFeed = true` table read
  *     the commit's recorded `_cdc` dir (diff-exact rows written at
  *     commit time, [[SnapshotTable]] change files);
  *   - `zorder`/`compact` commits are content-neutral: zero changes,
  *     skipped;
  *   - anything else (overwrite, restore, merge-on-read layers,
  *     row-level UPDATE/MERGE replacements, or upsert/delete on a table
  *     without the feed) FAILS LOUDLY — serving it would need a
  *     full-table diff; run [[SnapshotTable.readChanges]] as a batch
  *     job for those.
  *
  * A range (the batch's `[startingVersion, endingVersion]`, or one
  * micro-batch) plans as two reader roles through
  * [[SnapshotTable.planRole]], the path every snapshot scan plans
  * through: all of its commits' fresh data dirs, and all of its `_cdc`
  * dirs — two parquet builders per range, never one per commit.
  *
  * Streaming offsets are manifest versions (the
  * [[SnapshotMicroBatchStream]] discipline), so checkpointed restarts
  * resume exactly after the last served commit; `startingVersion` (its
  * own changes included) rewinds into history, default = changes after
  * the load-time head. 100 TB framing: a trigger's cost is the commit's
  * own change volume — the feed never rescans the table. */
private[graft] object SnapshotCdfScan {
  /** Why commit `s` can NEVER serve a change feed, or None when it can —
    * the ONE source of truth shared by plan-time refusal
    * ([[SnapshotCdfScan.commitDirs]]) and the STREAM's admission
    * walk ([[SnapshotCdfMicroBatchStream.latestOffset]], which must
    * refuse BEFORE Spark logs an offset covering the commit; refused
    * only at plan time, the logged batch would replay into the same
    * error forever). Inserting and no-data-change commits serve, and
    * change-file ones when they recorded it
    * ([[SnapshotTable.commitKind]]). */
  def unservableOp(root: String, s: SnapshotTable.Snapshot): Option[String] = {
    import SnapshotTable.CommitKind._
    (s.op, SnapshotTable.commitKind(s.op)) match {
      // a clone's v1 IS its table's initial content (served as inserts,
      // like create) — UNLESS it carries unresolved merge-on-read
      // deltas: base entries alone would include tombstoned/shadowed
      // rows, change-incomplete forever (v1 manifests are immutable)
      case ("clone", _) if s.deltas.nonEmpty => Some(
        s"change feed at $root: clone commit v${s.version} immutably " +
          s"carries ${s.deltas.size} unresolved merge-on-read delta " +
          "dir(s) — its feed can never serve v1; start the feed after " +
          "a compact (startingVersion >= the compact commit), or " +
          "re-clone from a compacted source")
      case (_, Inserts | NoDataChange) => None
      case (_, ChangeFile) if s.cdc.isDefined => None
      case (other, _) => Some(
        s"change feed hit commit v${s.version} (op=$other) at $root " +
          "with no recorded change data — enable changeFeed at create " +
          "for upsert/delete commits, and read overwrites/restores/" +
          "row-level rewrites with the batch SnapshotTable.readChanges " +
          "diff instead")
    }
  }
}

private[graft] class SnapshotCdfScan(snap: SnapshotTable.Snapshot,
    root: String, startingVersion: Option[Long],
    endingVersion: Option[Long],
    streamOpts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends Scan {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}

  private val tableSchema = StructType.fromDDL(snap.schemaDdl)
  // files (data dirs AND _cdc change files) store PHYSICAL column
  // names; physical names are immutable, so the pinned snapshot's
  // mapping reads every commit in the range. Output rows are
  // positional — readSchema stays the logical view.
  // existence defaults ride the change feed too: a CDF range spanning
  // an ADD COLUMN … DEFAULT serves pre-add commits' rows with the
  // frozen fill — the same value a table read of those rows returns
  // (per-file footer truth, post-add files verbatim)
  private val physTable = SnapshotTable.readSchemaMetaPhys(snap, tableSchema)
  private val cdcFileSchema = physTable
    .add(SnapshotTable.ChangeTypeCol, "string")

  override def readSchema(): StructType = tableSchema
    .add(SnapshotTable.ChangeTypeCol, "string")
    .add(SnapshotTable.CommitVersionCol, "long")
  override def description(): String =
    s"graft-snapshot v${snap.version} change feed"

  private def spark = SparkSession.active

  /** ONE commit's change dirs (`next` against its predecessor `prev`):
    * data dirs read verbatim as inserts, and the recorded `_cdc` dir.
    * Unservable commits refuse with [[SnapshotCdfScan.unservableOp]]'s
    * reason — the SAME check the streaming admission path runs BEFORE
    * logging an offset, so the plan-time error here only ever fires on
    * batch reads (a stream never logs past an unservable commit). */
  private def commitDirs(prev: Option[SnapshotTable.Snapshot],
      next: SnapshotTable.Snapshot): (Seq[String], Option[String]) = {
    SnapshotCdfScan.unservableOp(root, next).foreach(sys.error)
    SnapshotTable.commitKind(next.op) match {
      case SnapshotTable.CommitKind.Inserts =>
        val before = if (next.version == 1L) Nil
          else prev.getOrElse(sys.error(s"change feed needs version " +
            s"${next.version - 1} at $root (vacuumed?)")).entries
        (next.entries.map(_._2).diff(before.map(_._2)), None)
      // content-neutral rewrites and pure-metadata commits: no changes
      case SnapshotTable.CommitKind.NoDataChange => (Nil, None)
      // unservableOp admits the rest only with a recorded change file
      case _ => (Nil, next.cdc)
    }
  }

  /** The plan of every commit in `[fromV, toV]`, against the LIVE
    * manifest catalog (streaming sees commits newer than the pinned
    * snapshot): the range plans as TWO reader roles
    * ([[SnapshotTable.planRole]]) — every commit's raw data dirs, and
    * every `_cdc` dir — over the union of the range's `files=` lists,
    * and each commit's splits come back packed per commit, tagged with
    * its version. */
  private[sources] def rangePlan(fromV: Long, toV: Long)
      : (Array[InputPartition], PartitionReaderFactory) = {
    val byV =
      if (toV < fromV) Map.empty[Long, SnapshotTable.Snapshot]
      else SnapshotTable.versionWindow(spark, root,
        math.max(1L, fromV - 1), toV)
    val commits = (fromV to toV).map { v =>
      val next = byV.getOrElse(v, sys.error(
        s"change-feed version $v vanished from $root (vacuumed?)"))
      v -> commitDirs(byV.get(v - 1), next)
    }
    val files = byV.values.flatMap(_.dirFiles).toMap
    def role(dirs: Seq[String], schema: StructType) =
      SnapshotTable.planRole(dirs, files, schema, schema, Nil)
    val rawR = role(commits.flatMap(_._2._1), physTable)
    val cdcR = role(commits.flatMap(_._2._2), cdcFileSchema)
    (commits.flatMap { case (v, (raw, cdc)) =>
      rawR.packed(raw).map(
        CdfInputPartition(_, fromCdc = false, "insert", v)) ++
        cdcR.packed(cdc.toSeq).map(
          CdfInputPartition(_, fromCdc = true, null, v))
    }.toArray[InputPartition],
      new CdfReaderFactory(rawR.factory, cdcR.factory))
  }

  private lazy val batchRange: (Long, Long) = {
    val s = startingVersion.getOrElse(sys.error(
      "batch change-feed reads need option startingVersion (streaming " +
        "reads may omit it: they default to changes after the load)"))
    val e = endingVersion.getOrElse(snap.version)
    require(s >= 1 && s <= e,
      s"bad change-feed range [$s, $e] (have versions up to ${snap.version})")
    (s, e)
  }

  /** The batch range's one plan, on the scan: `executedPlan` plans a
    * clone of `sparkPlan` whose scan node asks for a new [[Batch]]. */
  private lazy val batchPlan = rangePlan(batchRange._1, batchRange._2)

  override def toBatch: Batch = {
    batchRange
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        batchPlan._1
      override def createReaderFactory(): PartitionReaderFactory =
        batchPlan._2
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(endingVersion.isEmpty,
      "endingVersion is a batch option; a stream is unbounded")
    new SnapshotCdfMicroBatchStream(root, this,
      startingVersion.map(_ - 1).getOrElse(snap.version), streamOpts)
  }
}

/** One partition of one commit's change rows: delegates the file read,
  * remembers how to decorate it (raw dirs get a constant `_change_type`;
  * `_cdc` dirs carry their own) and with which `_commit_version`. */
private[graft] case class CdfInputPartition(
    inner: org.apache.spark.sql.connector.read.InputPartition,
    fromCdc: Boolean, changeType: String, version: Long)
    extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Routes each partition to the matching parquet reader factory (table
  * schema vs table+_change_type schema) and appends the constant change
  * columns per row — row-mode only; the joined row is consumed before
  * the next advance. */
private[graft] class CdfReaderFactory(
    raw: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    cdc: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  import org.apache.spark.unsafe.types.UTF8String

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[CdfInputPartition]
    val innerReader = (if (cp.fromCdc) cdc else raw).createReader(cp.inner)
    val consts: Array[Any] =
      if (cp.fromCdc) Array(cp.version)
      else Array(UTF8String.fromString(cp.changeType), cp.version)
    val constRow = new GenericInternalRow(consts)
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = innerReader.next()
      override def get(): InternalRow = joined(innerReader.get(), constRow)
      override def close(): Unit = innerReader.close()
    }
  }
  override def supportColumnarReads(p: InputPartition): Boolean = false
}

/** Micro-batch stream over the change feed: offsets are manifest
  * versions, batch `(start, end]` serves each commit's recorded changes
  * ([[SnapshotCdfScan.rangePlan]]) — exactly-once across restarts
  * by the same offset discipline as the append-tailing source.
  *
  * ADMISSION CONTROL (`maxFilesPerTrigger` / `maxBytesPerTrigger` /
  * `maxRowsPerTrigger`, the Delta CDF rate-limit surface): a limited
  * batch admits whole COMMITS until the budget crosses — a CDF
  * backfill from `startingVersion=1` over a long history streams
  * through in bounded slices instead of one history-sized batch.
  * Budgets charge from the manifest: create/append/clone commits cost
  * their fresh dirs' recorded bytes/rows; a `_cdc`-bearing commit costs
  * one file of unknown size (its change file is not manifest-sized, so
  * under a byte/row budget it closes the batch — never starves: the
  * first costed commit always admits); metadata/compact/zorder commits
  * are free. Commits stay atomic in the feed (no sub-commit split —
  * one commit's change volume is bounded by its writer's own batch). */
private[graft] class SnapshotCdfMicroBatchStream(root: String,
    scan: SnapshotCdfScan, initial: Long,
    opts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active
  private def head(): Long =
    SnapshotTable.headVersion(spark, root).getOrElse(0L)

  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(head())

  /** A delta-bearing clone's v1 can never serve a change feed
    * (commitDirs refuses it — base entries alone are
    * change-incomplete). Refuse BEFORE any offset covering v1 is
    * logged: thrown at plan time the refusal would wedge the
    * checkpoint (the logged batch replays into the same error
    * forever, even after the advised compact). Clone commits only
    * exist at v1, so one manifest parse at feed start covers it. */
  private def refuseUnservableV1(): Unit =
    SnapshotTable.versionWindow(spark, root, 1L, 1L).get(1L)
      .flatMap(SnapshotCdfScan.unservableOp(root, _))
      .foreach(sys.error)

  override def initialOffset(): Offset = {
    if (initial == 0L && head() >= 1L) refuseUnservableV1()
    SnapshotOffset(initial)
  }

  override def latestOffset(): Offset = SnapshotOffset(head())
  override def reportLatestOffset(): Offset = SnapshotOffset(head())
  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(opts)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import StreamAdmission.{Budgets, charge}
    val a = start.asInstanceOf[SnapshotOffset].version
    val h = availableNowCap.fold(head())(math.min(head(), _))
    if (h <= a) return start
    if (a == 0L) refuseUnservableV1()
    val b = StreamAdmission.budgetsOf(limit)
    import StreamAdmission.satSum
    var endV = a
    var u = Budgets(0L, 0L, 0L)
    var open = true
    // chunked walk (StreamAdmission.WindowChunk): parse only as far as
    // the budget reaches — for an UNLIMITED trigger that is the whole
    // unserved window, which this trigger serves anyway (the walk is
    // what lets the unservable-commit refusal fire HERE, before the
    // offset is logged, instead of wedging the checkpoint at plan
    // time); ONE listing serves every chunk
    val fetch = SnapshotTable.versionLister(spark, root)
    var lo = a
    while (open && lo < h) {
      val chunkHi = math.min(h, lo + StreamAdmission.WindowChunk)
      val byV = fetch(math.max(1L, lo), chunkHi)
      def at(v: Long) = byV.getOrElse(v, sys.error(
        s"change-feed version $v vanished from $root (vacuumed?)"))
      var v = lo + 1
      while (open && v <= chunkHi) {
        val next = at(v)
        SnapshotCdfScan.unservableOp(root, next) match {
          case Some(reason) =>
            // serve and checkpoint everything BEFORE the unservable
            // commit first; only when it is the very next commit is
            // the stream truly stuck — refuse with the offset unlogged
            if (endV > a) open = false
            else sys.error(reason)
          case None =>
            // commit cost in (files, bytes, rows); None = free metadata
            val cost: Option[(Long, Long, Long)] =
              SnapshotTable.commitKind(next.op) match {
                case SnapshotTable.CommitKind.Inserts =>
                  val prev = if (v == 1L) Seq.empty
                    else at(v - 1).entries.map(_._2)
                  val fresh = next.entries.map(_._2).diff(prev)
                  Some((fresh.size.toLong,
                    satSum(fresh.map(d =>
                      next.dirBytes.getOrElse(d, Long.MaxValue))),
                    satSum(fresh.map(d =>
                      next.dirRows.getOrElse(d, Long.MaxValue)))))
                case SnapshotTable.CommitKind.NoDataChange => None
                // a recorded change file (unservableOp admits no other):
                // its commit-recorded bytes (round-14 manifests); legacy
                // manifests without them fill the byte budget whole
                case _ => Some((1L,
                  next.dirBytes.getOrElse(next.cdc.get, Long.MaxValue),
                  Long.MaxValue))
              }
            cost match {
              case None => endV = v
              case Some((cf, cb, cr)) =>
                if (!b.unlimited && b.exhaustedBy(u)) open = false
                else {
                  u = Budgets(u.files + cf, charge(b.bytes, u.bytes, cb),
                    charge(b.rows, u.rows, cr))
                  endV = v
                  if (!b.unlimited && b.exhaustedBy(u)) open = false
                }
            }
        }
        v += 1
      }
      lo = chunkHi
    }
    if (endV == a) start else SnapshotOffset(endV)
  }

  override def deserializeOffset(json: String): Offset = {
    val V = """\{"version":(\d+)\}""".r
    json.trim match {
      case V(n) => SnapshotOffset(n.toLong)
      case other => sys.error(s"bad snapshot offset: $other")
    }
  }

  /** The last planned range `(start, end]` and its plan
    * ([[SnapshotCdfScan.rangePlan]]): a batch is planned once however
    * often Spark asks for its partitions. */
  private var planned: Option[((Long, Long),
    (Array[InputPartition], PartitionReaderFactory))] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = synchronized {
    val range = (start.asInstanceOf[SnapshotOffset].version + 1,
      end.asInstanceOf[SnapshotOffset].version)
    planned.filter(_._1 == range).map(_._2).getOrElse {
      val p = scan.rangePlan(range._1, range._2)
      planned = Some(range -> p)
      p
    }._1
  }

  /** The planned range's factory: Spark asks a micro-batch scan for its
    * partitions before its factory. */
  override def createReaderFactory(): PartitionReaderFactory =
    synchronized(planned.fold[PartitionReaderFactory](
      SnapshotTable.NoPartitionsReaderFactory)(_._2._2))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
