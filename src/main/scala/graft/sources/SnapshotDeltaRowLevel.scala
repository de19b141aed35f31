package graft.sources

import org.apache.spark.sql.{GraftParquetWriteBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Murmur3Hash, Pmod, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Delta-based (merge-on-read) row-level operations — the connector
  * half of Spark's `SupportsDelta` protocol (SPARK-35801's second
  * shape; Iceberg's `write.update.mode = merge-on-read`), selected by
  * the sticky table property `rowlevelmode = 'merge-on-read'`
  * ([[SnapshotCatalogTable.newRowLevelOperationBuilder]]).
  *
  * Where the group-based operation ([[SnapshotRowLevelOperation]])
  * REWRITES every scanned group — a wide-predicate MERGE on a 100 TB
  * table degrades to a full rewrite — this one writes O(matched):
  * Spark plans the operation over only the MATCHED rows, each tagged
  * with its positional row identity (the `_sdv_file`/`_sdv_pos`
  * metadata columns the scan synthesizes, [[SnapshotPosScan]]), and
  * hands the connector per-row delta actions:
  *
  *   - `delete(id)` → a positional tombstone `(file-suffix, row_index)`
  *     — the same `pos` delta layer `deleteWhere(mergeOnRead)` writes;
  *   - `update(id, row)` → that tombstone plus the replacement row;
  *   - `insert(row)` → a new data row.
  *
  * ONE commit publishes both sides: replacement/insert rows join the
  * manifest as ordinary entries (key-hash bucketed, partition-dir
  * projected — full pruning from day one), tombstones join as
  * per-bucket `pos` deltas resolved by every read path until
  * compaction folds them. Positional identity makes this exact for
  * keyed AND keyless tables, including blind-append duplicate keys
  * (each physical copy dies or survives individually — equality-style
  * key tombstones could not say that).
  *
  * Scan-side requirements: positions are defined on base files only,
  * so the operation's scan serves snapshots whose pending deltas are
  * all positional (the previous MOR DML's own output — consecutive
  * merge-on-read statements compose) and refuses key-EVENT layers
  * (compact first), [[SnapshotScanBuilder]]'s identity gate.
  *
  * Concurrency: positions pin the scanned snapshot's files, so the
  * commit is optimistic — the base version must still be current at
  * publish ([[SnapshotTable.commitWriteDelta]]), the same discipline
  * as the group-replacement commit. */
private[sources] class SnapshotDeltaRowLevelOperation(root: String,
    snapshot: SnapshotTable.Snapshot, cmd: Command)
    extends RowLevelOperation with SupportsDelta {

  private val tableSchema = StructType.fromDDL(snapshot.schemaDdl)

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(snapshot, tableSchema, root)

  /** Positional row identity — resolved against the table's metadata
    * columns ([[SnapshotV2Table.metadataColumns]]). */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(SnapshotTable.PosFileCol),
    Expressions.column(SnapshotTable.PosPosCol))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new SnapshotDeltaWrite(root, snapshot, cmd, info)
    }

  override def description(): String =
    s"graft-snapshot ${cmd.toString.toLowerCase}-delta v${snapshot.version}"
}

/** The delta write: replacement/insert rows stage like any batch write
  * (`data/c{v}-{uuid}/_gb={b}[/part dirs]`), positional tombstones
  * stage under the underscore-hidden `_pos/_gb={b}` twin (invisible to
  * entry readers, the `_cdc` precedent); ONE manifest publish registers
  * both. */
private[sources] class SnapshotDeltaWrite(root: String,
    snapshot: SnapshotTable.Snapshot, cmd: Command,
    info: LogicalWriteInfo)
    extends DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** Cluster replacement/insert rows by the table's bucket transform so
    * one task owns each bucket's new file. A pure DELETE plans no row
    * columns at all, so there is nothing to cluster by; keyless tables
    * have a single bucket. Tombstones riding the same shuffle land
    * wherever their task runs — they are O(matched) metadata, merged
    * per bucket at read by the dead-set drain, so their file count is
    * bounded by tasks, not correctness. */
  override def requiredDistribution(): Distribution =
    if (snapshot.keys.isEmpty || cmd == Command.DELETE)
      Distributions.unspecified()
    else Distributions.clustered(Array(
      Expressions.bucket(snapshot.buckets, snapshot.keys: _*)))

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val spark = SparkSession.active
    private val uuid = SnapshotTable.freshUuid()
    private val stageDir = SnapshotTable.stagingCommitDir(spark, root,
      snapshot.version + 1, uuid)
    // write-task stats: data dirs record the table's stats columns and
    // key bloom, tombstone dirs only their row counts
    private val dataStats = new SnapshotWriteStats.Spec(
      snapshot.physicalSchema(snapshot.schemaDdl), snapshot.statsCols,
      snapshot.keys)
    private val posStats = new SnapshotWriteStats.Spec(
      SnapshotTable.posTombSchema, Nil, Nil)

    override def createBatchWriterFactory(
        pInfo: PhysicalWriteInfo): DeltaWriterFactory =
      new SnapshotDeltaWriterFactory(stageDir, snapshot.schemaDdl,
        snapshot.keys, snapshot.buckets, dataStats, posStats,
        GraftParquetWriteBridge.rowFileWriterFactory(spark,
          snapshot.physicalSchema(snapshot.schemaDdl)),
        GraftParquetWriteBridge.rowFileWriterFactory(spark,
          SnapshotTable.posTombSchema),
        SnapshotTable.boundPartExprs(spark, snapshot.schemaDdl,
          snapshot.partSpec))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val dirs = messages.toSeq.flatMap {
        case m: SnapshotDeltaCommitMessage => m.dirs
      }
      val staged = dirs.map { case (p, b, rel, _) => (p, b, rel) }
        .distinct.sorted
      val written = dirs.groupBy(_._1).flatMap { case (isPos, ds) =>
        (if (isPos) posStats else dataStats).mergeAll(ds.iterator.map {
          case (_, _, rel, d) => s"$stageDir/$rel" -> d })
      }
      val fsys = LocalFs.resolve(new org.apache.hadoop.fs.Path(stageDir),
        spark.sessionState.newHadoopConf())
      fsys.delete(new org.apache.hadoop.fs.Path(stageDir, "_temp"), true)
      val dataDirs = staged.collect { case (false, b, rel) =>
        b -> s"$stageDir/$rel" }.toSeq
      val posDirs = staged.collect { case (true, b, rel) =>
        b -> s"$stageDir/$rel" }.toSeq
      val opName = cmd match {
        case Command.DELETE => "delete-delta"
        case Command.UPDATE => "update-delta"
        case Command.MERGE => "merge-delta"
      }
      try SnapshotTable.commitWriteDelta(spark, root, snapshot,
        dataDirs, posDirs, dataStats, posStats, written, opName, uuid)
      catch { case e: Throwable =>
        fsys.delete(new org.apache.hadoop.fs.Path(stageDir), true)
        throw e
      }
      if (dataDirs.isEmpty && posDirs.isEmpty)
        fsys.delete(new org.apache.hadoop.fs.Path(stageDir), true)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fsys = LocalFs.resolve(new org.apache.hadoop.fs.Path(stageDir),
        spark.sessionState.newHadoopConf())
      fsys.delete(new org.apache.hadoop.fs.Path(stageDir), true)
      ()
    }
  }

  override def description(): String =
    s"graft-snapshot write-delta $root"
}

private[sources] object SnapshotDeltaRowLevel {
  /** Physical bucket a tombstoned position belongs to: the `_gb=<b>`
    * segment of its commit-relative file suffix. For current-layout
    * files this IS the key-hash bucket; for historical-layout files it
    * is the layout bucket the dir is registered under — exactly the
    * identity [[SnapshotTable.hitClosure]] reasons about, so targeted
    * compaction folds these lines safely. */
  private val BucketRe = java.util.regex.Pattern.compile("/_gb=(\\d+)/")

  def bucketOfSuffix(suffix: String): Int = {
    val m = BucketRe.matcher(suffix)
    require(m.find(), s"no _gb segment in tombstone file suffix $suffix")
    m.group(1).toInt
  }
}

/** Staged (isPos, bucket, relative dir, write stats) tuples one task's
  * files landed in. */
private[sources] case class SnapshotDeltaCommitMessage(
    dirs: Seq[(Boolean, Int, String, SnapshotWriteStats.Dir)])
    extends WriterCommitMessage

private[sources] class SnapshotDeltaWriterFactory(stageDir: String,
    schemaDdl: String, keys: Seq[String], buckets: Int,
    dataStats: SnapshotWriteStats.Spec, posStats: SnapshotWriteStats.Spec,
    dataFiles: GraftParquetWriteBridge.RowFileWriterFactory,
    tombFiles: GraftParquetWriteBridge.RowFileWriterFactory,
    partExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new SnapshotDeltaDataWriter(stageDir, schemaDdl, keys, buckets,
      dataStats, posStats, dataFiles, tombFiles, partitionId, taskId,
      partExprs)
}

/** Executor-side delta writer: replacement/insert rows land in
  * per-(bucket, partition-suffix) parquet files, tombstones in
  * per-bucket `_pos` files; everything stages in a task-private temp
  * dir renamed at task commit (output-coordinator protected, like the
  * group-replacement writers). */
private[sources] class SnapshotDeltaDataWriter(stageDir: String,
    schemaDdl: String, keys: Seq[String], buckets: Int,
    dataStats: SnapshotWriteStats.Spec, posStats: SnapshotWriteStats.Spec,
    dataFiles: GraftParquetWriteBridge.RowFileWriterFactory,
    tombFiles: GraftParquetWriteBridge.RowFileWriterFactory,
    partitionId: Int, taskId: Long,
    partExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DeltaWriter[InternalRow] {

  import org.apache.hadoop.fs.Path

  private val schema = StructType.fromDDL(schemaDdl)

  /** Delta rows arrive ALREADY projected to the table schema (the
    * WriteDelta protocol's rowProjection), so binds are zero-offset. */
  private val bucketProj =
    if (keys.isEmpty) null
    else UnsafeProjection.create(Seq(Pmod(Murmur3Hash(keys.map { k =>
      val i = schema.fieldIndex(k)
      BoundReference(i, schema(i).dataType, nullable = true)
    }, 42), Literal(buckets))))
  private val partProj =
    if (partExprs.isEmpty) null
    else UnsafeProjection.create(partExprs.map(_._2).toIndexedSeq)
  private val tombProj = UnsafeProjection.create(Seq(
    BoundReference(0, org.apache.spark.sql.types.StringType,
      nullable = false),
    BoundReference(1, org.apache.spark.sql.types.LongType,
      nullable = false)): Seq[org.apache.spark.sql.catalyst.expressions.Expression])

  private def bucketOf(row: InternalRow): Int =
    if (bucketProj == null) 0 else bucketProj(row).getInt(0)

  private def dirSuffix(row: InternalRow): String =
    if (partProj == null) ""
    else {
      val r = partProj(row)
      val sb = new StringBuilder
      var i = 0
      while (i < partExprs.length) {
        sb.append('/').append(SnapshotTable.PartPrefix)
          .append(partExprs(i)._1).append('=')
          .append(if (r.isNullAt(i)) SnapshotTable.PartNullDir
            else r.getUTF8String(i).toString)
        i += 1
      }
      sb.toString
    }

  private val tmpDir = s"$stageDir/_temp/$partitionId-$taskId"
  // staged rel dir -> (isPos, bucket, tmp ordinal, writer, write stats)
  private val open = scala.collection.mutable.Map.empty[String, (Boolean,
    Int, Int, GraftParquetWriteBridge.RowFileWriter, SnapshotWriteStats.Dir)]

  /** Write `row` into staged dir `rel` and fold it into the dir's
    * stats. */
  private def writeTo(isPos: Boolean, b: Int, rel: String,
      row: InternalRow): Unit = {
    val (files, stats) =
      if (isPos) (tombFiles, posStats) else (dataFiles, dataStats)
    val (_, _, _, w, st) = open.getOrElseUpdate(rel, {
      val n = open.size
      (isPos, b, n, files.open(s"$tmpDir/f$n.parquet", partitionId, taskId),
        stats.newDir())
    })
    w.write(row)
    stats.update(st, row)
  }

  override def insert(row: InternalRow): Unit = {
    val b = bucketOf(row)
    val rel = s"${SnapshotTable.bucketDirName(b)}${dirSuffix(row)}"
    writeTo(isPos = false, b, rel, row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    require(id.numFields == 2,
      s"positional rowId must be (file, pos): ${id.numFields} fields")
    val suffix = id.getUTF8String(0).toString
    val b = SnapshotDeltaRowLevel.bucketOfSuffix(suffix)
    val rel = s"_pos/${SnapshotTable.bucketDirName(b)}"
    writeTo(isPos = true, b, rel, tombProj(id))
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._4.close())
    val fsys = LocalFs.resolve(new Path(stageDir), dataFiles.hadoopConf)
    open.foreach { case (rel, (_, _, n, _, _)) =>
      val dest = new Path(stageDir,
        s"$rel/part-$partitionId-$taskId.parquet")
      fsys.mkdirs(dest.getParent)
      require(fsys.rename(new Path(s"$tmpDir/f$n.parquet"), dest),
        s"failed to move staged file into $dest")
    }
    fsys.delete(new Path(tmpDir), true)
    SnapshotDeltaCommitMessage(open.toSeq.map {
      case (rel, (p, b, _, _, st)) => (p, b, rel, st)
    })
  }

  override def abort(): Unit = {
    open.values.foreach { case (_, _, _, w, _) =>
      try w.close() catch { case _: Throwable => () } }
    val fsys = LocalFs.resolve(new Path(tmpDir), dataFiles.hadoopConf)
    fsys.delete(new Path(tmpDir), true)
    ()
  }

  override def close(): Unit = ()
}
