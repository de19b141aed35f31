package graft.sources

import org.apache.spark.sql.{GraftParquetWriteBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Murmur3Hash, Pmod, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations for the snapshot
  * format — the connector half of Spark's `UPDATE` / `MERGE INTO` /
  * residual `DELETE` SQL support (SPARK-35801, the Iceberg
  * copy-on-write shape).
  *
  * Protocol (Spark's `RewriteUpdateTable` / `RewriteMergeIntoTable`):
  * the TABLE exposes [[SnapshotRowLevelOperation]]; Spark plans ONE scan
  * of the affected groups through [[SnapshotScanBuilder]] — so the
  * operation inherits every read-side pruning this connector has (static
  * key-bucket + stats pruning from pushed predicates, runtime group
  * filtering from Spark's matching-rows subquery) — computes the
  * replacement rows (updated + carried + inserted), and hands them to
  * this WRITE. The write streams them to parquet under an uncommitted
  * staging commit dir, re-clustered into the table's key-hash bucket
  * layout, and the commit publishes ONE manifest swapping the scanned
  * dirs for the staged ones ([[SnapshotTable.commitReplace]]).
  *
  * Scale shape: replaced bytes = the dirs the scan was pruned to. A
  * point `UPDATE … WHERE key = x` rewrites 1/buckets of the table; a
  * MERGE whose runtime group filter pins ≤ 4096 key tuples rewrites only
  * the matched buckets; an unpruned MERGE degrades to a full rewrite —
  * never to corruption, because the replaced set is read off the SAME
  * scan instance that fed the query ([[SnapshotScan.currentEntries]],
  * captured after runtime narrowing). Rows are shuffled to writers by
  * the catalog's own `bucket` function ([[SnapshotBucketFunction]] via
  * [[RequiresDistributionAndOrdering]]), so each bucket's replacement is
  * written by one task — file count stays O(buckets) per statement at
  * any cluster size. */
private[sources] class SnapshotRowLevelOperation(root: String,
    snapshot: SnapshotTable.Snapshot, cmd: Command)
    extends RowLevelOperation {

  private val tableSchema = StructType.fromDDL(snapshot.schemaDdl)

  /** The scan Spark built for this operation — its post-pruning dir
    * list IS the replaced-group set at commit. */
  @volatile private[sources] var builtScan: SnapshotScan = _

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(snapshot, tableSchema, root,
        runtimeFilterKeysOnly = true) {
      override def build() = {
        val s = super.build().asInstanceOf[SnapshotScan]
        builtScan = s
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new SnapshotReplaceDataWrite(root, snapshot,
          SnapshotRowLevelOperation.this, info)
    }

  override def description(): String =
    s"graft-snapshot ${cmd.toString.toLowerCase} v${snapshot.version}"
}

/** The replacement write: stages executor-written parquet under
  * `data/c{v}-{uuid}/_gb={b}/`, then commits by manifest swap. */
private[sources] class SnapshotReplaceDataWrite(root: String,
    snapshot: SnapshotTable.Snapshot, op: SnapshotRowLevelOperation,
    info: LogicalWriteInfo)
    extends Write with RequiresDistributionAndOrdering {

  private val tableSchema = StructType.fromDDL(snapshot.schemaDdl)
  require(info.schema.fields.map(_.name).sameElements(
    tableSchema.fields.map(_.name)),
    s"row-level write schema ${info.schema.toDDL} does not match table " +
      s"schema ${snapshot.schemaDdl}")

  /** Cluster replacement rows by the table's own bucket transform (the
    * catalog resolves it to the writer's exact hash), so one task owns
    * each bucket's replacement file. Keyless tables: single bucket 0,
    * any distribution works. */
  override def requiredDistribution(): Distribution =
    if (snapshot.keys.isEmpty) Distributions.unspecified()
    else Distributions.clustered(Array(
      Expressions.bucket(snapshot.buckets, snapshot.keys: _*)))

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    private val spark = SparkSession.active
    private val uuid = SnapshotTable.freshUuid()
    private val stageDir = SnapshotTable.stagingCommitDir(spark, root,
      snapshot.version + 1, uuid)
    // stats, row counts and key blooms of the staged dirs, collected by
    // the writer tasks over the physical rows they write
    private val stats = new SnapshotWriteStats.Spec(
      snapshot.physicalSchema(snapshot.schemaDdl), snapshot.statsCols,
      snapshot.keys)

    override def createBatchWriterFactory(
        pInfo: PhysicalWriteInfo): DataWriterFactory =
      new SnapshotReplaceWriterFactory(stageDir, snapshot.schemaDdl,
        snapshot.keys, snapshot.buckets, stats,
        // files land under PHYSICAL column names (column mapping);
        // incoming rows are positional, so only the writer's schema
        // labels change
        GraftParquetWriteBridge.rowFileWriterFactory(spark,
          snapshot.physicalSchema(snapshot.schemaDdl)),
        // partition dir values: resolved once here, projected per row
        // on the executors, so replacement dirs keep the table's
        // partition granularity (and its guaranteed pruning)
        SnapshotTable.boundPartExprs(spark, snapshot.schemaDdl,
          snapshot.partSpec))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val scan = op.builtScan
      require(scan != null,
        "row-level write committed without its group scan — refusing " +
          "a replacement whose replaced set is unknown")
      val dirs = messages.toSeq.flatMap {
        case m: SnapshotReplaceCommitMessage => m.dirs
      }
      val staged = dirs.map { case (b, rel, _) => (b, rel) }
        .distinct.sorted.map { case (b, rel) => b -> s"$stageDir/$rel" }
      val written = stats.mergeAll(dirs.iterator.map { case (_, rel, d) =>
        s"$stageDir/$rel" -> d })
      // temp attempt dirs stay out of the registered bucket dirs; sweep
      // them before the manifest makes the commit dir live
      val fsys = LocalFs.resolve(new org.apache.hadoop.fs.Path(stageDir),
        spark.sessionState.newHadoopConf())
      fsys.delete(new org.apache.hadoop.fs.Path(stageDir, "_temp"), true)
      val opName = op.command() match {
        case Command.DELETE => "delete"
        case Command.UPDATE => "update"
        case Command.MERGE => "merge"
      }
      try SnapshotTable.commitReplace(spark, root, snapshot,
        scan.currentEntries.map(_._2).toSet, staged, stats, written,
        opName, uuid)
      catch { case e: Throwable =>
        fsys.delete(new org.apache.hadoop.fs.Path(stageDir), true)
        throw e
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fsys = LocalFs.resolve(new org.apache.hadoop.fs.Path(stageDir),
        spark.sessionState.newHadoopConf())
      fsys.delete(new org.apache.hadoop.fs.Path(stageDir), true)
      ()
    }
  }

  override def description(): String = s"graft-snapshot replace-data $root"
}

/** Staged (bucket, relative dir, write stats) triples one task's files
  * landed in — dir-granular so partitioned tables register one entry
  * per partition value dir. */
private[sources] case class SnapshotReplaceCommitMessage(
    dirs: Seq[(Int, String, SnapshotWriteStats.Dir)])
    extends WriterCommitMessage

/** Executor-side writers: rows land in per-bucket parquet files under a
  * task-private temp dir, renamed into the staged bucket dirs at TASK
  * commit — Spark's output commit coordinator admits one attempt per
  * partition, so speculative/retried attempts never leak a file into a
  * registered dir. */
private[sources] class SnapshotReplaceWriterFactory(stageDir: String,
    schemaDdl: String, keys: Seq[String], buckets: Int,
    stats: SnapshotWriteStats.Spec,
    files: GraftParquetWriteBridge.RowFileWriterFactory,
    partExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new SnapshotReplaceDataWriter(stageDir, schemaDdl, keys, buckets,
      stats, files, partitionId, taskId, partExprs)
}

private[sources] class SnapshotReplaceDataWriter(stageDir: String,
    schemaDdl: String, keys: Seq[String], buckets: Int,
    stats: SnapshotWriteStats.Spec,
    files: GraftParquetWriteBridge.RowFileWriterFactory,
    partitionId: Int, taskId: Long,
    partExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty)
    extends DataWriter[InternalRow] {

  import org.apache.hadoop.fs.Path

  private val schema = StructType.fromDDL(schemaDdl)

  /** Leading columns to drop from incoming rows. Spark's group-based
    * `ReplaceData` query PREPENDS the constant `__row_operation` marker
    * (`RowDeltaUtils.OPERATION_COLUMN`), and the plain
    * `DataWritingSparkTask` hands rows through WITHOUT applying the
    * plan's row projection — `ReplaceDataExec.writingTask` only projects
    * when the operation declares metadata attributes (ours declares
    * none). For ReplaceData the marker is a constant keep-row value
    * (WRITE / WRITE_WITH_METADATA — per-row DELETE/UPDATE markers exist
    * only in the `WriteDelta` protocol), so dropping it by position is
    * exact. Gated hard: anything but a 0/1-column prefix refuses the
    * write. */
  private def prefixOf(row: InternalRow): Int = {
    val off = row.numFields - schema.fields.length
    require(off == 0 || off == 1,
      s"replacement row has ${row.numFields} fields for a " +
        s"${schema.fields.length}-column table schema — unexpected plan " +
        "shape, refusing to write misaligned rows")
    off
  }

  /** Bucket hash + table-schema alignment for one already-probed prefix
    * offset: the writer path's exact bucket expression
    * ([[SnapshotTable.bucketOf]]: Murmur3 seed 42, pmod) and, when the
    * marker prefix is present, a projection dropping it. */
  private class Lane(off: Int) {
    private val bucketProj =
      if (keys.isEmpty) null
      else UnsafeProjection.create(Seq(Pmod(Murmur3Hash(keys.map { k =>
        val i = schema.fieldIndex(k)
        BoundReference(i + off, schema(i).dataType, nullable = true)
      }, 42), Literal(buckets))))
    private val alignProj =
      if (off == 0) null
      else UnsafeProjection.create(schema.fields.zipWithIndex.map {
        case (f, i) => BoundReference(i + off, f.dataType, nullable = true)
      }.toIndexedSeq)
    // partition dir values: the SAME resolved expressions the batch
    // write paths project ([[SnapshotTable.boundPartExprs]]), ordinals
    // shifted past the marker prefix; outputs are dir-safe by the
    // identity self-encoding, so the suffix needs no further escaping
    private val partProj =
      if (partExprs.isEmpty) null
      else UnsafeProjection.create(partExprs.map(_._2.transform {
        case b: BoundReference => b.copy(ordinal = b.ordinal + off)
      }).toIndexedSeq)
    def bucket(row: InternalRow): Int =
      if (bucketProj == null) 0 else bucketProj(row).getInt(0)
    def align(row: InternalRow): InternalRow =
      if (alignProj == null) row else alignProj(row)
    def dirSuffix(row: InternalRow): String =
      if (partProj == null) ""
      else {
        val r = partProj(row)
        val sb = new StringBuilder
        var i = 0
        while (i < partExprs.length) {
          // the field's PERMANENT segment number, not its position —
          // spec evolution retires numbers, never reuses them
          sb.append('/').append(SnapshotTable.PartPrefix)
            .append(partExprs(i)._1).append('=')
            .append(if (r.isNullAt(i)) SnapshotTable.PartNullDir
              else r.getUTF8String(i).toString)
          i += 1
        }
        sb.toString
      }
  }

  private var lane: Lane = _

  private val tmpDir = s"$stageDir/_temp/$partitionId-$taskId"
  // staged dir (bucket + partition suffix) -> (tmp file ordinal,
  // writer, the dir's write stats)
  private val open = scala.collection.mutable.Map.empty[(Int, String),
    (Int, GraftParquetWriteBridge.RowFileWriter, SnapshotWriteStats.Dir)]

  override def write(row: InternalRow): Unit = {
    if (lane == null) lane = new Lane(prefixOf(row))
    val key = (lane.bucket(row), lane.dirSuffix(row))
    val (_, w, st) = open.getOrElseUpdate(key, {
      val n = open.size
      (n, files.open(s"$tmpDir/f$n.parquet", partitionId, taskId),
        stats.newDir())
    })
    val aligned = lane.align(row)
    w.write(aligned)
    stats.update(st, aligned)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._2.close())
    val fsys = LocalFs.resolve(new Path(stageDir), files.hadoopConf)
    open.foreach { case ((b, suffix), (n, _, _)) =>
      val rel = s"${SnapshotTable.bucketDirName(b)}$suffix"
      val dest = new Path(stageDir,
        s"$rel/part-$partitionId-$taskId.parquet")
      fsys.mkdirs(dest.getParent)
      require(fsys.rename(new Path(s"$tmpDir/f$n.parquet"), dest),
        s"failed to move staged file into $dest")
    }
    fsys.delete(new Path(tmpDir), true)
    SnapshotReplaceCommitMessage(open.toSeq.map {
      case ((b, suffix), (_, _, st)) =>
        (b, s"${SnapshotTable.bucketDirName(b)}$suffix", st)
    })
  }

  override def abort(): Unit = {
    open.values.foreach { case (_, w, _) =>
      try w.close() catch { case _: Throwable => () } }
    val fsys = LocalFs.resolve(new Path(tmpDir), files.hadoopConf)
    fsys.delete(new Path(tmpDir), true)
    ()
  }

  override def close(): Unit = ()
}
