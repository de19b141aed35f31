package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{GraftParquetBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.StructType

/** Resolution-aware DSv2 scan for snapshots that carry unresolved
  * merge-on-read deltas — the one key-event replay of the format: SQL
  * readers (everything that arrives through `spark.read.format /
  * SnapshotCatalog`) and the object API's reads and prior-state reads
  * ([[SnapshotTable.resolvedRead]] sends its delta-bearing buckets
  * here) all see resolved content through it. The "reader supports
  * format-v2 deletes" step, in Iceberg terms.
  *
  * Plan shape — planned ONCE per scan, one reader role at a time
  * ([[SnapshotTable.planRole]]: clean base, dirty base, delta rows,
  * keyed tombstones, positional tombstones), each over the union of its
  * dirs with one file index and one parquet ScanBuilder, its splits
  * routed back per dir, bucket and seq:
  *   - buckets WITHOUT deltas plan exactly like [[SnapshotScan]]: the
  *     delegated vectorized ParquetScan over their pruned dirs, pushed
  *     filters and all, packed back into one keyed partition per small
  *     bucket — the clean path pays ZERO resolution cost;
  *   - each delta-bearing bucket becomes ONE [[MorInputPartition]]
  *     bundling its base file splits (each stamped with its
  *     commit's version) plus its delta-row and tombstone splits
  *     (stamped with their event seq). The partition reader first
  *     drains the SMALL delta side into an in-memory per-key
  *     newest-event table, then streams the base files, dropping rows
  *     whose key has a newer event, then emits the surviving delta
  *     rows — O(bucket's delta bytes) executor memory, the same
  *     residency bound a Delta deletion-vector reader carries, never a
  *     shuffle.
  *
  * Pruning soundness under replay:
  *   - base dirs keep full bucket+stats pruning: a pruned base row
  *     either fails the (fully residual) filters post-resolution or is
  *     shadowed — dropping it early can only save work;
  *   - delta dirs prune by KEY-HASH BUCKET only, never by stats: a
  *     delta row is also an EVENT that shadows older rows of its key,
  *     so filtering it out of the read would resurrect them. For the
  *     same reason pushed filters go into BASE reads only;
  *   - runtime (join-time) filtering is NOT advertised — its bucket
  *     narrowing would be sound but its stats narrowing would not, and
  *     the split isn't worth the surface; compaction restores the fully
  *     pruned [[SnapshotScan]] path.
  *
  * Storage-partitioned joins still hold: every partition is keyed by
  * its bucket ([[KeyedInputPartition]] semantics — a delta-bearing
  * bucket's partition contains ALL rows of its keys), so the scan
  * reports the same `KeyGroupedPartitioning` as the clean scan.
  *
  * POSITIONAL tombstones (`posDeltas`, written by `deleteWhere
  * mergeOnRead` and the delta-based SQL DML) may coexist with the event
  * kinds: when present, base and delta-row reads additionally carry the
  * parquet row-index column and are split per file, and each replay
  * partition drains its buckets' recorded `(file-suffix, row_index)`
  * pairs into a dead-set. A tombstone removes one physical row and
  * nothing else, as a Delta deletion vector or an Iceberg position
  * delete does: a dead base row is dropped; a dead delta row still
  * records its key's event (the versions it shadowed stay shadowed) but
  * is never emitted. Buckets whose only deltas are positional still pay
  * the replay-partition shape here (empty event side, dead-set only); a
  * table with NO event deltas routes to the cheaper [[SnapshotPosScan]].
  *
  * ROW IDENTITY: when `required` asks for `_sdv_file` / `_sdv_pos`
  * (provenance, or the delta-based SQL DML's positional rowId), every
  * bucket plans as a replay class (no clean keyed partitions), base and
  * delta-row reads carry the row index, and each emitted row carries
  * its own file's suffix and row index — a surviving delta row its
  * delta file's. */
private[graft] class SnapshotMorScan(snap: SnapshotTable.Snapshot,
    tableSchema: StructType, required: StructType,
    catalystFilters: Seq[Expression],
    baseEntries: Seq[(Int, String)],
    deltas: Seq[SnapshotTable.DeltaEntry],
    root: String, ignoreChanges: Boolean,
    streamOpts: SnapshotStreamOptions = SnapshotStreamOptions(),
    posDeltas: Seq[SnapshotTable.DeltaEntry] = Seq.empty)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  require(snap.keys.nonEmpty, "merge-on-read deltas imply a keyed table")
  require(deltas.forall(_.kind != "pos") && posDeltas.forall(_.kind == "pos"),
    "positional deltas ride the posDeltas parameter, event kinds in deltas")

  private val hasPos = posDeltas.nonEmpty
  private val identity =
    required.fieldNames.exists(SnapshotTable.IdentityCols)
  /** Base and delta-row reads carry the parquet row index. */
  private val readsIdx = hasPos || identity

  /** Base/delta read schema: the required data columns plus any key
    * columns the projection pruned away (resolution needs them), in
    * table-schema order so the executor-side projections bind by stable
    * index. */
  private val withKeys: StructType = StructType(tableSchema.fields.filter(
    f => required.fieldNames.contains(f.name) || snap.keys.contains(f.name)))

  /** Reader-side row layout: JoinedRow([withKeys..., row index when
    * read], [file suffix]); one bind per required output field. */
  private val rowTypes = (if (readsIdx)
    GraftParquetBridge.withRowIndex(withKeys) else withKeys)
    .fields.map(_.dataType) :+ org.apache.spark.sql.types.StringType
  private val outBinds: Array[Int] = required.fieldNames.map {
    case SnapshotTable.PosPosCol => withKeys.length
    case SnapshotTable.PosFileCol => rowTypes.length - 1
    case n => withKeys.fieldIndex(n)
  }

  private val keySchema: StructType =
    StructType(tableSchema.fields.filter(f => snap.keys.contains(f.name)))

  /** Files store PHYSICAL names (column mapping): the delegated scans
    * read physicalized schemas with renamed pushed filters and the
    * manifest's existence defaults — the only default metadata allowed
    * to reach the parquet plane: pre-add base/delta files fill the
    * frozen ADD COLUMN value per footer truth
    * ([[SnapshotTable.readSchemaMetaPhys]]). Output rows are positional,
    * so the replay projections bind unchanged. */
  private def metaFor(st: StructType): StructType =
    SnapshotTable.readSchemaMetaPhys(snap, st)

  private val physFilters = SnapshotTable.physFilters(snap, catalystFilters)

  /** One reader role over `dirs` ([[SnapshotTable.planRole]]): base and
    * delta-row roles read `schema` (plus the row index under positional
    * tombstones or identity reads); only base roles take the pushed
    * filters. */
  private def role(dirs: Seq[String], schema: StructType,
      pushFilters: Boolean, withIdx: Boolean = false)
      : SnapshotTable.PlannedRole = {
    // the parquet row index rides LAST, so every prefix-bound
    // projection is position-stable
    def read(st: StructType) =
      metaFor(if (withIdx) GraftParquetBridge.withRowIndex(st) else st)
    SnapshotTable.planRole(dirs, snap.dirFiles, read(tableSchema),
      read(schema), if (pushFilters) physFilters else Nil)
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-snapshot v${snap.version} merge-on-read " +
      s"(${baseEntries.size} base dirs, ${deltas.size} delta dirs" +
      (if (hasPos) s", ${posDeltas.size} pos tombstone dirs)" else ")")

  /** Commit version encoded in a bucket-dir path (driver-side twin of
    * the read-path file parse; end-anchored so user path segments can't
    * alias). */
  private def seqOfDir(dir: String): Long = {
    // value-dir segments after the bucket: `_pt{i}=v` partition values
    // and/or a `_zs=k` z-order slice
    val m = java.util.regex.Pattern
      .compile("c(\\d+)-[^/]+/_gb=\\d+(?:/[^/]+=[^/]+)*$").matcher(dir)
    require(m.find(), s"cannot parse commit version from dir $dir")
    m.group(1).toLong
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val buckets = (baseEntries.map(_._1) ++ deltas.map(_.bucket) ++
      posDeltas.map(_.bucket)).distinct
    // mid-migration mixed layouts have no single bucket transform
    if (snap.mixedLayout) new UnknownPartitioning(buckets.size)
    else new KeyGroupedPartitioning(
      Array(Expressions.bucket(snap.buckets, snap.keys: _*)), buckets.size)
  }

  /** Upper bounds: tombstones subtract and replacements shadow at
    * read, which planner statistics may legitimately overestimate. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    SnapshotTable.dirStatistics(snap,
      baseEntries.map(_._2) ++ deltas.map(_.dir))

  /** The scan's one plan (it reads one pinned snapshot, so planning
    * once per scan is planning once per query, however often Spark asks):
    * one [[SnapshotTable.planRole]] per reader role over every dir of
    * that role, its splits routed back per dir and bucket. */
  private lazy val planned: (Array[InputPartition], PartitionReaderFactory) = {
    // identity reads replay every bucket: only the replaying reader
    // stamps rows with their file suffix
    val dirty = (deltas.map(_.bucket) ++ posDeltas.map(_.bucket) ++
      (if (identity) baseEntries.flatMap(snap.coveredBuckets) else Nil)
    ).toSet
    // layout-aware split: an entry replays when ANY current bucket it
    // covers carries deltas (a historical-layout dir spans several
    // current buckets until migration)
    val (dirtyEntries, clean) =
      baseEntries.partition(e => snap.entryHit(e, dirty))
    val rowDeltas = deltas.filter(_.kind == "rows")
    val tombDeltas = deltas.filter(_.kind == "tomb")
    val cleanR = role(clean.map(_._2), required, pushFilters = true)
    val baseR = role(dirtyEntries.map(_._2), withKeys, pushFilters = true,
      withIdx = readsIdx)
    val rowsR = role(rowDeltas.map(_.dir), withKeys, pushFilters = false,
      withIdx = readsIdx)
    val tombR = role(tombDeltas.map(_.dir), keySchema, pushFilters = false)
    // positional tombstone files carry key columns (bucket routing) plus
    // the (file-suffix, row_index) pair; readers project just the pair,
    // never filter-pushed or column-mapped (reserved names)
    val posR = SnapshotTable.planRole(posDeltas.map(_.dir), snap.dirFiles,
      SnapshotTable.posTombSchema, SnapshotTable.posTombSchema, Nil)
    val cleanParts = clean.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (b, es) => cleanR.packed(es.map(_._2))
        .map(p => KeyedInputPartition(InternalRow(b), p))
    }
    // with the row index read every split carries its file's suffix;
    // without, an empty tag
    def tagged(r: SnapshotTable.PlannedRole, dirs: Seq[(Long, String)])
        : Seq[(Long, String, InputPartition)] =
      dirs.flatMap { case (seq, d) =>
        r.splitsOf(d).map { case (f, p) =>
          (seq, if (readsIdx) SnapshotTable.suffixOf(f) else "", p)
        }
      }
    val deltaBy = deltas.groupBy(_.bucket)
    val posBy = posDeltas.groupBy(_.bucket)
    // REPLAY CLASSES: a historical-layout dir's rows span every
    // current bucket it covers, so those buckets' events must sit in
    // the same reader as the dir — union-find merges dirty buckets
    // linked by a shared old dir. On a uniform-layout table every
    // class is one bucket and this is exactly the per-bucket plan.
    val parent = scala.collection.mutable.Map(
      dirty.toSeq.map(b => b -> b): _*)
    def find(b: Int): Int = {
      var x = b; while (parent(x) != x) x = parent(x); x
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val entryHome = dirtyEntries.map { e =>
      val covered = snap.coveredBuckets(e).filter(dirty)
      covered.tail.foreach(union(covered.head, _))
      e -> covered.head
    }
    val dirtyParts = dirty.groupBy(find).toSeq.sortBy(_._1).map {
      case (cls, bs) =>
        val es = entryHome.collect {
          case (e, home) if find(home) == cls => e
        }
        val ds = bs.toSeq.sorted.flatMap(b => deltaBy.getOrElse(b, Nil))
        val ps = bs.toSeq.sorted.flatMap(b => posBy.getOrElse(b, Nil))
        MorInputPartition(cls,
          tagged(baseR, es.map { case (_, d) => seqOfDir(d) -> d }),
          tagged(rowsR, ds.filter(_.kind == "rows").map(d => d.seq -> d.dir)),
          ds.filter(_.kind == "tomb").flatMap(d =>
            tombR.splitsOf(d.dir).map(s => d.seq -> s._2)),
          ps.flatMap(d => posR.splitsOf(d.dir).map(_._2)))
    }
    ((cleanParts ++ dirtyParts).toArray,
      new MorReaderFactory(cleanR.factory, baseR.factory, rowsR.factory,
        tombR.factory, posR.factory, rowTypes,
        keySchema.fields.map(_.dataType),
        snap.keys.map(k => withKeys.fieldIndex(k)).toArray, outBinds,
        // row-index ordinal in base/delta rows; -1 = not read
        if (readsIdx) withKeys.length else -1))
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = planned._1
    override def createReaderFactory(): PartitionReaderFactory = planned._2
  }

  /** Streaming reads keep [[SnapshotScan]]'s exact contract: the stream
    * tails APPEND commits by entry-diff; merge-on-read commits add no
    * entries, so they fail the non-append gate (or skip silently under
    * `ignoreChanges`, the documented under-delivery caveat). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    SnapshotMicroBatchStream.of(snap, root, tableSchema, required,
      physFilters, ignoreChanges, streamOpts)
}

/** One delta-bearing bucket class: base and delta-row file partitions
  * stamped with their commit version / event seq plus (when the row
  * index is read) their file's suffix; keyed tombstone
  * partitions stamped with their seq; the class' positional tombstone
  * partitions. Keyed by bucket for storage-partitioned joins. */
private[graft] case class MorInputPartition(bucket: Int,
    base: Seq[(Long, String, InputPartition)],
    deltaRows: Seq[(Long, String, InputPartition)],
    tombs: Seq[(Long, InputPartition)],
    posTombs: Seq[InputPartition] = Seq.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
  override def preferredLocations(): Array[String] =
    (base ++ deltaRows).flatMap(_._3.preferredLocations()).distinct.toArray
}

/** Routes clean bucket partitions straight to the pruned parquet
  * reader; delta-bearing ones to the replaying [[MorPartitionReader]]. */
private[graft] class MorReaderFactory(
    cleanF: PartitionReaderFactory, baseF: PartitionReaderFactory,
    deltaF: PartitionReaderFactory, tombF: PartitionReaderFactory,
    posF: PartitionReaderFactory,
    rowTypes: Array[org.apache.spark.sql.types.DataType],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    keyIdx: Array[Int], outBinds: Array[Int], posIdx: Int)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case KeyedInputPartition(_, inner) => cleanF.createReader(inner)
      case m: MorInputPartition =>
        new MorPartitionReader(m, baseF, deltaF, tombF, posF,
          rowTypes, keyTypes, keyIdx, outBinds, posIdx)
      case other => cleanF.createReader(other)
    }
}

/** Per-bucket event replay (see [[SnapshotMorScan]]): drain the small
  * delta side into memory, stream the base side against it. Positional
  * tombstones (when present) drain first into per-file dead sets: a
  * dead delta row still records its key's event but is never a
  * survivor, a dead base row never reaches the replay check. */
private[graft] class MorPartitionReader(part: MorInputPartition,
    baseF: PartitionReaderFactory, deltaF: PartitionReaderFactory,
    tombF: PartitionReaderFactory, posF: PartitionReaderFactory,
    rowTypes: Array[org.apache.spark.sql.types.DataType],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    keyIdx: Array[Int], outBinds: Array[Int], posIdx: Int)
    extends PartitionReader[InternalRow] {

  // key extracted from a withKeys-shaped row / from a keys-only row
  private val keyOfFull = UnsafeProjection.create(keyIdx.toIndexedSeq.map(
    i => BoundReference(i, rowTypes(i), nullable = true): Expression))
  private val keyOfTomb = UnsafeProjection.create(
    keyTypes.indices.map(
      i => BoundReference(i, keyTypes(i), nullable = true): Expression))
  private val toRequired = new StampingProjection(rowTypes, outBinds)

  /** Newest event seq per key — the whole delta side of ONE bucket. */
  private val maxEvent = new mutable.HashMap[UnsafeRow, Long]
  private val bufferedDeltas =
    mutable.ArrayBuffer.empty[(Long, UnsafeRow, String, UnsafeRow)]

  private val dead = PosPartitionReader.deadSet(part.posTombs, posF)

  private def isDead(suffix: String, row: InternalRow): Boolean =
    posIdx >= 0 && {
      val s = dead.getOrElse(suffix, null)
      s != null && s.contains(row.getLong(posIdx))
    }

  private def drain(parts: Seq[(Long, InputPartition)],
      f: PartitionReaderFactory)(use: (Long, InternalRow) => Unit): Unit =
    parts.foreach { case (seq, p) =>
      val r = f.createReader(p)
      try while (r.next()) use(seq, r.get())
      finally r.close()
    }

  private def bump(key: UnsafeRow, seq: Long): Unit = {
    val cur = maxEvent.getOrElse(key, Long.MinValue)
    if (seq > cur) maxEvent.update(key, seq) else ()
  }

  // eager init: the delta side is small by design (compaction cadence)
  drain(part.tombs, tombF) { (seq, row) =>
    bump(keyOfTomb(row).copy(), seq)
  }
  part.deltaRows.foreach { case (seq, suffix, p) =>
    val r = deltaF.createReader(p)
    try while (r.next()) {
      val row = r.get()
      val key = keyOfFull(row).copy()
      // a position-tombstoned delta row keeps its event: the versions
      // it shadowed stay shadowed
      bump(key, seq)
      if (!isDead(suffix, row))
        bufferedDeltas +=
          ((seq, key, suffix, row.asInstanceOf[UnsafeRow].copy()))
    } finally r.close()
  }

  /** Surviving delta rows: newest event of their key, and that event is
    * this row (a same-commit tombstone can't coexist with a row for one
    * key — one commit is one kind per key). */
  private val survivors = bufferedDeltas.iterator
    .filter { case (seq, key, _, _) => maxEvent(key) == seq }

  private val basePartsIt = part.base.iterator
  private var baseReader: PartitionReader[InternalRow] = _
  private var baseSeq: Long = Long.MinValue
  private var baseSuffix: String = ""
  private var currentRow: InternalRow = _
  private var inSurvivors = false

  override def next(): Boolean = {
    while (!inSurvivors) {
      if (baseReader == null) {
        if (!basePartsIt.hasNext) { inSurvivors = true }
        else {
          val (seq, suffix, p) = basePartsIt.next()
          baseSeq = seq
          baseSuffix = suffix
          toRequired.fileIs(suffix)
          baseReader = baseF.createReader(p)
        }
      } else if (baseReader.next()) {
        val row = baseReader.get()
        // a base row survives iff its position is not tombstoned and no
        // delta event is newer than its commit (events never share a
        // version with a base commit)
        if (!isDead(baseSuffix, row) &&
            maxEvent.getOrElse(keyOfFull(row), Long.MinValue) < baseSeq) {
          currentRow = toRequired(row)
          return true
        }
      } else {
        baseReader.close(); baseReader = null
      }
    }
    if (survivors.hasNext) {
      val (_, _, suffix, row) = survivors.next()
      toRequired.fileIs(suffix)
      currentRow = toRequired(row); true
    } else false
  }

  override def get(): InternalRow = currentRow

  override def close(): Unit =
    if (baseReader != null) { baseReader.close(); baseReader = null }
}

/** Resolution-aware DSv2 scan for snapshots whose ONLY deltas are
  * positional (deletion-vector) — the `kind = "pos"` replay of the
  * format, for SQL readers and [[SnapshotTable.resolvedRead]] alike,
  * and the source of the row-identity columns when no event deltas are
  * pending ([[SnapshotMorScan]] serves them over events): a row lives
  * unless some retained pos delta recorded its physical
  * `(file-suffix, row_index)`. Keyless tables always land here; KEYED
  * tables land here when no event deltas are pending (the common
  * keyed-`deleteWhere(mergeOnRead)` case — position replay is
  * key-agnostic, so the keyed machinery is unnecessary). A keyed table
  * read through this scan does NOT report key-grouped partitioning
  * (splits regroup per file, not per bucket); storage-partitioned joins
  * resume after compaction, mixed-kind snapshots use
  * [[SnapshotMorScan]].
  *
  * Plan shape: base FILES are planned through ONE base role over every
  * base dir ([[SnapshotTable.planRole]], the helper every snapshot
  * connector scan plans through — never one ScanBuilder per file or
  * dir), their splits re-grouped per file and round-robined into at most
  * ~2×defaultParallelism partitions; each partition bundles its files'
  * parquet splits — every split tagged with its file's stable path
  * suffix — plus the (small) tombstone partitions. The reader drains
  * the tombstones into a per-file position set, then streams the base
  * splits, asking the parquet reader itself for each row's file row
  * index (the `_tmp_metadata_row_index` generated column — exact under
  * splits, pushed filters, and row-group skipping, so base reads keep
  * FULL pushdown). Executor memory is O(retained tombstones), the
  * deletion-vector residency bound; compaction restores the plain
  * [[SnapshotScan]] path. Tombstone re-read cost is bounded by the
  * partition-count cap, not by the file count. */
private[graft] class SnapshotPosScan(snap: SnapshotTable.Snapshot,
    tableSchema: StructType, required: StructType,
    catalystFilters: Seq[Expression],
    baseEntries: Seq[(Int, String)],
    posDeltas: Seq[SnapshotTable.DeltaEntry],
    root: String, ignoreChanges: Boolean = false,
    streamOpts: SnapshotStreamOptions = SnapshotStreamOptions())
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  require(posDeltas.forall(_.kind == "pos"),
    "SnapshotPosScan serves pos-only delta sets; event kinds replay " +
      "through SnapshotMorScan")

  /** The scan can SYNTHESIZE the row-identity metadata columns
    * (`_sdv_file`, `_sdv_pos`) when the required schema asks for them —
    * the surface Spark's delta-based row-level operations bind their
    * positional rowId to ([[SnapshotDeltaRowLevelOperation]]), and a
    * user-queryable provenance column besides. Identity values come
    * from the reader itself (split suffix + parquet row index), so
    * data files never store them. Data columns the parquet readers
    * must produce: */
  private val dataRequired: StructType = StructType(
    required.fields.filterNot(f => SnapshotTable.IdentityCols(f.name)))

  /** Base read schema: the data columns plus the parquet readers'
    * row-index generated column. */
  private val withIdx: StructType = GraftParquetBridge.withRowIndex(dataRequired)

  /** Reader-side row layout is JoinedRow([data..., rowIdx], [suffix]);
    * one bind per required output field. */
  private val rowIdxPos = dataRequired.length
  private val suffixPos = rowIdxPos + 1
  private val outBinds: Array[Int] = required.fields.map { f =>
    if (f.name == SnapshotTable.PosPosCol) rowIdxPos
    else if (f.name == SnapshotTable.PosFileCol) suffixPos
    else dataRequired.fieldIndex(f.name)
  }
  private val joinedTypes: Array[org.apache.spark.sql.types.DataType] =
    withIdx.fields.map(_.dataType) :+
      org.apache.spark.sql.types.StringType

  /** Physical names with the manifest's existence defaults — the only
    * default metadata allowed to reach the parquet plane: pre-add
    * base files fill the frozen ADD COLUMN value per footer truth
    * ([[SnapshotTable.readSchemaMetaPhys]]). */
  private def metaFor(st: StructType): StructType =
    SnapshotTable.readSchemaMetaPhys(snap, st)

  private val physFilters = SnapshotTable.physFilters(snap, catalystFilters)

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-snapshot v${snap.version} positional merge-on-read " +
      s"(${baseEntries.size} base dirs, ${posDeltas.size} tombstone dirs)"

  /** Upper bounds: tombstoned rows subtract at read. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    SnapshotTable.dirStatistics(snap, baseEntries.map(_._2))

  /** The scan's one plan (one pinned snapshot, so once per query): ONE
    * base role over every base dir ([[SnapshotTable.planRole]]), its
    * splits re-grouped per FILE so each carries its file's tombstone
    * suffix, and one tombstone role. */
  private lazy val planned: (Array[InputPartition], PartitionReaderFactory) = {
    val spark = SparkSession.active
    val baseR = SnapshotTable.planRole(baseEntries.map(_._2), snap.dirFiles,
      metaFor(GraftParquetBridge.withRowIndex(tableSchema)), metaFor(withIdx),
      physFilters)
    val perFile = baseR.splits
    val tombR =
      if (perFile.isEmpty) SnapshotTable.PlannedRole.empty
      else SnapshotTable.planRole(posDeltas.map(_.dir), snap.dirFiles,
        SnapshotTable.posTombSchema, SnapshotTable.posTombSchema, Nil)
    val groups = math.max(1, math.min(perFile.size,
      spark.sparkContext.defaultParallelism * 2))
    (perFile.zipWithIndex.groupBy(_._2 % groups).toSeq.sortBy(_._1)
      .map { case (_, fs) =>
        PosInputPartition(
          fs.map { case ((f, p), _) => SnapshotTable.suffixOf(f) -> p },
          tombR.parts): InputPartition
      }.toArray,
      new PosReaderFactory(baseR.factory, tombR.factory, joinedTypes,
        outBinds))
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = planned._1
    override def createReaderFactory(): PartitionReaderFactory = planned._2
  }

  /** Same streaming contract as [[SnapshotMorScan]]: tail APPEND
    * commits by entry-diff; tombstone commits add no entries, so they
    * fail the non-append gate (or skip under `ignoreChanges`). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    SnapshotMicroBatchStream.of(snap, root, tableSchema, required,
      physFilters, ignoreChanges, streamOpts)
}

/** One group of base-file splits (each tagged with its file's stable
  * suffix) plus the shared tombstone partitions. */
private[graft] case class PosInputPartition(
    base: Seq[(String, InputPartition)],
    tombs: Seq[InputPartition]) extends InputPartition {
  override def preferredLocations(): Array[String] =
    base.flatMap(_._2.preferredLocations()).distinct.toArray
}

private[graft] class PosReaderFactory(baseF: PartitionReaderFactory,
    tombF: PartitionReaderFactory,
    joinedTypes: Array[org.apache.spark.sql.types.DataType],
    outBinds: Array[Int]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case pos: PosInputPartition =>
        new PosPartitionReader(pos, baseF, tombF, joinedTypes, outBinds)
      case other => baseF.createReader(other)
    }
}

/** Positional replay: drain the tombstone side into a per-file position
  * set, stream base splits dropping recorded positions; identity
  * columns (when bound past the data row) synthesize from the split's
  * suffix and the parquet row index. */
private[graft] class PosPartitionReader(part: PosInputPartition,
    baseF: PartitionReaderFactory, tombF: PartitionReaderFactory,
    joinedTypes: Array[org.apache.spark.sql.types.DataType],
    outBinds: Array[Int]) extends PartitionReader[InternalRow] {

  private val toRequired = new StampingProjection(joinedTypes, outBinds)
  // joined layout: [data..., rowIdx, suffix]
  private val idxPos = joinedTypes.length - 2

  private val dead = PosPartitionReader.deadSet(part.tombs, tombF)

  private val basePartsIt = part.base.iterator
  private var baseReader: PartitionReader[InternalRow] = _
  private var deadHere: java.util.HashSet[java.lang.Long] = _
  private var currentRow: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      if (baseReader == null) {
        if (!basePartsIt.hasNext) return false
        val (suffix, p) = basePartsIt.next()
        deadHere = dead.getOrElse(suffix, null)
        toRequired.fileIs(suffix)
        baseReader = baseF.createReader(p)
      } else if (baseReader.next()) {
        val row = baseReader.get()
        if (deadHere == null || !deadHere.contains(row.getLong(idxPos))) {
          currentRow = toRequired(row)
          return true
        }
      } else {
        baseReader.close(); baseReader = null
      }
    }
    false
  }

  override def get(): InternalRow = currentRow

  override def close(): Unit =
    if (baseReader != null) { baseReader.close(); baseReader = null }
}

/** The replaying readers' output projection: binds each required field
  * over JoinedRow(data row, [file suffix]), so `_sdv_file` reads the
  * suffix of the file the current row came from. */
private[graft] final class StampingProjection(
    types: Array[org.apache.spark.sql.types.DataType], binds: Array[Int]) {
  private val proj = UnsafeProjection.create(binds.toIndexedSeq.map(
    i => BoundReference(i, types(i), nullable = true): Expression))
  private val suffixRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
  private val joined =
    new org.apache.spark.sql.catalyst.expressions.JoinedRow()

  /** Rows projected from now on came from the file with `suffix`. */
  def fileIs(suffix: String): Unit = suffixRow.update(0,
    org.apache.spark.unsafe.types.UTF8String.fromString(suffix))

  def apply(row: InternalRow): UnsafeRow = proj(joined(row, suffixRow))
}

private[graft] object PosPartitionReader {
  /** Positional tombstone partitions drained into (file suffix →
    * recorded positions): O(retained tombstones) memory, the
    * deletion-vector residency bound. */
  def deadSet(tombs: Seq[InputPartition], f: PartitionReaderFactory)
      : mutable.HashMap[String, java.util.HashSet[java.lang.Long]] = {
    val dead = new mutable.HashMap[String, java.util.HashSet[java.lang.Long]]
    tombs.foreach { tp =>
      val r = f.createReader(tp)
      try while (r.next()) {
        val row = r.get()
        if (!row.isNullAt(0) && !row.isNullAt(1))
          dead.getOrElseUpdate(row.getUTF8String(0).toString,
            new java.util.HashSet[java.lang.Long]()).add(row.getLong(1))
      } finally r.close()
    }
    dead
  }
}
