package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** Commit statistics collected INSIDE the write tasks — the Delta
  * `DeltaJobStatisticsTracker` shape: every task that writes a row into
  * a leaf data dir folds it into that dir's [[SnapshotWriteStats.Dir]]
  * (row count, per-column min/max/has-null, key bloom); the results
  * ride back to the driver with the task's commit message, where they
  * merge per dir. A commit therefore learns its manifest `stats=`,
  * `rows=` and `.bloom` content from its own write job — it never
  * re-reads the files it just wrote. */
private[sources] object SnapshotWriteStats {

  /** What one commit records, resolved against the WRITTEN (physical)
    * data schema: the `statsCols` present in it and, when every key
    * column is present and `bloomKeys` is non-empty, the key bloom.
    * Ships to every write task. */
  final class Spec(schema: StructType, statsCols: Seq[String],
      bloomKeys: Seq[String]) extends Serializable {

    private[sources] val cols: Array[(String, Int, DataType)] = statsCols
      .filter(schema.fieldNames.contains)
      .map(c => (c, schema.fieldIndex(c), schema(c).dataType)).toArray

    private[sources] val withBloom: Boolean = bloomKeys.nonEmpty &&
      bloomKeys.forall(schema.fieldNames.contains)

    private val keyRefs: Seq[BoundReference] =
      if (!withBloom) Nil
      else bloomKeys.map(k => BoundReference(schema.fieldIndex(k),
        schema(k).dataType, nullable = true))

    // the Catalyst orderings `Min`/`Max` compare with (doubles: NaN
    // greatest, -0.0 == 0.0; strings: binary), built per JVM
    @transient private lazy val orderings =
      cols.map(c => TypeUtils.getInterpretedOrdering(c._3))
    @transient private lazy val accessors =
      cols.map(c => InternalRow.getAccessor(c._3, nullable = true))
    // `xxhash64(keys)`, seed 42 — [[SnapshotTable.keyHashOfLiterals]]
    // is its driver-side twin on the probe path
    @transient private lazy val keyHash =
      if (!withBloom) null
      else UnsafeProjection.create(Seq(XxHash64(keyRefs, 42L)))

    def newDir(): Dir = new Dir(cols.length)

    /** Fold one written row into its dir. */
    def update(d: Dir, row: InternalRow): Unit = {
      d.rows += 1
      var i = 0
      while (i < cols.length) {
        val ord = cols(i)._2
        if (row.isNullAt(ord)) d.hasNull(i) = true
        else {
          val v = accessors(i)(row, ord)
          // strict comparisons: ties keep the first value, as Least /
          // Greatest do inside Min / Max
          if (d.lo(i) == null || orderings(i).lt(v, d.lo(i)))
            d.lo(i) = InternalRow.copyValue(v)
          if (d.hi(i) == null || orderings(i).gt(v, d.hi(i)))
            d.hi(i) = InternalRow.copyValue(v)
        }
        i += 1
      }
      if (keyHash != null) {
        if (d.bloom == null) d.bloom = SnapshotTable.newKeyBloom()
        d.bloom.putLong(keyHash(row).getLong(0))
      }
    }

    /** Fold `b` into `a` (counts summed, bounds folded, null flags
      * ORed, blooms OR-merged); returns `a`. */
    def merge(a: Dir, b: Dir): Dir = {
      a.rows += b.rows
      var i = 0
      while (i < cols.length) {
        a.hasNull(i) ||= b.hasNull(i)
        if (b.lo(i) != null && (a.lo(i) == null ||
            orderings(i).lt(b.lo(i), a.lo(i)))) a.lo(i) = b.lo(i)
        if (b.hi(i) != null && (a.hi(i) == null ||
            orderings(i).gt(b.hi(i), a.hi(i)))) a.hi(i) = b.hi(i)
        i += 1
      }
      if (b.bloom != null) {
        if (a.bloom == null) a.bloom = b.bloom
        else a.bloom.mergeInPlace(b.bloom)
      }
      a
    }

    /** Merge per-task results into one [[Dir]] per key. */
    def mergeAll(parts: Iterator[(String, Dir)]): Map[String, Dir] = {
      val out = scala.collection.mutable.HashMap.empty[String, Dir]
      parts.foreach { case (k, d) =>
        out.get(k) match {
          case Some(acc) => merge(acc, d)
          case None => out(k) = d
        }
      }
      out.toMap
    }
  }

  /** One leaf dir's accumulator: row count, per-stats-column bounds as
    * Catalyst internal values (null = none seen) and has-null flags, and
    * the key bloom (null until the first row, or when not recorded). */
  final class Dir(n: Int) extends Serializable {
    var rows: Long = 0L
    val lo: Array[Any] = new Array[Any](n)
    val hi: Array[Any] = new Array[Any](n)
    val hasNull: Array[Boolean] = new Array[Boolean](n)
    var bloom: BloomFilter = _
  }

  /** Key of a written file's leaf dir: its parent path from the bucket
    * segment on (`_gb=b[/_pt0=v][/_zs=k]`). Write tasks see files under
    * their attempt dirs, so the commit-dir prefix differs from the final
    * one; the suffix does not (partition values are path-escaped, so the
    * segment is unambiguous). */
  def leafKey(dir: String): String =
    dir.substring(dir.lastIndexOf(s"${SnapshotTable.BucketCol}="))

  private final case class TaskDirs(dirs: Map[String, Dir])
    extends WriteTaskStats

  /** The V1 file-writer hook: one [[Dir]] per leaf dir a task writes
    * into, keyed by [[leafKey]]; after the job commits, [[dirs]] holds
    * the driver-side merge. */
  final class Tracker(spec: Spec) extends WriteJobStatsTracker {
    @transient @volatile private var merged: Map[String, Dir] = Map.empty

    def dirs: Map[String, Dir] = merged

    override def newTaskInstance(): WriteTaskStatsTracker =
      new WriteTaskStatsTracker {
        private val byDir = scala.collection.mutable.HashMap.empty[String, Dir]
        private var curFile: String = _
        private var cur: Dir = _
        override def newPartition(values: InternalRow): Unit = ()
        override def newFile(filePath: String): Unit = ()
        override def closeFile(filePath: String): Unit = ()
        override def newRow(filePath: String, row: InternalRow): Unit = {
          if (filePath != curFile) {
            curFile = filePath
            cur = byDir.getOrElseUpdate(
              leafKey(filePath.substring(0, filePath.lastIndexOf('/'))),
              spec.newDir())
          }
          spec.update(cur, row)
        }
        override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
          TaskDirs(byDir.toMap)
      }

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      merged = spec.mergeAll(stats.iterator.flatMap {
        case t: TaskDirs => t.dirs
        case _ => Nil
      })
  }
}
