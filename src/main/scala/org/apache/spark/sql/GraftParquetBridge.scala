package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` surface a DataSource V2 connector needs
  * to DELEGATE its data plane to Spark's own vectorized parquet scan
  * instead of hand-rolling a parquet decoder (the
  * [[graft.sources.SnapshotDataSource]] pattern: the connector resolves
  * WHICH files constitute a snapshot — manifest, version, key-bucket
  * pruning — and Spark's battle-tested `ParquetScan` reads them with
  * whole-stage codegen, row-group statistics pruning, and nested-column
  * vectorization). Same rationale as [[GraftSqlBridge]]: Spark offers no
  * public API for these, and every table format that reuses Spark's
  * parquet reader (Delta's `DeltaParquetFileFormat` wiring, Iceberg's
  * `SparkScanBuilder`) keeps a package-located accessor like this one. */
object GraftParquetBridge {

  /** Forward catalyst predicates into a parquet `ScanBuilder` so
    * parquet row-group/page statistics pruning engages; returns the
    * post-scan residue Spark must still evaluate. */
  def pushCatalystFilters(builder: ScanBuilder,
      filters: Seq[Expression]): Seq[Expression] = builder match {
    case b: SupportsPushDownCatalystFilters => b.pushFilters(filters)
    case _ => filters
  }

  /** Forward column pruning (the required top-level schema). */
  def pruneColumns(builder: ScanBuilder, required: StructType): Unit =
    builder match {
      case b: SupportsPushDownRequiredColumns => b.pruneColumns(required)
      case _ => ()
    }

  /** `st` plus, LAST (so every other field's ordinal is stable), the
    * parquet readers' magic row-index column: a `LongType` field with
    * this name in the read schema is POPULATED WITH FILE ROW INDEXES by
    * both the vectorized and row-based readers (exact under splits,
    * pushed filters, and row-group skipping) — the mechanism behind
    * `_metadata.row_index`, reachable here for V2 delegated scans that
    * need per-row physical positions (deletion-vector replay). */
  def withRowIndex(st: StructType): StructType =
    st.add(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType)

  /** Catalyst predicate → V1 `sources.Filter` (None when untranslatable)
    * — the connector's bucket-pruning analysis runs on the stable V1
    * shapes (`EqualTo`/`In`) rather than raw expression trees. */
  def translateFilter(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)

  /** Re-group ONE planned parquet batch's partitions per FILE: each
    * element is (plain file path, a FilePartition holding only that
    * file's splits). For consumers that must tag rows with per-file
    * state (deletion-vector replay) while paying a single driver-side
    * scan plan over ALL files — Spark packs splits from different files
    * into shared FilePartitions, so the planned shape can't be consumed
    * per-file directly, but the PartitionedFiles inside it can be
    * re-grouped without replanning. */
  def splitPartitionsByFile(
      parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Seq[(String, org.apache.spark.sql.connector.read.InputPartition)] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    parts.toSeq.flatMap {
      case fp: FilePartition =>
        fp.files.groupBy(_.filePath.toPath.toString).toSeq.sortBy(_._1)
          .map { case (path, fs) =>
            path -> (FilePartition(fp.index, fs)
              : org.apache.spark.sql.connector.read.InputPartition)
          }
      case other => sys.error(
        s"parquet batch planned a non-file partition: $other")
    }
  }

  /** The split size Spark's file scan plans files of these `lengths`
    * with (`FilePartition.maxSplitBytes`: each file costs its length plus
    * `openCostInBytes`). */
  def maxSplitBytes(spark: SparkSession, lengths: Seq[Long]): Long = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val open = spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .filesOpenCostInBytes
    FilePartition.maxSplitBytes(spark.asInstanceOf[classic.SparkSession],
      lengths.map(_ + open).sum)
  }

  /** Pack file splits (FilePartitions from [[splitPartitionsByFile]])
    * into FilePartitions the way Spark's file scan packs one scan's
    * splits: largest first, up to `maxSplitBytes` each. */
  def packFilePartitions(spark: SparkSession,
      splits: Seq[org.apache.spark.sql.connector.read.InputPartition],
      maxSplitBytes: Long)
      : Seq[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val files = splits.flatMap {
      case fp: FilePartition => fp.files.toSeq
      case other => sys.error(s"not a file split: $other")
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark.asInstanceOf[classic.SparkSession],
      files, maxSplitBytes)
  }

  /** V1 filters → V2 predicates, for `pushedFilters()` reporting. */
  def toV2Predicates(fs: Array[sources.Filter]): Array[Predicate] =
    fs.map(_.toV2)
}

/** Base class locating the `private[sql]`
  * [[SupportsPushDownCatalystFilters]] mix-in so a connector OUTSIDE the
  * sql package can receive Spark's filter pushdown: the optimizer's
  * `V2ScanRelationPushDown` hands the full catalyst predicates here,
  * the subclass records them (and their V1 translations) for pruning,
  * and EVERY filter is returned as residue — the scan only ever narrows
  * which files are read, so re-evaluating the predicates post-scan keeps
  * correctness independent of the pruning. */
abstract class GraftCatalystFilterScanBuilder extends ScanBuilder
    with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns {

  protected var catalystFilters: Seq[Expression] = Seq.empty
  protected var v1Filters: Array[sources.Filter] = Array.empty

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    catalystFilters = filters
    v1Filters = filters
      .flatMap(GraftParquetBridge.translateFilter(_).toSeq).toArray
    filters // all residual: pruning narrows files, never drops predicates
  }

  override def pushedFilters: Array[Predicate] =
    GraftParquetBridge.toV2Predicates(v1Filters)
}
