package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, NoopCache, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Parquet reads over an EXPLICIT file list (name + exact length), the
  * way manifest-backed table formats read: the snapshot manifest records
  * every data file at commit time, so a scan needs ZERO filesystem
  * listings — no per-dir `listStatus` round trips and, critically, none
  * of the distributed "listing leaf files" jobs Spark launches when a
  * multi-dir read crosses `parallelPartitionDiscovery.threshold` (guide
  * §6: manifest metadata avoids directory listing altogether; the
  * strongest practical argument for table formats at scale). Same
  * package-located-accessor rationale as [[GraftParquetBridge]]: Delta's
  * `TahoeFileIndex` and Iceberg's `SparkScanBuilder` are this exact
  * shape over Spark's non-public scan internals. */
object GraftFileListBridge {

  /** A [[PartitioningAwareFileIndex]] serving a fully-known file list:
    * every method answers from memory. Lengths come from the commit-time
    * walk of immutable dirs, so split planning sees exact sizes.
    * Paths are QUALIFIED at construction (pure string work, no IO) —
    * `allFiles()` qualifies each root before its map lookup, so
    * scheme-less manifest paths would otherwise never match. Qualifying
    * needs only a filesystem's scheme and working dir, so it resolves
    * through the context's Hadoop conf, as the library's own manifest
    * I/O does, not through a copy of the session's (a 1k-entry copy per
    * index dominated snapshot scan planning). */
  final class StaticFileIndex(spark: SparkSession, files0: Seq[FileStatus])
      extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {
    private val files: Seq[FileStatus] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val fsOf = scala.collection.mutable.HashMap
        .empty[(String, String), org.apache.hadoop.fs.FileSystem]
      files0.map { f =>
        val p = f.getPath
        val q = fsOf.getOrElseUpdate(
          (p.toUri.getScheme, p.toUri.getAuthority),
          p.getFileSystem(conf)).makeQualified(p)
        if (q == p) f
        else new FileStatus(f.getLen, false, f.getReplication,
          f.getBlockSize, f.getModificationTime, q)
      }
    }
    private val byDir: Map[Path, Array[FileStatus]] =
      files.groupBy(_.getPath.getParent)
        .map { case (d, fs) => d -> fs.toArray }
    private val lf = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
      files.foreach(f => m.put(f.getPath, f))
      m
    }
    /** Each file's qualified path as its planned splits spell it
      * (`PartitionedFile.filePath`), in the order the files were given. */
    def paths: Seq[String] = files.map(_.getPath.toString)
    override val rootPaths: Seq[Path] = byDir.keys.toSeq
    override def leafFiles
        : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = lf
    override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = byDir
    override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
    override def refresh(): Unit = ()
  }

  private def statuses(files: Seq[(String, Long)]): Seq[FileStatus] =
    files.map { case (p, len) =>
      // modTime/blockSize are never consulted for batch parquet splits;
      // length is, and it is exact (recorded from the post-write walk)
      new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, new Path(p))
    }

  /** V1 DataFrame over explicit parquet files under an explicit schema —
    * the listing-free twin of `spark.read.schema(s).parquet(dirs: _*)`. */
  def parquetDf(spark: SparkSession, files: Seq[(String, Long)],
      schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val rel = HadoopFsRelation(new StaticFileIndex(spark, statuses(files)),
      StructType(Nil), schema, None, new ParquetFileFormat, Map.empty)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel, isStreaming = false))
  }

  /** V2 ScanBuilder over explicit files under an explicit schema — the
    * inner builder a manifest-resolving connector delegates to after it
    * has pruned its file list. */
  def parquetScanBuilderFiles(spark: SparkSession,
      files: Seq[(String, Long)], schema: StructType): ScanBuilder =
    ParquetScanBuilder(spark, new StaticFileIndex(spark, statuses(files)),
      schema, schema,
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))

  /** [[StaticFileIndex.paths]] of a [[parquetScanBuilderFiles]] builder:
    * the key that routes each planned split back to the file list entry
    * it came from. */
  def plannedPaths(b: ScanBuilder): Seq[String] = b match {
    case p: ParquetScanBuilder => p.fileIndex match {
      case s: StaticFileIndex => s.paths
      case other => sys.error(s"not a file-list index: $other")
    }
    case other => sys.error(s"not a file-list parquet builder: $other")
  }
}
