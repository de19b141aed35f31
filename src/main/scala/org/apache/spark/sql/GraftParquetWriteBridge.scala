package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, OutputWriter, OutputWriterFactory, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into the `private[sql]` surface a DataSource V2 WRITE needs to
  * delegate its data plane to Spark's own parquet row writer instead of
  * hand-rolling an encoder: [[ParquetUtils.prepareWrite]] wires the
  * session's parquet output configuration (compression codec, timestamp
  * type, legacy-format flags, field ids) onto a Hadoop job conf and
  * returns the serializable [[OutputWriterFactory]] Spark's own file
  * writes use — exactly the factory `FileFormatWriter` ships to
  * executors. Same rationale as [[GraftParquetBridge]] on the read side:
  * Spark offers no public API for this seam, and connectors that write
  * Spark-compatible parquet from a V2 `DataWriter` (Delta, Iceberg's
  * `SparkWrite`) keep a package-located accessor like this one.
  *
  * Used by the snapshot format's group-based row-level operations
  * ([[graft.sources.SnapshotRowLevelOperation]]): each `DataWriter` task
  * opens one [[RowFileWriter]] per key-hash bucket it receives and
  * streams `InternalRow`s straight to parquet — no driver round-trip,
  * no re-encoding. */
object GraftParquetWriteBridge {

  /** Serializable recipe for opening executor-side parquet writers:
    * carries the session-configured [[OutputWriterFactory]] and the job
    * Hadoop conf it was prepared against. */
  final class RowFileWriterFactory private[sql] (
      factory: OutputWriterFactory,
      conf: SerializableConfiguration,
      schemaDdl: String) extends Serializable {

    @transient private lazy val schema = StructType.fromDDL(schemaDdl)

    /** The prepared job Hadoop conf (filesystem access on executors). */
    def hadoopConf: org.apache.hadoop.conf.Configuration = conf.value

    /** Open a writer for one final file path (the file appears at
      * `path` immediately — callers stage under an uncommitted dir). */
    def open(path: String, partitionId: Int, taskId: Long): RowFileWriter = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-snapshot", 0), TaskType.MAP, partitionId),
        (taskId & 0x7fffffff).toInt)
      val ctx = new TaskAttemptContextImpl(conf.value, attempt)
      new RowFileWriter(factory.newInstance(path, schema, ctx))
    }
  }

  /** One open parquet file accepting `InternalRow`s. */
  final class RowFileWriter private[sql] (w: OutputWriter) {
    def write(row: InternalRow): Unit = w.write(row)
    def close(): Unit = w.close()
  }

  /** Build the writer factory on the driver from the active session's
    * parquet configuration (compression, timestamp encoding, …). The
    * job conf carries [[graft.sources.LocalFs.JobConf]], so the tasks'
    * file creates on a local root fork no `chmod`. */
  def rowFileWriterFactory(spark: SparkSession,
      schema: StructType): RowFileWriterFactory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    graft.sources.LocalFs.JobConf.foreach { case (k, v) =>
      job.getConfiguration.set(k, v) }
    val sqlConf = spark.sessionState.conf
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    new RowFileWriterFactory(factory,
      new SerializableConfiguration(job.getConfiguration), schema.toDDL)
  }

  /** `df.write.options(options).partitionBy(partitionBy: _*).parquet(path)`
    * with extra [[WriteJobStatsTracker]]s riding the write tasks — the
    * hook `DataFrameWriter` does not expose (Delta's
    * `DeltaJobStatisticsTracker` wiring is this exact call). Same job
    * as the plain V1 write: one SQL execution over the frame's plan,
    * `FileFormatWriter` sorting by the partition columns when the plan
    * is not already ordered, the session's commit protocol, the
    * Hadoop `options`, and the basic tracker that feeds task output
    * metrics. The target dir must be fresh (the caller's commit dirs
    * always are). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String],
      options: Map[String, String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    org.apache.spark.sql.util.SchemaUtils.checkSchemaColumnNameDuplication(
      df.schema, spark.sessionState.conf.caseSensitiveAnalysis)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val out = new Path(path)
    val qualified = out.getFileSystem(hadoopConf).makeQualified(out).toString
    val qe = spark.sessionState.executePlan(ds.logicalPlan)
    SQLExecution.withNewExecutionId(qe, Some(s"write parquet $qualified")) {
      val plan = qe.executedPlan
      val parts = partitionBy.map(n => plan.output.find(_.name == n)
        .getOrElse(sys.error(s"partition column $n not in ${plan.output}")))
      val committer = FileCommitProtocol.instantiate(
        spark.sessionState.conf.fileCommitProtocolClass,
        jobId = java.util.UUID.randomUUID().toString,
        outputPath = qualified)
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified, Map.empty, plan.output),
        hadoopConf, parts, None,
        new BasicWriteJobStatsTracker(new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics) +: trackers,
        options)
    }
    ()
  }
}
