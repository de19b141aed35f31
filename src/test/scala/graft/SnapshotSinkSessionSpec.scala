package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTable

/** The `graft-snapshot` streaming sink commits each micro-batch in the
  * session that started the query ([[graft.sources.SnapshotSink]]): every
  * `Trigger.AvailableNow` run of one query shares one executor class
  * loader, so steady-state runs compile no generated class, and the
  * commits still produce the content the clone-session commits did. */
class SnapshotSinkSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(ids: Range, tag: String): DataFrame =
    ids.map(i => (i.toLong, s"$tag$i")).toDF("id", "s")

  private def asSet(df: DataFrame): Set[(Long, String)] =
    df.select("id", "s").as[(Long, String)].collect().toSet

  /** (stage dir, table root, checkpoint dir, stage one parquet file). */
  private def layout(name: String) = {
    val base = java.nio.file.Files.createTempDirectory(name).toFile
    val stage = new java.io.File(base, "in"); stage.mkdirs()
    def stageOne(i: Int, df: DataFrame): Unit = {
      val tmp = new java.io.File(base, s"tmp$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles.filter(_.getName.startsWith("part-")).head
      val dst = new java.io.File(stage, f"b$i%03d.parquet")
      assert(part.renameTo(dst))
      dst.setLastModified(1000000L * (i + 1))
    }
    (stage.toString, new java.io.File(base, "tbl").getAbsolutePath,
      new java.io.File(base, "ckpt").getAbsolutePath, stageOne _)
  }

  test("AvailableNow runs of one upsert query compile no generated class " +
    "once warm, and the table reads the last-write-wins content") {
    val (stage, root, ckpt, stageOne) = layout("graft_sinksession")
    def run(): Unit = spark.readStream.schema(rows(0 until 1, "x").schema)
      .parquet(stage).writeStream.format("graft-snapshot")
      .option("op", "upsert").option("keys", "id").option("buckets", "4")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(root).awaitTermination()
    // run i upserts ids [3i, 3i + 5): each run overwrites two ids of the
    // one before
    val compiles = (0 until 5).map { i =>
      stageOne(i, rows(3 * i until 3 * i + 5, s"r$i-"))
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(compiles.drop(2).forall(_ == 0L),
      s"classes compiled per run: ${compiles.mkString(", ")}")
    val snaps = SnapshotTable.versions(spark, root)
    assert(snaps.map(_.op) === "create" +: Seq.fill(4)("upsert"))
    assert(snaps.flatMap(_.txn).map(_._2) === (0L until 5L))
    val want = (0 until 5).flatMap(i => (3 * i until 3 * i + 5)
      .map(id => id.toLong -> s"r$i-$id")).toMap
    assert(asSet(SnapshotTable.read(spark, root)) === want.toSet)
  }

  test("a Complete-mode count per key lands one overwrite per batch and " +
    "stays right across a restart from the checkpoint") {
    val (stage, root, ckpt, stageOne) = layout("graft_sinkcomplete")
    def run(): Unit = spark.readStream.schema(rows(0 until 1, "x").schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .groupBy(pmod(col("id"), lit(4L)).as("k")).count()
      .writeStream.format("graft-snapshot").outputMode(OutputMode.Complete())
      .option("keys", "k").option("buckets", "2")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(root).awaitTermination()
    def counts(): Map[Long, Long] = SnapshotTable.read(spark, root)
      .select("k", "count").as[(Long, Long)].collect().toMap
    def want(ids: Seq[Range]): Map[Long, Long] =
      ids.flatten.groupBy(_ % 4).map { case (k, v) => k.toLong -> v.size.toLong }
    val files = Seq(0 until 10, 5 until 12, 20 until 23)
    stageOne(0, rows(files(0), "a"))
    stageOne(1, rows(files(1), "b"))
    run()
    assert(counts() === want(files.take(2)))
    stageOne(2, rows(files(2), "c"))
    run()
    assert(counts() === want(files))
    assert(SnapshotTable.versions(spark, root).map(_.op) ===
      Seq("create", "overwrite", "overwrite"))
  }
}
