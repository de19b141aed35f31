package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Materialize
import graft.sources.SnapshotTable

/** Change data feed on the snapshot table: commit-time change files
  * (`changeFeed = true` tables write diff-exact `_cdc` dirs on
  * upsert/delete), the batch connector read
  * (`option("readChangeFeed", true)` + version range), the STREAMING
  * source (versioned offsets, checkpointed resume), vacuum/rebase
  * interplay, and loud failure on commits the feed cannot serve. */
class SnapshotCdfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_cdf_$tag")
    d.toFile.deleteOnExit()
    d.toFile
  }
  private def freshRoot(tag: String): String =
    new java.io.File(freshDir(tag), "tbl").getAbsolutePath

  private def rows(ids: Seq[Long], tag: String) =
    ids.map(i => (i, tag, i * 10L)).toDF("id", "tag", "v")

  private def changes(df: DataFrame): Set[(String, Long, Long, String, Long)] =
    df.select(col("_change_type"), col("_commit_version"), col("id"),
        col("tag"), col("v"))
      .as[(String, Long, Long, String, Long)].collect()
      .map(t => (t._1, t._2, t._3, t._4, t._5)).toSet

  private def ins(v: Long, ids: Seq[Long], tag: String) =
    ids.map(i => ("insert", v, i, tag, i * 10L)).toSet
  private def del(v: Long, ids: Seq[Long], tag: String) =
    ids.map(i => ("delete", v, i, tag, i * 10L)).toSet

  /** create 0..7 "a" (v1) → append 8..9 "b" (v2) → upsert {1,2}->"U"
    * (v3) → delete {2,8} (v4); a changeFeed table. */
  private def fixture(tag: String): String = {
    val root = freshRoot(tag)
    SnapshotTable.create(rows(0L to 7L, "a"), root, Seq("id"), 4,
      changeFeed = true)
    SnapshotTable.append(rows(8L to 9L, "b"), root)
    SnapshotTable.upsert(rows(Seq(1L, 2L), "U"), root)
    SnapshotTable.delete(Seq(2L, 8L).toDF("id"), root)
    root
  }

  private val fullFeed: Set[(String, Long, Long, String, Long)] =
    ins(1, 0L to 7L, "a") ++ ins(2, 8L to 9L, "b") ++
      ins(3, Seq(1L, 2L), "U") ++ del(3, Seq(1L, 2L), "a") ++
      del(4, Seq(8L), "b") ++ Set(("delete", 4L, 2L, "U", 20L))

  test("upsert/delete on a changeFeed table record _cdc dirs; " +
      "readChanges serves them and equals the diff spelling") {
    val root = fixture("batch")
    val snaps = SnapshotTable.versions(spark, root)
    assert(snaps.map(_.changeFeed) === Seq(true, true, true, true))
    assert(snaps.map(_.cdc.isDefined) === Seq(false, false, true, true))
    assert(snaps.flatMap(_.cdc).forall(_.endsWith("/_cdc")))
    assert(changes(SnapshotTable.readChanges(spark, root, 1L, 4L)) ===
      fullFeed -- ins(1, 0L to 7L, "a")) // (1,4] excludes create's rows
    // parity with the diff spelling: same commits on a NON-feed table
    val root2 = freshRoot("nofeed")
    SnapshotTable.create(rows(0L to 7L, "a"), root2, Seq("id"), 4)
    SnapshotTable.append(rows(8L to 9L, "b"), root2)
    SnapshotTable.upsert(rows(Seq(1L, 2L), "U"), root2)
    SnapshotTable.delete(Seq(2L, 8L).toDF("id"), root2)
    assert(SnapshotTable.versions(spark, root2).flatMap(_.cdc).isEmpty)
    assert(changes(SnapshotTable.readChanges(spark, root, 1L, 4L)) ===
      changes(SnapshotTable.readChanges(spark, root2, 1L, 4L)))
  }

  test("a no-op upsert (identical rows) records an EMPTY change file — " +
      "the feed is diff-exact, not write-exact") {
    val root = freshRoot("noop")
    SnapshotTable.create(rows(0L to 3L, "a"), root, Seq("id"), 2,
      changeFeed = true)
    SnapshotTable.upsert(rows(Seq(1L), "a"), root) // same content
    val head = SnapshotTable.versions(spark, root).last
    assert(head.cdc.isDefined)
    assert(changes(SnapshotTable.readChanges(spark, root, 1L, 2L)).isEmpty)
  }

  test("batch connector CDF read: startingVersion=1 includes create as " +
      "inserts; ranges slice; compact mid-range contributes nothing") {
    val root = fixture("conn")
    SnapshotTable.compact(spark, root) // v5: content-neutral
    def feed(s: Long, e: Long) = changes(
      spark.read.format("graft-snapshot")
        .option("readChangeFeed", "true")
        .option("startingVersion", s).option("endingVersion", e)
        .load(root))
    assert(feed(1, 5) === fullFeed)
    assert(feed(3, 4) === fullFeed -- ins(1, 0L to 7L, "a") --
      ins(2, 8L to 9L, "b"))
    assert(feed(5, 5) === Set.empty)
    // schema: table columns + the two change columns, in order
    val df = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .load(root)
    assert(df.columns.toSeq ===
      Seq("id", "tag", "v", "_change_type", "_commit_version"))
    // filters still run (post-scan)
    assert(changes(df.filter(col("id") === 2L)) ===
      fullFeed.filter(_._3 == 2L))
  }

  test("streaming CDF: default offset serves only post-load commits; " +
      "checkpointed restart resumes exactly after the last served one") {
    val root = freshRoot("stream")
    SnapshotTable.create(rows(0L to 3L, "a"), root, Seq("id"), 2,
      changeFeed = true)
    val base = freshDir("stream_io")
    val out = new java.io.File(base, "out").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    def drain(opts: (String, String)*): Unit = {
      val src = opts.foldLeft(spark.readStream.format("graft-snapshot")
          .option("readChangeFeed", "true"))((r, o) => r.option(o._1, o._2))
        .load(root)
      val q = src.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def got: Set[(String, Long, Long, String, Long)] =
      if (!new java.io.File(out).exists) Set.empty
      else changes(spark.read.parquet(out))
    drain() // nothing yet: default = changes AFTER load
    assert(got === Set.empty)
    SnapshotTable.upsert(rows(Seq(0L, 9L), "U"), root) // v2
    drain()
    assert(got === ins(2, Seq(9L), "U") ++ ins(2, Seq(0L), "U") ++
      del(2, Seq(0L), "a"))
    SnapshotTable.delete(Seq(9L).toDF("id"), root) // v3
    SnapshotTable.append(rows(Seq(5L), "b"), root) // v4
    drain()
    assert(got === ins(2, Seq(9L), "U") ++ ins(2, Seq(0L), "U") ++
      del(2, Seq(0L), "a") ++ del(3, Seq(9L), "U") ++ ins(4, Seq(5L), "b"))
    // rewind spelling: a FRESH checkpoint with startingVersion=1 serves
    // the whole history including create
    val out2 = new java.io.File(base, "out2").getAbsolutePath
    val ckpt2 = new java.io.File(base, "ckpt2").getAbsolutePath
    val q2 = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(root)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out2)
      }
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(changes(spark.read.parquet(out2)) ===
      ins(1, 0L to 3L, "a") ++ ins(2, Seq(9L), "U") ++
        ins(2, Seq(0L), "U") ++ del(2, Seq(0L), "a") ++
        del(3, Seq(9L), "U") ++ ins(4, Seq(5L), "b"))
  }

  test("a table-property commit changes no data: the snapshot stream, " +
      "the change-feed stream and the batch change feed serve the " +
      "appends around it once") {
    val root = freshRoot("setprop")
    SnapshotTable.create(rows(0L to 1L, "a"), root, Seq("id"), 2,
      changeFeed = true) // v1
    val base = freshDir("setprop_io")
    def drain(name: String, cdf: Boolean): Unit = {
      val out = new java.io.File(base, name).getAbsolutePath
      spark.readStream.format("graft-snapshot")
        .option("readChangeFeed", cdf.toString).load(root)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", s"$out-ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    // both streams start at v1, so their next runs tail the commits
    drain("snap", cdf = false)
    drain("feed", cdf = true)
    SnapshotTable.append(rows(Seq(2L), "b"), root) // v2
    SnapshotTable.setTableProperty(spark, root, "owner", Some("etl")) // v3
    SnapshotTable.append(rows(Seq(3L), "c"), root) // v4
    drain("snap", cdf = false)
    drain("feed", cdf = true)
    assert(spark.read.parquet(new java.io.File(base, "snap").getAbsolutePath)
      .select("id").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L, 3L))
    val appends = ins(2, Seq(2L), "b") ++ ins(4, Seq(3L), "c")
    val fed = spark.read.parquet(new java.io.File(base, "feed").getAbsolutePath)
    assert(fed.count() === 2L)
    assert(changes(fed) === appends)
    val batch = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", 2)
      .load(root)
    assert(batch.count() === 2L)
    assert(changes(batch) === appends)
  }

  test("the feed fails loudly on commits it cannot serve: overwrite, " +
      "and upsert on a table without changeFeed") {
    val root = freshRoot("loud")
    SnapshotTable.create(rows(0L to 3L, "a"), root, Seq("id"), 2,
      changeFeed = true)
    SnapshotTable.overwrite(rows(0L to 1L, "o"), root)
    val e = intercept[Exception](
      spark.read.format("graft-snapshot").option("readChangeFeed", "true")
        .option("startingVersion", 1).load(root).collect())
    assert(e.getMessage.contains("no recorded change data"))
    val root2 = freshRoot("loud2")
    SnapshotTable.create(rows(0L to 3L, "a"), root2, Seq("id"), 2)
    SnapshotTable.upsert(rows(Seq(1L), "U"), root2)
    val e2 = intercept[Exception](
      spark.read.format("graft-snapshot").option("readChangeFeed", "true")
        .option("startingVersion", 2).load(root2).collect())
    assert(e2.getMessage.contains("no recorded change data"))
  }

  test("vacuum sweeps expired commits' _cdc dirs and keeps live ones; " +
      "the surviving feed range still reads") {
    val root = fixture("vac")
    val cdcDirs = SnapshotTable.versions(spark, root).flatMap(_.cdc)
    assert(cdcDirs.size === 2 && cdcDirs.head.contains("/c3-"))
    SnapshotTable.vacuum(spark, root, keepVersions = 1) // keep only v4
    assert(!new java.io.File(cdcDirs.head).exists) // v3's cdc dir swept
    val kept = SnapshotTable.versions(spark, root).last
    assert(kept.cdc.isDefined)
    assert(new java.io.File(kept.cdc.get).exists)
    // v4's own changes still serve through the connector (the cdc dir
    // needs no predecessor manifest)
    assert(changes(spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("startingVersion", 4).option("endingVersion", 4)
      .load(root)) ===
      del(4, Seq(8L), "b") ++ Set(("delete", 4L, 2L, "U", 20L)))
  }

  test("a rebased upsert carries its change file to the new version: " +
      "the recorded cdc dir lives under the published commit dir and " +
      "the feed reports the rebased version") {
    val root = freshRoot("rebase")
    SnapshotTable.create(rows(0L until 64L, "a"), root, Seq("id"), 8,
      changeFeed = true)
    // ids in two different buckets (production hash through a plan)
    def bucketOf(id: Long): Int = Seq(id).toDF("id")
      .select(pmod(hash(col("id")), lit(8))).head().getInt(0)
    val byBucket = (0L until 64L).groupBy(bucketOf)
    val idA = byBucket.values.head.head
    val idB = byBucket.values.toSeq(1).head
    val tap = Materialize.Tap(() => {
      SnapshotTable.upsert(rows(Seq(idB), "B"), root); ()
    })
    val v = SnapshotTable.upsert(rows(Seq(idA), "A"), root, mat = tap,
      retries = 2)
    assert(v === 3L)
    val head = SnapshotTable.versions(spark, root).last
    assert(head.cdc.exists(_.contains("/data/c3-")))
    assert(changes(SnapshotTable.readChanges(spark, root, 2L, 3L)) ===
      ins(3, Seq(idA), "A") ++ del(3, Seq(idA), "a"))
  }
}
