package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftLocalFileSystem, LocalFs, SnapshotTable}

/** A filesystem registered under a scheme other than `file`. */
class LocalFsSpecOtherFs extends RawLocalFileSystem {
  override def getScheme: String = "graftother"
  override def getUri: URI = URI.create("graftother:///")
}

/** The snapshot format's local filesystem: same bytes, names and
  * permissions as Hadoop's stock `LocalFileSystem`, and no process
  * spawns on any snapshot operation. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_localfs_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("files and dirs get the stock local filesystem's permissions " +
      "under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def tree(fs: FileSystem, base: String): Map[String, String] = {
        fs.initialize(URI.create("file:///"), conf)
        val b = new Path(base)
        fs.mkdirs(new Path(b, "d/e"))
        fs.mkdirs(new Path(b, "m"), new FsPermission("750"))
        val out = fs.create(new Path(b, "d/e/f.bin"))
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        val out2 = fs.create(new Path(b, "g.bin"), new FsPermission("741"),
          false, 4096, 1.toShort, 1L << 20, null)
        try out2.write(Array[Byte](4)) finally out2.close()
        fs.setPermission(new Path(b, "d"), new FsPermission("711"))
        fs.setPermission(new Path(b, "m"), new FsPermission("1777"))
        val root = Paths.get(base)
        Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
          root.relativize(p).toString -> PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p))
        }.toMap
      }
      val stock = tree(new LocalFileSystem(), freshDir(s"stock$umask"))
      val graft = tree(new GraftLocalFileSystem, freshDir(s"graft$umask"))
      assert(stock.keySet.exists(_.endsWith(".crc")))
      assert(graft === stock, s"umask $umask")
    }
  }

  test("no operation on a local snapshot table spawns a process") {
    val wh = freshDir("jfr")
    val cat = "localfscat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    def rows(ids: Seq[Long], tag: String) =
      ids.map(i => (i, s"$tag$i", i * 0.5)).toDF("id", "s", "d")
    val cow = s"$wh/cow"
    val mor = s"$wh/mor"
    // warm-up outside the recording: session, catalog and codegen
    SnapshotTable.create(rows(0L until 5L, "w"), s"$wh/warm", Seq("id"),
      buckets = 2)

    val spawned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val flushes = new java.util.concurrent.atomic.AtomicInteger
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => spawned.add(e.getString("command")))
      rs.onFlush(() => flushes.incrementAndGet())
      rs.startAsync()

      SnapshotTable.create(rows(0L until 60L, "c"), cow, Seq("id"),
        buckets = 4)
      SnapshotTable.append(rows(60L until 80L, "a"), cow)
      SnapshotTable.upsert(rows(10L until 30L, "u"), cow)
      SnapshotTable.upsert(rows(20L until 40L, "m"), cow, mergeOnRead = true)
      SnapshotTable.delete(Seq(21L, 22L).toDF("id"), cow, mergeOnRead = true)
      SnapshotTable.compact(spark, cow)
      SnapshotTable.vacuum(spark, cow, keepVersions = 1)
      SnapshotTable.create(rows(0L until 40L, "c"), mor, Seq("id"),
        buckets = 2)
      SnapshotTable.setTableProperty(spark, mor, "rowlevelmode",
        Some("merge-on-read"))
      rows(30L until 50L, "s").createOrReplaceTempView("localfs_src")
      for (t <- Seq("cow", "mor"))
        spark.sql(s"MERGE INTO $cat.$t t USING localfs_src s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")

      // every event committed above is delivered by the second flush
      // that starts after this point
      val seen = flushes.get
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (flushes.get < seen + 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(flushes.get >= seen + 2, "JFR stream did not flush")
    } finally rs.close()

    // Spark's own background threads may spawn too (the executor
    // metrics poller forks `getconf PAGESIZE` once); count the spawns
    // that touch the tables' files
    val onTables = spawned.asScala.filter(_.contains(wh))
    assert(onTables.isEmpty,
      s"${onTables.size} process spawns, e.g. ${onTables.take(5)}")
    assert(SnapshotTable.read(spark, cow).count() === 78L)
    assert(SnapshotTable.read(spark, mor).where(col("s") === "s45")
      .count() === 1L)
  }

  test("a filesystem of another scheme passes through resolve unchanged") {
    val conf = new Configuration()
    conf.set("fs.graftother.impl", classOf[LocalFsSpecOtherFs].getName)
    val other = new Path("graftother:///tmp/x")
    assert(LocalFs.resolve(other, conf) eq other.getFileSystem(conf))
    assert(LocalFs.resolve(other, conf).isInstanceOf[LocalFsSpecOtherFs])
    val local = LocalFs.resolve(new Path("file:///tmp/x"), conf)
    assert(local.isInstanceOf[GraftLocalFileSystem])
    assert(LocalFs.resolve(new Path("/tmp/y"), conf) eq local)
    // a scheme-less path follows the default filesystem
    conf.set("fs.defaultFS", "graftother:///")
    assert(LocalFs.resolve(new Path("/tmp/y"), conf) eq other.getFileSystem(conf))
  }
}
