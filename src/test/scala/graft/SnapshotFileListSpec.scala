package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization internals: manifest-recorded file lists
  * (`files=` lines) and the listing-free read path they feed
  * ([[org.apache.spark.sql.GraftFileListBridge.StaticFileIndex]]).
  * The CONTENT correctness of every consumer is the existing suites'
  * job; this spec pins the mechanism itself — recording, carry-forward,
  * byte agreement, and the fallback when lists are absent. */
class SnapshotFileListSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.sources.SnapshotTable

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_flist").toString + "/t"

  test("create records per-dir data-file lists that cover every entry, " +
    "agree with dirBytes, and survive the manifest round-trip") {
    val dir = tmp()
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, s"s$i", i * 2L))
      .toDF("k", "s", "v")
    SnapshotTable.create(df, dir, Seq("k"), buckets = 4)
    // headOption PARSES the published manifest, so this asserts the
    // serialized files= lines, not in-memory state
    val head = SnapshotTable.headOption(spark, dir).get
    assert(head.entries.nonEmpty)
    head.entries.foreach { case (_, d) =>
      val fl = head.dirFiles.get(d)
      assert(fl.exists(_.nonEmpty), s"no file list recorded for $d")
      // names are dir-relative data files; bytes sum to the recorded
      // planner statistic for the dir
      fl.get.foreach { case (n, len) =>
        assert(!n.contains("/") && !n.startsWith(".") && !n.startsWith("_"))
        assert(len > 0)
      }
      assert(head.dirBytes(d) === fl.get.map(_._2).sum)
    }
  }

  test("append and upsert carry prior dirs' file lists forward; " +
    "reads stay exact against a table whose lists are stripped " +
    "(listing fallback)") {
    val dir = tmp()
    import spark.implicits._
    val a = (0 until 30).map(i => (i.toLong, s"a$i")).toDF("k", "s")
    val b = (30 until 60).map(i => (i.toLong, s"b$i")).toDF("k", "s")
    SnapshotTable.create(a, dir, Seq("k"), buckets = 4)
    SnapshotTable.append(b, dir)
    SnapshotTable.upsert(
      Seq((0L, "U0"), (31L, "U31")).toDF("k", "s"), dir)
    val head = SnapshotTable.headOption(spark, dir).get
    // every live entry (created, appended, and upsert-rewritten) is
    // covered — carry-forward plus fresh recording
    head.entries.foreach { case (_, d) =>
      assert(head.dirFiles.contains(d), s"file list lost for $d")
    }
    val viaLists = SnapshotTable.read(spark, dir)
      .orderBy("k").collect().map(_.toSeq)
    // a snapshot with the lists STRIPPED must read identically through
    // the directory-listing fallback (the lists are an optimization
    // layer, never load-bearing)
    val stripped = head.copy(dirFiles = Map.empty)
    val viaListing = SnapshotTable.readSnapshotForTest(spark, stripped)
      .orderBy("k").collect().map(_.toSeq)
    assert(viaLists.toSeq === viaListing.toSeq)
  }

  test("a malformed files= line drops only its dir's list: the read " +
    "falls back to listing for that dir and stays exact") {
    val dir = tmp()
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    SnapshotTable.create(df, dir, Seq("k"), buckets = 4)
    val want = SnapshotTable.read(spark, dir).orderBy("k").collect().toSeq
    val clean = SnapshotTable.headOption(spark, dir).get
    val manifest = java.nio.file.Paths.get(dir, "_manifests", "v00000001.txt")
    val lines = java.nio.file.Files.readAllLines(manifest)
    val i = (0 until lines.size).find(lines.get(_).startsWith("files=")).get
    val broken = lines.get(i).split("\t", 2)(0).stripPrefix("files=")
    // corrupt the length field of the first file entry of one dir
    lines.set(i, lines.get(i).replaceFirst(":(\\d+)", ":12x4"))
    java.nio.file.Files.write(manifest, lines)
    // the local filesystem's checksum sidecar would reject the edit
    java.nio.file.Files.deleteIfExists(
      manifest.resolveSibling(".v00000001.txt.crc"))
    val head = SnapshotTable.headOption(spark, dir).get
    assert(!head.dirFiles.contains(broken))
    assert(head.dirFiles === clean.dirFiles - broken)
    assert(head.entries === clean.entries)
    assert(SnapshotTable.read(spark, dir).orderBy("k").collect().toSeq === want)
  }

  test("an unlistable file name drops only its dir's files= list; the " +
    "dir's bytes stay recorded, so metadataSizeBytes stays defined") {
    val dir = tmp()
    import spark.implicits._
    SnapshotTable.create((0 until 20).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s"), dir, Seq("k"), buckets = 2)
    val commitDir = new java.io.File(dir, "data").listFiles()
      .filter(_.getName.startsWith("c1-")).head
    val bucketDir = new java.io.File(commitDir, "_gb=0")
    val part = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(bucketDir, "odd,name.parquet")))
    SnapshotTable.recordedFilesForTest(spark, commitDir.getPath, 2)
      .foreach { case (entries, files, bytes) =>
        assert(entries.size === 2)
        val odd = entries.collectFirst {
          case (0, d) if d.endsWith("_gb=0") => d }.get
        assert(!files.contains(odd))
        assert(files.size === 1)
        assert(bytes.keySet === entries.map(_._2).toSet)
        assert(bytes(odd) > 0L)
        val snap = SnapshotTable.Snapshot(1L, "create", Seq("k"), 2,
          "k BIGINT, s STRING", "u", entries, dirBytes = bytes,
          dirFiles = files)
        assert(snap.metadataSizeBytes === Some(bytes.values.sum))
      }
  }

  test("coveredFiles reads a repeated dir once") {
    val files = Map("/t/d1" -> Seq(("a.parquet", 3L), ("b.parquet", 4L)),
      "/t/d2" -> Seq(("c.parquet", 5L)))
    assert(SnapshotTable.coveredFiles(Seq("/t/d1", "/t/d2", "/t/d1"), files) ===
      Some(Seq(("/t/d1/a.parquet", 3L), ("/t/d1/b.parquet", 4L),
        ("/t/d2/c.parquet", 5L))))
    assert(SnapshotTable.coveredFiles(Seq("/t/d1", "/t/d3"), files) === None)
  }

  test("symmetricDiff (readChanges) equals the exceptAll-pair spelling " +
    "on multisets with duplicates and nulls") {
    import spark.implicits._
    val newSide = Seq(
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(1L)), // 3×
      ("b", None), ("b", None),                          // 2× null-valued
      ("c", Some(3L))).toDF("s", "v")
    val oldSide = Seq(
      ("a", Some(1L)),                                   // 1× → 2 inserts
      ("b", None), ("b", None), ("b", None),             // 3× → 1 delete
      ("d", Some(4L))).toDF("s", "v")                    // → 1 delete
    val got = SnapshotTable.symmetricDiffForTest(newSide, oldSide)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val expected = Map(
      ("a", 1L, "insert") -> 2,
      ("b", null, "delete") -> 1,
      ("c", 3L, "insert") -> 1,
      ("d", 4L, "delete") -> 1)
    assert(got === expected)
  }
}
