package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization internals: manifest-recorded file lists
  * (`files=` lines) and the listing-free read path they feed
  * ([[org.apache.spark.sql.GraftFileListBridge.StaticFileIndex]]).
  * The CONTENT correctness of every consumer is the existing suites'
  * job; this spec pins the mechanism itself — recording, carry-forward,
  * byte agreement, and the per-dir listing ([[SnapshotTable.filesOf]])
  * when a dir's list is absent or malformed, under every reader. */
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
    // manifests record dirs relative to the table root
    val broken = s"$dir/" + lines.get(i).split("\t", 2)(0).stripPrefix("files=")
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

  test("filesOf reads a repeated dir once and lists a dir without a list") {
    // the listing keeps only data files: `_` and `.` names and subdirs
    // stay out
    val d3 = java.nio.file.Files.createTempDirectory("graft_flist_dir")
    Seq("p1.parquet" -> 6, "_SUCCESS" -> 0, ".p1.parquet.crc" -> 2,
      "p0.parquet" -> 7).foreach { case (n, len) =>
      java.nio.file.Files.write(d3.resolve(n), new Array[Byte](len)) }
    java.nio.file.Files.createDirectory(d3.resolve("_sub"))
    val files = Map("/t/d1" -> Seq(("a.parquet", 3L), ("b.parquet", 4L)),
      "/t/d2" -> Seq(("c.parquet", 5L)))
    assert(SnapshotTable.filesOf(spark, Seq("/t/d1", "/t/d2", "/t/d1"),
      files) === Seq(("/t/d1/a.parquet", 3L), ("/t/d1/b.parquet", 4L),
        ("/t/d2/c.parquet", 5L)))
    assert(SnapshotTable.filesOf(spark, Seq("/t/d1", d3.toString), files) ===
      Seq(("/t/d1/a.parquet", 3L), ("/t/d1/b.parquet", 4L),
        (s"$d3/p0.parquet", 7L), (s"$d3/p1.parquet", 6L)))
  }

  /** Corrupt the `files=` line of the first dir in `root`'s head
    * manifest that `pick` accepts; returns that dir. */
  private def corruptFileList(root: String)(pick: String => Boolean): String = {
    val head = SnapshotTable.headOption(spark, root).get
    val manifest = java.nio.file.Paths.get(root, "_manifests",
      f"v${head.version}%08d.txt")
    val lines = java.nio.file.Files.readAllLines(manifest)
    // manifests record dirs relative to the table root
    def dirOf(l: String) = s"$root/" + l.stripPrefix("files=").split("\t", 2)(0)
    val i = (0 until lines.size).find { j =>
      val l = lines.get(j)
      l.startsWith("files=") && pick(dirOf(l))
    }.get
    val dir = dirOf(lines.get(i))
    lines.set(i, lines.get(i).replaceFirst(":(\\d+)", ":12x4"))
    java.nio.file.Files.write(manifest, lines)
    // the local filesystem's checksum sidecar would reject the edit
    java.nio.file.Files.deleteIfExists(
      manifest.resolveSibling(s".${manifest.getFileName}.crc"))
    assert(!SnapshotTable.headOption(spark, root).get.dirFiles.contains(dir))
    dir
  }

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def v2(root: String) = spark.read.format("graft-snapshot").load(root)

  test("every reader returns the same rows with one dir's files= line " +
    "corrupted: V1 read, readForKeys, V2 and merge-on-read scans") {
    import spark.implicits._
    val dir = tmp()
    val rows = (0 until 60).map(i => (i.toLong, s"s$i")).toDF("k", "s")
    SnapshotTable.create(rows, dir, Seq("k"), buckets = 4)
    SnapshotTable.upsert(Seq((1L, "U1"), (2L, "U2"), (61L, "N61"))
      .toDF("k", "s"), dir, mergeOnRead = true)
    SnapshotTable.delete(Seq(3L, 4L).toDF("k"), dir, mergeOnRead = true)
    val head = SnapshotTable.headOption(spark, dir).get
    assert(head.deltas.map(_.kind).toSet === Set("rows", "tomb"))
    val probe = (0L until 70L).toDF("k")
    def readers = Seq(
      "read" -> sorted(SnapshotTable.read(spark, dir)),
      "readForKeys" -> sorted(SnapshotTable.readForKeys(probe, dir)),
      "mor scan" -> sorted(v2(dir)))
    assert(v2(dir).queryExecution.executedPlan.toString
      .contains("merge-on-read ("))
    val want = readers
    assert(want.head._2.size === 59)
    // one base dir, then one rows delta, then one tombstone delta
    val rowsDir = head.deltas.find(_.kind == "rows").get.dir
    val tombDir = head.deltas.find(_.kind == "tomb").get.dir
    Seq[String => Boolean](head.entries.map(_._2).toSet, _ == rowsDir,
      _ == tombDir).foreach { pick =>
      val broken = corruptFileList(dir)(pick)
      assert(readers === want, broken)
    }
    // the compacted table plans the plain V2 scan
    SnapshotTable.compact(spark, dir)
    val wantV2 = sorted(v2(dir))
    assert(wantV2 === want.head._2)
    corruptFileList(dir)(_ => true)
    assert(sorted(v2(dir)) === wantV2)
    assert(sorted(SnapshotTable.read(spark, dir)) === wantV2)
  }

  test("the positional scan and a CDF batch read return the same rows " +
    "with one dir's files= line corrupted") {
    import spark.implicits._
    val kl = tmp()
    SnapshotTable.create((0 until 30).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s"), kl, Seq.empty, buckets = 1)
    SnapshotTable.deleteWhere(spark, kl, col("k") < 5L, mergeOnRead = true)
    val posDir = SnapshotTable.headOption(spark, kl).get.deltas.head.dir
    assert(v2(kl).queryExecution.executedPlan.toString
      .contains("positional merge-on-read"))
    val want = sorted(v2(kl))
    assert(want.size === 25)
    corruptFileList(kl)(_ == posDir)
    assert(sorted(v2(kl)) === want)
    assert(sorted(SnapshotTable.read(spark, kl)) === want)

    val cf = tmp()
    SnapshotTable.create((0 until 20).map(i => (i.toLong, s"s$i"))
      .toDF("k", "s"), cf, Seq("k"), buckets = 2, changeFeed = true)
    SnapshotTable.upsert(Seq((1L, "U1"), (30L, "N30")).toDF("k", "s"), cf)
    def feed = sorted(spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .option("endingVersion", 2).load(cf))
    val wantFeed = feed
    assert(wantFeed.size === 20 + 3)
    val cdc = SnapshotTable.headOption(spark, cf).get.cdc.get
    corruptFileList(cf)(_ == cdc)
    assert(feed === wantFeed)
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
