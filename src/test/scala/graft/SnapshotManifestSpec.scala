package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotManifest, SnapshotTable}
import graft.sources.SnapshotTable.{ColStats, DeltaEntry, PartField, Snapshot}

/** The manifest codec ([[SnapshotManifest]]): every manifest the table
  * writes re-encodes to its own bytes and records no dir with its root,
  * decode inverts encode on generated snapshots, v1 (absolute-dir)
  * manifests still decode, the decoder's tolerance rules, and
  * [[SnapshotTable.rename]] as one directory move. */
class SnapshotManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_manifest").toString

  private val ManifestName = """(?:b\..+\.)?v(\d{8,})\.txt""".r

  /** (file name, version, text) of every main and branch manifest. */
  private def manifests(root: String): Seq[(String, Long, String)] =
    new java.io.File(root, "_manifests").listFiles().toSeq
      .map(_.getName).sorted.collect { case n @ ManifestName(v) =>
        (n, v.toLong, new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root, "_manifests", n)), "UTF-8"))
      }

  private def keysOf(text: String): Set[String] =
    text.split("\n").toSet.filter(_.contains('=')).map(_.takeWhile(_ != '='))

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag$i", i % 3, i * 1.5)).toDF("id", "s", "p", "x")

  test("encode(decode(bytes)) == bytes for every manifest a mixed " +
    "commit sequence writes") {
    val base = tmp()
    val t = s"$base/t"
    SnapshotTable.create(rows(0 until 40, "a"), t, Seq("id"), buckets = 4,
      statsCols = Some(Seq("id", "x")), partitionBy = Seq("p"))
    SnapshotTable.append(rows(40 until 50, "b"), t)
    SnapshotTable.upsert(rows(0 until 5, "u"), t)
    SnapshotTable.upsert(rows(5 until 10, "m"), t, mergeOnRead = true)
    SnapshotTable.delete(Seq(11L, 12L).toDF("id"), t, mergeOnRead = true)
    SnapshotTable.deleteWhere(spark, t, col("id") === 20L, mergeOnRead = true)
    SnapshotTable.compact(spark, t)
    SnapshotTable.rescaleBuckets(spark, t, 8)
    SnapshotTable.renameColumn(spark, t, "s", "label")
    SnapshotTable.addColumns(spark, t,
      Seq(StructField("w", LongType) -> Some("7")))
    SnapshotTable.addConstraint(spark, t, "id_nonneg", "id >= 0")
    SnapshotTable.setTableProperty(spark, t, "rowlevelmode",
      Some("merge-on-read"))
    SnapshotTable.upsert(SnapshotTable.read(spark, t).filter(col("id") < 3L)
      .withColumn("label", lit("sink")), t, txn = Some(("sink-app", 1L)))
    SnapshotTable.createBranch(spark, t, "audit")
    SnapshotTable.append(SnapshotTable.read(spark, t).filter(col("id") === 1L)
      .withColumn("id", lit(100L)), t, branch = Some("audit"))
    // change feed, keyless positional delete, dropped column, clone
    val cf = s"$base/cf"
    SnapshotTable.create(rows(0 until 20, "a"), cf, Seq("id"), buckets = 2,
      changeFeed = true)
    SnapshotTable.upsert(rows(0 until 4, "c"), cf)
    SnapshotTable.dropColumn(spark, cf, "x")
    val kl = s"$base/kl"
    SnapshotTable.create(rows(0 until 20, "k"), kl, Seq.empty, buckets = 1)
    SnapshotTable.deleteWhere(spark, kl, col("id") < 5L, mergeOnRead = true)
    val cl = s"$base/cl"
    SnapshotTable.cloneTable(spark, t, cl)

    val all = Seq(t, cf, kl, cl).flatMap(r => manifests(r).map(r -> _))
    assert(all.exists(_._2._1.startsWith("b.audit.")))
    all.foreach { case (root, (name, v, text)) =>
      val snap = SnapshotManifest.decode(text, root, name, v)
      assert(SnapshotManifest.encode(snap, root) === text, name)
      // dirs under the root are relative, so the root is never recorded
      assert(!text.contains(root), name)
      assert(snap.entries.forall(e => e._2.startsWith(s"$root/") ||
        e._2.startsWith(s"$t/")), name)
    }
    // the clone's entries stay absolute at its source
    assert(manifests(cl).forall(_._3.contains(s"\t$t/data/")))
    // the sequence reaches every manifest key the codec writes
    assert(all.map(_._2._3).flatMap(keysOf).toSet === Set("op", "keys",
      "buckets", "schema", "uuid", "ts", "statscols", "partspec",
      "changefeed", "prop", "cdc", "txn", "entry", "layout", "colmap",
      "constraint", "coldefault", "existsdefault", "dropped", "delta",
      "stats", "rows", "bytes", "files"))
    val kinds = all.flatMap { case (root, (n, v, text)) =>
      SnapshotManifest.decode(text, root, n, v).deltas.map(_.kind) }.toSet
    assert(kinds === Set("rows", "tomb", "pos"))
  }

  // ---- generated snapshots ----

  private val ident = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString

  /** Line-safe free text: anything but tab and newline. */
  private val text = Gen.listOf(Gen.oneOf(Gen.asciiPrintableChar,
    Gen.oneOf('é', '☃', '='))).map(_.mkString)

  private val typeGen = Gen.oneOf("BIGINT", "DOUBLE", "STRING", "BOOLEAN")

  private def statValue(tpe: String): Gen[Any] = tpe match {
    case "BIGINT" => Gen.chooseNum(Long.MinValue, Long.MaxValue)
    case "DOUBLE" => Gen.chooseNum(-1e300, 1e300)
    case "STRING" => Gen.asciiStr // control chars exercise the JSON escapes
    case _ => Gen.oneOf(true, false)
  }

  private def subMap[V](keys: Seq[String], v: Gen[V]): Gen[Map[String, V]] =
    Gen.someOf(keys).flatMap(ks =>
      Gen.sequence[List[(String, V)], (String, V)](ks.map(k => v.map(k -> _))))
      .map(_.toMap)

  private val partSpecGen: Gen[Seq[PartField]] = for {
    cols <- Gen.listOf(ident).map(_.distinct.take(3))
    txs <- Gen.listOfN(cols.size,
      Gen.oneOf("identity", "hours", "days", "months", "years"))
    evolved <- Gen.oneOf(true, false)
    idxs <- Gen.pick(cols.size, 0 until 10).map(_.toSeq)
    active <- Gen.listOfN(cols.size, Gen.oneOf(true, false))
  } yield cols.indices.map { i =>
    if (evolved) PartField(txs(i), cols(i), idxs(i), active(i))
    else PartField(txs(i), cols(i), i)
  }

  private val Root = "/r"

  private val snapshotGen: Gen[Snapshot] = for {
    v <- Gen.chooseNum(1L, Long.MaxValue)
    op <- ident
    colNames <- Gen.nonEmptyListOf(ident).map(_.distinct)
    types <- Gen.listOfN(colNames.size, typeGen)
    keys <- Gen.someOf(colNames).map(_.toSeq)
    buckets <- Gen.chooseNum(1, 64)
    uuid <- ident
    ts <- Gen.chooseNum(0L, Long.MaxValue)
    statsCols <- Gen.someOf(colNames).map(_.toSeq)
    inside <- Gen.listOf(ident).map(_.distinct.map(d => s"$Root/data/c1-$d/_gb=0"))
    // absolute dirs outside the root (a shallow clone's source), in
    // spellings that must not read as under it
    outside <- Gen.listOf(for {
      pre <- Gen.oneOf("/src", "/rr", "file:/src", "hdfs://nn:8020/src")
      d <- ident
    } yield s"$pre/data/c0-$d/_gb=0").map(_.distinct)
    dirs = inside ++ outside
    entries <- Gen.sequence[List[(Int, String)], (Int, String)](
      dirs.map(d => Gen.chooseNum(0, buckets - 1).map(_ -> d)))
    layout <- subMap(dirs, Gen.chooseNum(1, 64)).map(_.filter(_._2 != buckets))
    deltaDirs <- Gen.listOf(ident).map(_.distinct.map(d => s"$Root/data/c2-$d/_gb=1"))
    deltas <- Gen.sequence[List[DeltaEntry], DeltaEntry](deltaDirs.map(d =>
      for {
        b <- Gen.chooseNum(0, buckets - 1)
        s <- Gen.chooseNum(1L, 1000L)
        k <- Gen.oneOf("rows", "tomb", "pos")
      } yield DeltaEntry(b, s, k, d)))
    cdc <- Gen.option(ident.map(d => s"$Root/data/c3-$d/_cdc"))
    live = dirs ++ deltaDirs ++ cdc
    typed = colNames.zip(types)
    stats <- subMap(live, Gen.someOf(typed).flatMap(cs =>
      Gen.sequence[List[(String, ColStats)], (String, ColStats)](cs.toList.map {
        case (c, tpe) => for {
          lo <- Gen.option(statValue(tpe))
          hi <- Gen.option(statValue(tpe))
          nn <- Gen.oneOf(true, false)
        } yield c -> ColStats(lo, hi, nn)
      })).map(_.toMap))
    rowsM <- subMap(live, Gen.chooseNum(0L, Long.MaxValue))
    bytesM <- subMap(live, Gen.chooseNum(0L, Long.MaxValue))
    filesM <- subMap(live, Gen.listOf(for {
      n <- ident
      len <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (s"part-$n.parquet", len)))
    txn <- Gen.option(for {
      app <- text.map("app:" + _)
      n <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (app, n))
    changeFeed <- Gen.oneOf(true, false)
    colMap <- subMap(colNames, ident)
    dropped <- Gen.listOf(ident)
    constraints <- subMap(Seq("c_a", "c_b"), text)
    partSpec <- partSpecGen
    colDefaults <- subMap(colNames, text)
    existsDefaults <- subMap(colNames, text)
    props <- subMap(Seq("rowlevelmode", "owner", "k=v"), text)
  } yield Snapshot(v, op, keys, buckets,
    typed.map { case (c, tpe) => s"$c $tpe" }.mkString(", "), uuid,
    entries, ts, statsCols, stats, txn, rowsM, bytesM, deltas, changeFeed,
    cdc, layout, colMap, dropped, constraints, partSpec, colDefaults,
    existsDefaults, props, filesM)

  test("decode(encode(s)) == s on generated snapshots") {
    val prop = Prop.forAll(snapshotGen) { s =>
      SnapshotManifest.decode(SnapshotManifest.encode(s, Root), Root, "gen",
        s.version) == s
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- tolerance ----

  private val minimal = Seq(SnapshotManifest.Header, "op=create", "keys=id",
    "buckets=2", "schema=id BIGINT", "uuid=u1", "entry=0\t/r/d0",
    "entry=1\t/r/d1", "files=/r/d0\ta.parquet:10",
    "files=/r/d1\tb.parquet:20")

  test("unknown keys are ignored, a malformed files= line drops only " +
    "its dir's list, a bad header or missing field fails") {
    val clean = SnapshotManifest.decode(minimal.mkString("\n"), Root, "m", 3L)
    assert(clean.dirFiles === Map("/r/d0" -> Seq("a.parquet" -> 10L),
      "/r/d1" -> Seq("b.parquet" -> 20L)))
    val withUnknown = SnapshotManifest.decode(
      (minimal :+ "futurekey=\tanything" :+ "noise").mkString("\n"), Root, "m",
      3L)
    assert(withUnknown === clean)
    for (bad <- Seq("files=/r/d1\tb.parquet:2x0", "files=/r/d1\tb.parquet",
        "files=/r/d1\t:20", "files=/r/d1\tb.parquet:-1", "files=/r/d1")) {
      val s = SnapshotManifest.decode(
        minimal.updated(minimal.size - 1, bad).mkString("\n"), Root, "m", 3L)
      assert(s.dirFiles === Map("/r/d0" -> Seq("a.parquet" -> 10L)), bad)
      assert(s.entries === clean.entries)
    }
    val badHeader = intercept[IllegalArgumentException](SnapshotManifest
      .decode(("graft-snapshot-v0" +: minimal.tail).mkString("\n"), Root, "m",
        3L))
    assert(badHeader.getMessage.contains(
      "not a graft-snapshot-v1/v2 manifest"))
    val missing = intercept[RuntimeException](SnapshotManifest.decode(
      minimal.filterNot(_.startsWith("uuid=")).mkString("\n"), Root, "m", 3L))
    assert(missing.getMessage.contains("missing field uuid"))
    intercept[IllegalArgumentException](SnapshotManifest.decode(
      (minimal :+ "delta=0\t2\tbogus\t/r/x").mkString("\n"), Root, "m", 3L))
  }

  // ---- v1 manifests ----

  /** A manifest as the v1 format wrote it: every dir absolute, bucket
    * leaves as the root was given, partition leaves scheme-qualified as
    * the commit walk's listing returned them, and one clone source dir
    * outside the root. */
  private val GoldenRoot = "/w/golden/t"
  private val goldenV1 = Seq("graft-snapshot-v1", "op=upsert", "keys=id",
    "buckets=2", "schema=id BIGINT, s STRING, p INT", "uuid=9f2c41d07a1b",
    "ts=1760000000000", "statscols=id", "partspec=identity(p)",
    "changefeed=true", "cdc=/w/golden/t/data/c3-9f2c41d07a1b/_cdc",
    "entry=0\t/w/golden/t/data/c1-0a1b2c3d4e5f/_gb=0",
    "entry=1\tfile:/w/golden/t/data/c3-9f2c41d07a1b/_gb=1/_pt0=2",
    "entry=1\t/src/t/data/c1-77aa88bb99cc/_gb=1",
    "layout=/w/golden/t/data/c1-0a1b2c3d4e5f/_gb=0\t1",
    "delta=0\t3\trows\tfile:/w/golden/t/data/c3-9f2c41d07a1b/_gb=0/_pt0=1",
    "stats=file:/w/golden/t/data/c3-9f2c41d07a1b/_gb=1/_pt0=2\t" +
      "{\"id\":{\"lo\":1,\"hi\":9,\"nn\":false}}",
    "rows=/w/golden/t/data/c1-0a1b2c3d4e5f/_gb=0\t12",
    "rows=/src/t/data/c1-77aa88bb99cc/_gb=1\t5",
    "bytes=/w/golden/t/data/c3-9f2c41d07a1b/_cdc\t640",
    "bytes=file:/w/golden/t/data/c3-9f2c41d07a1b/_gb=0/_pt0=1\t320",
    "files=file:/w/golden/t/data/c3-9f2c41d07a1b/_gb=1/_pt0=2\t" +
      "part-00000.parquet:900",
    "files=/src/t/data/c1-77aa88bb99cc/_gb=1\tpart-00001.parquet:800")
    .mkString("", "\n", "\n")

  test("a v1 manifest (absolute dirs in both spellings) decodes to the " +
    "snapshot its v2 re-encoding decodes to") {
    val snap = SnapshotManifest.decode(goldenV1, GoldenRoot, "golden", 4L)
    val v2 = SnapshotManifest.encode(snap, GoldenRoot)
    assert(SnapshotManifest.decode(v2, GoldenRoot, "golden", 4L) === snap)
    assert(v2.startsWith(SnapshotManifest.Header + "\n"))
    assert(!v2.contains(GoldenRoot))
    val (c1, c3) = (s"$GoldenRoot/data/c1-0a1b2c3d4e5f",
      s"$GoldenRoot/data/c3-9f2c41d07a1b")
    val outside = "/src/t/data/c1-77aa88bb99cc/_gb=1"
    assert(snap.entries === Seq(0 -> s"$c1/_gb=0", 1 -> s"$c3/_gb=1/_pt0=2",
      1 -> outside))
    assert(snap.deltas.map(_.dir) === Seq(s"$c3/_gb=0/_pt0=1"))
    assert(snap.cdc === Some(s"$c3/_cdc"))
    assert(snap.dirLayout === Map(s"$c1/_gb=0" -> 1))
    assert(snap.dirStats.keySet === Set(s"$c3/_gb=1/_pt0=2"))
    assert(snap.dirRows === Map(s"$c1/_gb=0" -> 12L, outside -> 5L))
    assert(snap.dirBytes === Map(s"$c3/_cdc" -> 640L,
      s"$c3/_gb=0/_pt0=1" -> 320L))
    assert(snap.dirFiles === Map(
      s"$c3/_gb=1/_pt0=2" -> Seq("part-00000.parquet" -> 900L),
      outside -> Seq("part-00001.parquet" -> 800L)))
    assert(v2.contains("\nentry=1\tdata/c3-9f2c41d07a1b/_gb=1/_pt0=2\n"))
    assert(v2.contains(s"\nentry=1\t$outside\n"))
    // read through the scheme-qualified root, the bare dirs take its
    // spelling too
    val q = SnapshotManifest.decode(goldenV1, s"file:$GoldenRoot", "q", 4L)
    assert(q.entries.map(_._2) === Seq(s"file:$c1/_gb=0",
      s"file:$c3/_gb=1/_pt0=2", outside))
    // a v1 dir is never root-relative: under a relative root it was
    // spelled from that root
    val rel = SnapshotManifest.decode(goldenV1.replaceAll(
      "(?<=[=\t])" + java.util.regex.Pattern.quote(GoldenRoot + "/"), "w/t/"),
      "w/t", "rel", 4L)
    assert(rel.entries.head._2 === "w/t/data/c1-0a1b2c3d4e5f/_gb=0")
    assert(SnapshotManifest.decode(SnapshotManifest.encode(rel, "w/t"), "w/t",
      "rel", 4L) === rel)
  }

  // ---- rename ----

  /** A partitioned table with history: merge-on-write and merge-on-read
    * upserts, a rescale, a delete, a change feed and a branch commit. */
  private def mixedTable(root: String): Unit = {
    SnapshotTable.create(rows(0 until 30, "a"), root, Seq("id"), buckets = 2,
      statsCols = Some(Seq("id")), changeFeed = true, partitionBy = Seq("p"))
    SnapshotTable.upsert(rows(0 until 3, "u"), root)
    SnapshotTable.rescaleBuckets(spark, root, 4)
    SnapshotTable.upsert(rows(3 until 6, "m"), root, mergeOnRead = true)
    SnapshotTable.delete(Seq(7L).toDF("id"), root, mergeOnRead = true)
    SnapshotTable.createBranch(spark, root, "b1")
    SnapshotTable.append(rows(100 until 102, "br"), root, branch = Some("b1"))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("id").collect().toSeq

  /** (latest rows, branch `b1` rows) of the table at `root`. */
  private def contents(root: String) = (sortedRows(SnapshotTable.read(spark,
    root)), sortedRows(SnapshotTable.read(spark, root, branch = Some("b1"))))

  private def manifestPath(root: String, name: String) =
    java.nio.file.Paths.get(root, "_manifests", name)

  test("rename is one directory move: every main and branch manifest " +
    "keeps its bytes and its file, and the moved table reads the same") {
    val base = tmp()
    val (from, to) = (s"$base/old/t", s"$base/new/t")
    mixedTable(from)
    val want = contents(from)
    val before = manifests(from)
    assert(before.exists(_._1.startsWith("b.b1.")))
    // back-dated, so that a rewrite would show in the mtime
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000L)
    before.foreach(m => java.nio.file.Files.setLastModifiedTime(
      manifestPath(from, m._1), old))
    SnapshotTable.rename(spark, from, to)
    assert(!new java.io.File(from).exists)
    assert(manifests(to) === before)
    before.foreach(m => assert(java.nio.file.Files.getLastModifiedTime(
      manifestPath(to, m._1)) === old, m._1))
    assert(contents(to) === want)
  }

  test("a shallow clone renames: its source dirs stay absolute, it reads " +
    "the same rows, and the source is untouched") {
    val base = tmp()
    val (src, cl, moved) = (s"$base/src", s"$base/cl", s"$base/moved/cl")
    SnapshotTable.create(rows(0 until 20, "a"), src, Seq("id"), buckets = 2,
      partitionBy = Seq("p"))
    SnapshotTable.cloneTable(spark, src, cl)
    SnapshotTable.append(rows(50 until 53, "c"), cl)
    val want = sortedRows(SnapshotTable.read(spark, cl))
    val (srcRows, srcManifests) =
      (sortedRows(SnapshotTable.read(spark, src)), manifests(src))
    val clManifests = manifests(cl)
    SnapshotTable.rename(spark, cl, moved)
    assert(manifests(moved) === clManifests)
    assert(sortedRows(SnapshotTable.read(spark, moved)) === want)
    val head = SnapshotTable.headOption(spark, moved).get
    assert(head.entries.exists(_._2.startsWith(s"$src/data/")))
    assert(head.entries.exists(_._2.startsWith(s"$moved/data/")))
    assert(manifests(src) === srcManifests)
    assert(sortedRows(SnapshotTable.read(spark, src)) === srcRows)
  }

  /** `text`, a v2 manifest of the table at `root`, as the v1 format
    * spelled it: every dir absolute, partition leaves scheme-qualified
    * against the working directory. */
  private def v1Spelling(text: String, root: String, v: Long): String =
    SnapshotManifest.encode(SnapshotManifest.decode(text, root, "m", v),
      "/elsewhere").split("\n").map {
      case SnapshotManifest.Header => "graft-snapshot-v1"
      case l if l.contains("/_pt0=") =>
        l.replace(s"$root/", s"file:${absolute(root)}/")
      case l => l
    }.mkString("", "\n", "\n")

  private def absolute(p: String): String =
    java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString

  /** Swap every manifest of the table at `root` for its v1 spelling;
    * returns the v2 manifests it replaced. */
  private def toV1(root: String): Seq[(String, Long, String)] = {
    val v2 = manifests(root)
    v2.foreach { case (n, v, text) =>
      val f = manifestPath(root, n)
      java.nio.file.Files.write(f, v1Spelling(text, root, v).getBytes("UTF-8"))
      // the local filesystem's checksum sidecar would reject the edit
      java.nio.file.Files.deleteIfExists(f.resolveSibling(s".$n.crc"))
    }
    v2
  }

  test("a table with v1 manifests renames: each is re-encoded to the v2 " +
    "bytes at the old root, then the moved table reads the same") {
    val base = tmp()
    val (from, to) = (s"$base/old/t", s"$base/new/t")
    mixedTable(from)
    val want = contents(from)
    val v2 = toV1(from)
    val v1 = manifests(from)
    assert(v1.forall(_._3.startsWith("graft-snapshot-v1\n")))
    assert(v1.forall(_._3.contains(s"\tfile:$from/data/")))
    assert(contents(from) === want)
    SnapshotTable.rename(spark, from, to)
    assert(manifests(to) === v2)
    assert(contents(to) === want)
  }

  test("a v1 partitioned table written through a relative root: decode " +
    "spells its qualified partition leaves from the root, vacuum keeps " +
    "them, and rename moves them") {
    // the v1 writer qualified partition leaves against its working
    // directory: `file:/<cwd>/w/t/…` beside bare `w/t/…` bucket leaves
    val relGolden = goldenV1
      .replace(s"file:$GoldenRoot/", s"file:${absolute("w/t")}/")
      .replaceAll("(?<=[=\t])" + java.util.regex.Pattern.quote(GoldenRoot + "/"),
        "w/t/")
    val rel = SnapshotManifest.decode(relGolden, "w/t", "rel", 4L)
    assert(rel.entries.map(_._2) === Seq("w/t/data/c1-0a1b2c3d4e5f/_gb=0",
      "w/t/data/c3-9f2c41d07a1b/_gb=1/_pt0=2",
      "/src/t/data/c1-77aa88bb99cc/_gb=1"))
    assert(rel.deltas.map(_.dir) ===
      Seq("w/t/data/c3-9f2c41d07a1b/_gb=0/_pt0=1"))
    assert(SnapshotManifest.encode(rel, "w/t") === SnapshotManifest.encode(
      SnapshotManifest.decode(goldenV1, GoldenRoot, "golden", 4L), GoldenRoot))

    // a table at a relative root, under the build's `target/` dir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val base = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft_relroot")
    try {
      val root = s"$base/t"
      assert(!root.startsWith("/"))
      SnapshotTable.create(rows(0 until 30, "a"), root, Seq("id"),
        buckets = 2, partitionBy = Seq("p"))
      SnapshotTable.upsert(rows(0 until 3, "u"), root)
      val want = sortedRows(SnapshotTable.read(spark, root))
      val v2 = toV1(root)
      assert(manifests(root).forall(_._3.contains(s"\tfile:${absolute(root)}/")))
      assert(SnapshotTable.vacuum(spark, root, keepVersions = 10) === (0, 0))
      assert(sortedRows(SnapshotTable.read(spark, root)) === want)
      val to = s"${tmp()}/moved/t"
      SnapshotTable.rename(spark, root, to)
      assert(manifests(to) === v2)
      assert(sortedRows(SnapshotTable.read(spark, to)) === want)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
