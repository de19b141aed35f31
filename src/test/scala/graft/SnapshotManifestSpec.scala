package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotManifest, SnapshotTable}
import graft.sources.SnapshotTable.{ColStats, DeltaEntry, PartField, Snapshot}

/** The manifest codec ([[SnapshotManifest]]): every manifest the table
  * writes re-encodes to its own bytes, decode inverts encode on
  * generated snapshots, the decoder's tolerance rules, and
  * [[SnapshotTable.rename]] as decode → move dirs → encode. */
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

    val all = Seq(t, cf, kl, cl).flatMap(manifests)
    assert(all.exists(_._1.startsWith("b.audit.")))
    all.foreach { case (name, v, text) =>
      val snap = SnapshotManifest.decode(text, name, v)
      assert(SnapshotManifest.encode(snap) === text, name)
    }
    // the sequence reaches every manifest key the codec writes
    assert(all.map(_._3).flatMap(keysOf).toSet === Set("op", "keys",
      "buckets", "schema", "uuid", "ts", "statscols", "partspec",
      "changefeed", "prop", "cdc", "txn", "entry", "layout", "colmap",
      "constraint", "coldefault", "existsdefault", "dropped", "delta",
      "stats", "rows", "bytes", "files"))
    val kinds = all.flatMap { case (n, v, text) =>
      SnapshotManifest.decode(text, n, v).deltas.map(_.kind) }.toSet
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
    dirs <- Gen.listOf(ident).map(_.distinct.map(d => s"/r/data/c1-$d/_gb=0"))
    entries <- Gen.sequence[List[(Int, String)], (Int, String)](
      dirs.map(d => Gen.chooseNum(0, buckets - 1).map(_ -> d)))
    layout <- subMap(dirs, Gen.chooseNum(1, 64)).map(_.filter(_._2 != buckets))
    deltaDirs <- Gen.listOf(ident).map(_.distinct.map(d => s"/r/data/c2-$d/_gb=1"))
    deltas <- Gen.sequence[List[DeltaEntry], DeltaEntry](deltaDirs.map(d =>
      for {
        b <- Gen.chooseNum(0, buckets - 1)
        s <- Gen.chooseNum(1L, 1000L)
        k <- Gen.oneOf("rows", "tomb", "pos")
      } yield DeltaEntry(b, s, k, d)))
    cdc <- Gen.option(ident.map(d => s"/r/_cdc/c3-$d"))
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
      SnapshotManifest.decode(SnapshotManifest.encode(s), "gen", s.version) == s
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
    val clean = SnapshotManifest.decode(minimal.mkString("\n"), "m", 3L)
    assert(clean.dirFiles === Map("/r/d0" -> Seq("a.parquet" -> 10L),
      "/r/d1" -> Seq("b.parquet" -> 20L)))
    val withUnknown = SnapshotManifest.decode(
      (minimal :+ "futurekey=\tanything" :+ "noise").mkString("\n"), "m", 3L)
    assert(withUnknown === clean)
    for (bad <- Seq("files=/r/d1\tb.parquet:2x0", "files=/r/d1\tb.parquet",
        "files=/r/d1\t:20", "files=/r/d1\tb.parquet:-1", "files=/r/d1")) {
      val s = SnapshotManifest.decode(
        minimal.updated(minimal.size - 1, bad).mkString("\n"), "m", 3L)
      assert(s.dirFiles === Map("/r/d0" -> Seq("a.parquet" -> 10L)), bad)
      assert(s.entries === clean.entries)
    }
    val badHeader = intercept[IllegalArgumentException](SnapshotManifest
      .decode(("graft-snapshot-v0" +: minimal.tail).mkString("\n"), "m", 3L))
    assert(badHeader.getMessage.contains("not a graft-snapshot-v1 manifest"))
    val missing = intercept[RuntimeException](SnapshotManifest.decode(
      minimal.filterNot(_.startsWith("uuid=")).mkString("\n"), "m", 3L))
    assert(missing.getMessage.contains("missing field uuid"))
    intercept[IllegalArgumentException](SnapshotManifest.decode(
      (minimal :+ "delta=0\t2\tbogus\t/r/x").mkString("\n"), "m", 3L))
  }

  // ---- rename ----

  test("rename rewrites each manifest to its old bytes with the root " +
    "prefix substituted, and the moved table reads the same rows") {
    val base = tmp()
    val (from, to) = (s"$base/old/t", s"$base/new/t")
    SnapshotTable.create(rows(0 until 30, "a"), from, Seq("id"), buckets = 2,
      statsCols = Some(Seq("id")), changeFeed = true, partitionBy = Seq("p"))
    SnapshotTable.upsert(rows(0 until 3, "u"), from)
    SnapshotTable.rescaleBuckets(spark, from, 4)
    SnapshotTable.upsert(rows(3 until 6, "m"), from, mergeOnRead = true)
    SnapshotTable.delete(Seq(7L).toDF("id"), from, mergeOnRead = true)
    SnapshotTable.createBranch(spark, from, "b1")
    SnapshotTable.append(rows(100 until 102, "br"), from, branch = Some("b1"))
    def collectSorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().toSeq
    val want = collectSorted(SnapshotTable.read(spark, from))
    val wantBranch = collectSorted(
      SnapshotTable.read(spark, from, branch = Some("b1")))
    val before = manifests(from)
    SnapshotTable.rename(spark, from, to)
    val after = manifests(to)
    assert(after.map(_._1) === before.map(_._1))
    before.zip(after).foreach { case ((n, _, old), (_, _, now)) =>
      assert(old.contains(s"$from/"))
      assert(now === old.replace(s"$from/", s"$to/"), n)
    }
    assert(collectSorted(SnapshotTable.read(spark, to)) === want)
    assert(collectSorted(
      SnapshotTable.read(spark, to, branch = Some("b1"))) === wantBranch)
  }
}
