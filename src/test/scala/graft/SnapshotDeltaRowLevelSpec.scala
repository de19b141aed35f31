package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotTable

/** Delta-based (merge-on-read) SQL row-level operations
  * ([[graft.sources.SnapshotDeltaRowLevelOperation]]) and the sticky
  * table-property plumbing that routes to them: positional rowId
  * through the identity metadata columns, O(matched) write
  * amplification where the group-based shape rewrites whole buckets,
  * exact composition across consecutive MOR statements, and the
  * copy-on-write default staying untouched. */
class SnapshotDeltaRowLevelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private var n = 0
  /** Fresh catalog per test (catalog instances cache their warehouse). */
  private def freshCat(): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory("graft_sdrl")
    d.toFile.deleteOnExit()
    n += 1
    val cat = s"sdrlcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d.toString)
    (cat, d.toString)
  }

  private def head(root: String) =
    SnapshotTable.versions(spark, root).maxBy(_.version)

  test("table properties: persisted at CREATE, sticky across commits, " +
      "ALTER SET/UNSET round-trips, SHOW TBLPROPERTIES serves them") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.p (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, id)) " +
      "TBLPROPERTIES ('rowlevelmode'='merge-on-read')")
    assert(head(s"$wh/p").props === Map("rowlevelmode" -> "merge-on-read"))
    // sticky: a data commit carries it forward
    spark.sql(s"INSERT INTO $cat.p SELECT id, id FROM range(10)")
    assert(head(s"$wh/p").props === Map("rowlevelmode" -> "merge-on-read"))
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.p")
      .filter(col("key") === "rowlevelmode")
      .select("value").as[String].head() === "merge-on-read")
    // ALTER round-trip
    spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES " +
      "('rowlevelmode'='copy-on-write')")
    assert(head(s"$wh/p").props === Map("rowlevelmode" -> "copy-on-write"))
    spark.sql(s"ALTER TABLE $cat.p UNSET TBLPROPERTIES ('rowlevelmode')")
    assert(head(s"$wh/p").props === Map.empty)
    // invalid value refused at declaration
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.p SET TBLPROPERTIES ('rowlevelmode'='nope')"))
  }

  test("identity metadata columns: SELECTable provenance, unique per " +
      "row, stable under stats pruning, served over event deltas") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.m (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, id))")
    spark.sql(s"INSERT INTO $cat.m SELECT id, id * 10 FROM range(20)")
    val rows = spark.sql(
      s"SELECT id, _sdv_file, _sdv_pos FROM $cat.m").collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getString(1).startsWith("c2-")))
    assert(rows.map(r => (r.getString(1), r.getLong(2)))
      .distinct.length === 20)
    // filters on data columns still prune/evaluate around identity
    assert(spark.sql(s"SELECT _sdv_pos FROM $cat.m WHERE id = 7")
      .collect().length === 1)
    // identity over a key-EVENT delta layer (v3): every live row once,
    // each at its own position — the upserted key's at the winner's
    SnapshotTable.upsert(Seq((3L, 999L)).toDF("id", "v"), s"$wh/m",
      mergeOnRead = true)
    val ev = spark.sql(
      s"SELECT id, v, _sdv_file, _sdv_pos FROM $cat.m").collect()
    assert(ev.map(_.getLong(0)).sorted.toSeq === (0L until 20L))
    assert(ev.map(r => (r.getString(2), r.getLong(3)))
      .distinct.length === 20)
    val win = ev.filter(_.getLong(0) == 3L)
    assert(win.map(_.getLong(1)).toSeq === Seq(999L))
    assert(win.forall(_.getString(2).startsWith("c3-")))
  }

  test("MOR UPDATE/DELETE/MERGE: delta commits, O(matched) writes, " +
      "exact results, composition, time travel, compaction folds") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id)) " +
      "TBLPROPERTIES ('rowlevelmode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(20000)")
    val s2 = head(s"$wh/t")

    // UPDATE: update-delta commit — base entries untouched
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE id < 10")
    val s3 = head(s"$wh/t")
    assert(s3.op === "update-delta")
    assert(s2.entries.toSet.subsetOf(s3.entries.toSet))
    assert(s3.deltas.nonEmpty && s3.deltas.forall(d =>
      d.kind == "pos" && d.seq == s3.version))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").as[Long].head() ===
      (0 until 20000).map(_ * 10L).sum + 10 * 1000L)

    // O(matched) write amplification: the update touched 10 of 20000
    // rows; staged bytes are a small fraction of the base, staged rows
    // exactly the matched count on both sides of the delta
    val baseBytes = s2.entries.map(e => s2.dirBytes(e._2)).sum
    val newData = s3.entries.filterNot(s2.entries.contains)
    val newPos = s3.deltas.map(d => (d.bucket, d.dir))
    val newBytes = (newData ++ newPos).map(d => s3.dirBytes(d._2)).sum
    assert(newBytes > 0 && newBytes < baseBytes / 4,
      s"update staged $newBytes bytes vs $baseBytes base")
    assert(newData.map(d => s3.dirRows(d._2)).sum === 10L)
    assert(newPos.map(d => s3.dirRows(d._2)).sum === 10L)

    // translatable DELETE routes to one-pass positional deleteWhere
    spark.sql(s"DELETE FROM $cat.t WHERE v >= 900 AND v < 1000")
    val s4 = head(s"$wh/t")
    assert(s4.op === "delete-pos")
    assert(s4.entries === s3.entries)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .as[Long].head() === 19990L)

    // subquery DELETE: untranslatable -> the row-level delta operation
    spark.sql(s"DELETE FROM $cat.t WHERE id IN " +
      "(SELECT id FROM range(80, 85))")
    val s4b = head(s"$wh/t")
    assert(s4b.op === "delete-delta")
    assert(s4b.entries === s3.entries)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t")
      .as[Long].head() === 19985L)

    // MERGE over the pending pos layers: mixed actions, one commit
    spark.sql("SELECT id FROM range(0, 30) UNION ALL SELECT 200 AS id")
      .createOrReplaceTempView("sdrl_src")
    spark.sql(s"""MERGE INTO $cat.t t USING sdrl_src s ON t.id = s.id
      |WHEN MATCHED AND t.id < 5 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET v = t.v + 1
      |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1)
      |""".stripMargin)
    val s5 = head(s"$wh/t")
    assert(s5.op === "merge-delta")
    val fin = spark.sql(s"SELECT id, v FROM $cat.t")
      .as[(Long, Long)].collect().toMap
    assert(!fin.contains(0L) && !fin.contains(4L))
    assert(fin(5L) === 1051L) // 50 + 1000 + 1
    assert(fin(20L) === 201L)
    assert(fin(200L) === 2001L) // matched (table has 20000 ids)
    assert(!fin.contains(82L))
    assert(fin(50L) === 500L)
    assert(fin(10000L) === 100000L) // untouched bulk
    // every intermediate version still time-travels exactly
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
      .as[Long].head() === 20000L)
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.t VERSION AS OF ${s3.version}")
      .as[Long].head() === (0 until 20000).map(_ * 10L).sum + 10 * 1000L)
    // compaction folds all layers; content identical
    SnapshotTable.compact(spark, s"$wh/t")
    assert(head(s"$wh/t").deltas.isEmpty)
    assert(spark.sql(s"SELECT id, v FROM $cat.t")
      .as[(Long, Long)].collect().toMap === fin)
  }

  test("keyless MOR DML: UPDATE and MERGE write positional deltas on a " +
      "bucketless table") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.k (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('buckets'='1', 'rowlevelmode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.k SELECT id, id FROM range(50)")
    spark.sql(s"UPDATE $cat.k SET v = -v WHERE id % 10 = 0")
    assert(head(s"$wh/k").op === "update-delta")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.k").as[Long].head() ===
      (0 until 50).map(i => if (i % 10 == 0) -i.toLong else i.toLong).sum)
    spark.sql(s"SELECT id FROM range(45, 55)")
      .createOrReplaceTempView("sdrl_ksrc")
    spark.sql(s"""MERGE INTO $cat.k t USING sdrl_ksrc s ON t.id = s.id
      |WHEN MATCHED THEN DELETE
      |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 0)
      |""".stripMargin)
    assert(head(s"$wh/k").op === "merge-delta")
    assert(spark.sql(s"SELECT count(*) FROM $cat.k")
      .as[Long].head() === 50L) // 5 deleted (45..49), 5 inserted (50..54)
    // 5 inserted rows (v=0) plus id 0 whose update set v = -0
    assert(spark.sql(s"SELECT count(*) FROM $cat.k WHERE v = 0")
      .as[Long].head() === 6L)
  }

  test("copy-on-write default is untouched: the same UPDATE on an " +
      "unmarked table still group-replaces") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.c (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql(s"INSERT INTO $cat.c SELECT id, id FROM range(40)")
    spark.sql(s"UPDATE $cat.c SET v = 0 WHERE id = 3")
    val s = head(s"$wh/c")
    assert(s.op === "update") // group replacement commit
    assert(s.deltas.isEmpty)
    assert(spark.sql(s"SELECT v FROM $cat.c WHERE id = 3")
      .as[Long].head() === 0L)
  }

  test("MOR DML composes over pending EVENT deltas and over its own " +
      "pos layers, and vacuum keeps live staged dirs") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, id)) " +
      "TBLPROPERTIES ('rowlevelmode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.e SELECT id, id FROM range(30)")
    // two consecutive MOR updates compose (the second scans through
    // the first's pos layer)
    spark.sql(s"UPDATE $cat.e SET v = v + 100 WHERE id < 10")
    spark.sql(s"UPDATE $cat.e SET v = v + 1000 WHERE id < 5")
    assert(spark.sql(s"SELECT v FROM $cat.e WHERE id = 3")
      .as[Long].head() === 1103L)
    assert(spark.sql(s"SELECT v FROM $cat.e WHERE id = 7")
      .as[Long].head() === 107L)
    // vacuum to the current version keeps the staged delta dirs
    SnapshotTable.vacuum(spark, s"$wh/e", keepVersions = 1)
    assert(spark.sql(s"SELECT v FROM $cat.e WHERE id = 3")
      .as[Long].head() === 1103L)
    // over an event layer (API upsert-mor) MOR DML leaves the table
    // equal to a copy-on-write twin with the same history
    SnapshotTable.upsert(Seq((2L, 5L)).toDF("id", "v"), s"$wh/e",
      mergeOnRead = true)
    spark.sql(s"UPDATE $cat.e SET v = 0 WHERE id = 9")
    assert(head(s"$wh/e").op === "update-delta")
    assert(head(s"$wh/e").deltas.exists(_.kind == "rows"))
    spark.sql(s"CREATE TABLE $cat.c (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, id))")
    spark.sql(s"INSERT INTO $cat.c SELECT id, id FROM range(30)")
    spark.sql(s"UPDATE $cat.c SET v = v + 100 WHERE id < 10")
    spark.sql(s"UPDATE $cat.c SET v = v + 1000 WHERE id < 5")
    SnapshotTable.upsert(Seq((2L, 5L)).toDF("id", "v"), s"$wh/c")
    spark.sql(s"UPDATE $cat.c SET v = 0 WHERE id = 9")
    def content(t: String): Seq[(Long, Long)] = spark.sql(
      s"SELECT id, v FROM $cat.$t").as[(Long, Long)].collect().toSeq.sorted
    assert(content("e") === content("c"))
    assert(content("e").filter(_._1 == 2L) === Seq((2L, 5L)))
    SnapshotTable.compact(spark, s"$wh/e")
    spark.sql(s"UPDATE $cat.e SET v = 0 WHERE id = 9")
    assert(spark.sql(s"SELECT v FROM $cat.e WHERE id = 9")
      .as[Long].head() === 0L)
    assert(spark.sql(s"SELECT v FROM $cat.e WHERE id = 2")
      .as[Long].head() === 5L)
  }

  test("the batch change feed diffs *-delta commits exactly") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.f (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(2, id)) " +
      "TBLPROPERTIES ('rowlevelmode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.f SELECT id, id FROM range(20)")
    spark.sql(s"UPDATE $cat.f SET v = 99 WHERE id = 7")
    val v = head(s"$wh/f").version
    val ch = SnapshotTable.readChanges(spark, s"$wh/f", v - 1, v)
    assert(ch.filter(col("_change_type") === "delete")
      .select("id", "v").as[(Long, Long)].collect().toSet ===
      Set((7L, 7L)))
    assert(ch.filter(col("_change_type") === "insert")
      .select("id", "v").as[(Long, Long)].collect().toSet ===
      Set((7L, 99L)))
  }
}
