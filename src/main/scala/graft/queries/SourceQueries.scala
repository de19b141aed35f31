package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.ops.Sources

/** Oracle-backed driver queries for the file-layout sources and sinks
  * (SURVEY.md §2.1 S6/S7/S9, §2.2 K1) that were previously covered only by
  * scalatest fixtures (VERDICT r7 next-round #6): each query WRITES a
  * deterministic fixture derived from the `documents` table, reads it back
  * through the real [[graft.ops.Sources]] operator, and the oracle
  * recomputes the expected content straight from the parquet table — so a
  * green row proves the sink+source roundtrip end-to-end, not just the
  * parse.
  *
  * Scale notes: the fixtures here are presentation-sized by design (the K1
  * dict-keyed JSON is the reference's single-object sink); the scale paths
  * (JSONL, splittable CSV) are exercised with multi-file layouts.
  */
object SourceQueries {

  /** Per-JVM scratch root (same contract as LlmQueries: pid-keyed so
    * concurrent harness runs never collide; re-runs overwrite). */
  private lazy val scratchRoot: String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-src-${ProcessHandle.current().pid()}")
    d.mkdirs()
    // temp hygiene: the whole pid-keyed tree goes with the JVM
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }))
    d.getAbsolutePath
  }
  private def scratch(part: String, dir: String): String =
    s"$scratchRoot/${part}_${new java.io.File(dir).getName}"

  /** K1 + S6: dict-keyed JSON sink → keyed-JSON source roundtrip. The
    * documents table — INCLUDING the free-text column, so JSON escaping
    * is exercised for real — is dumped as ONE `{doc_id: {lang, source,
    * n_chars, text}}` object ([[Sources.writeKeyedJson]], the reference's
    * metadata.json shape), read back with [[Sources.keyedJson]], and must
    * reproduce the table bit-for-bit against the oracle reading the
    * parquet directly. */
  val q90 = Q("q90_keyed_json_roundtrip",
    """SELECT doc_id, lang, source, n_chars, text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val path = scratch("kjson", dir)
    Sources.writeKeyedJson(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text")),
      "doc_id", path)
    Sources.keyedJson(s, path,
        org.apache.spark.sql.types.StructType.fromDDL(
          "lang STRING, source STRING, n_chars BIGINT, text STRING"))
      .select(col("key").cast("long").as("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** K2 + S7: JSONL sink → JSON list multi-path load (the reference's
    * score-file concat, `run.py:72-74`). The table is split across three
    * JSONL directories by doc_id mod 3, loaded back as one implicit UNION
    * ALL, and aggregated — missing or duplicated rows flip the counts. */
  val q91 = Q("q91_json_list_union",
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val paths = (0 to 2).map { m =>
      val p = scratch(s"jsonl$m", dir)
      Sources.writeJsonl(d.filter(col("doc_id") % 3 === m), p)
      p
    }
    Sources.jsonList(s, paths)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** S9: headerless-CSV column projection
    * (`prepare_aesthetic_tags_metadata.py:11-12`: raw lines, skip the
    * header by VALUE, take one field). Written as a multi-part headered
    * CSV — every part file carries its own header row, which is exactly
    * why the operator drops the header by value rather than by
    * position. */
  val q92 = Q("q92_csv_column",
    """SELECT lang AS value, count(*) AS n
      |FROM documents GROUP BY lang ORDER BY value""".stripMargin) { (s, dir) =>
    val path = scratch("csvcol", dir)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .repartition(3) // multi-part file: one header row PER part
      .write.mode("overwrite").option("header", "true").csv(path)
    Sources.csvColumn(s, path, idx = 1, headerValue = "lang")
      .groupBy(col("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("value"))
  }

  /** S7 hardened: corrupt-row quarantine on the multi-file JSON load
    * ([[Sources.jsonListPermissive]]). Three malformed lines are planted
    * in the layout beside the real part files; the PERMISSIVE read must
    * land every good row (per-lang counts match the table) and quarantine
    * EXACTLY the planted garbage instead of failing the job — the 100 TB
    * ingestion contract (a few bad records per billion are a certainty,
    * and the reference's json.load would lose the whole file). */
  val q94 = Q("q94_json_permissive",
    """SELECT lang AS k, count(*) AS n FROM documents GROUP BY lang
      |UNION ALL SELECT '__corrupt__' AS k, CAST(3 AS BIGINT) AS n
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val path = scratch("jsonbad", dir)
    Sources.writeJsonl(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      path)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "corrupt.json"),
      "{broken json\nnot json at all\n{\"doc_id\": }\n".getBytes("UTF-8"))
    val (good, bad) = Sources.jsonListPermissive(s, Seq(path),
      "doc_id BIGINT, lang STRING, n_chars BIGINT")
    good.groupBy(col("lang").as("k")).agg(count(lit(1)).as("n"))
      .unionByName(bad.agg(count(lit(1)).as("n"))
        .select(lit("__corrupt__").as("k"), col("n")))
      .orderBy(col("k"))
  }

  /** ORC sink → source roundtrip: the documents table (text column
    * included, exercising string encoding) writes as ORC, reads back
    * through [[Sources.orc]], and must reproduce the parquet-derived
    * oracle bit-for-bit — format interchange fidelity. */
  val q110 = Q("q110_orc_roundtrip",
    """SELECT doc_id, lang, source, n_chars, text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val path = scratch("orc", dir)
    Sources.writeOrc(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text")), path)
    Sources.orc(s, path).orderBy(col("doc_id"))
  }

  /** Write one small fixture file per row from the EXECUTORS (no driver
    * collect): `nameOf(row)` under `dir` (nested parents created), content
    * `bytesOf(row)`. local[*] means executor-local fs == the scratch fs.
    * Deterministic names+content make re-runs idempotent overwrite. */
  private def writeFixtureFiles(df: org.apache.spark.sql.DataFrame, dir: String,
      nameOf: org.apache.spark.sql.Row => String,
      bytesOf: org.apache.spark.sql.Row => Array[Byte]): Unit = {
    new java.io.File(dir).mkdirs()
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach { r =>
        val p = java.nio.file.Paths.get(dir, nameOf(r))
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, bytesOf(r))
        ()
      }
    }
  }

  /** S8: headered CSV source with explicit schema (`selected_tags.csv`,
    * `tagger.py:32`). Written as a MULTI-part headered CSV — one header
    * row per part file, which the header-aware reader must skip in every
    * part, not just the first — and read back through
    * [[Sources.csvWithHeader]]; the oracle recomputes the rows straight
    * from parquet, so a green row proves the full write→read roundtrip. */
  val q146 = Q("q146_csv_header_roundtrip",
    """SELECT doc_id, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val path = scratch("csvhdr", dir)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(3) // one header row PER part
      .write.mode("overwrite").option("header", "true").csv(path)
    Sources.csvWithHeader(s, path,
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
      .orderBy(col("doc_id"))
  }

  /** S5: optional `.caption` sidecars as a LEFT join — the reference
    * treats captions as optional per image
    * (`legacy/merge_all_to_metadata.py:137-151`), so the query proves
    * both COVERAGE (caption is null exactly where no sidecar file
    * exists; every 17th doc gets one) and CONTENT (the caption string
    * itself hash-compares). Sidecar files are written from the
    * executors, one `{doc_id}.caption` each. */
  val q147 = Q("q147_caption_sidecar_coverage",
    """SELECT CAST(doc_id AS VARCHAR) AS image_key, lang,
      |  CASE WHEN doc_id % 17 = 0 THEN trim(text) END AS caption
      |FROM documents ORDER BY image_key""".stripMargin) { (s, dir) =>
    val path = scratch("caps", dir)
    writeFixtureFiles(
      Tables.documents(s, dir).filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), col("text")),
      path, r => r.getLong(0) + ".caption",
      r => (r.getString(1) + "\n").getBytes("UTF-8"))
    Tables.documents(s, dir)
      .select(col("doc_id").cast("string").as("image_key"), col("lang"))
      .join(Sources.sidecarCaptions(s, path), Seq("image_key"), "left")
      .orderBy(col("image_key"))
  }

  /** S1: flat image-directory glob (`run.py:38-41`). Fixture "images"
    * (content = the doc's text bytes — the byte LENGTH is what the
    * oracle can recompute, via strlen = UTF-8 bytes) plus a planted
    * non-image decoy that the `*.{jpg,png,jpeg}` glob must exclude. */
  val q148 = Q("q148_image_glob",
    """SELECT CAST(doc_id AS VARCHAR) || '.jpg' AS file,
      |  CAST(strlen(text) AS BIGINT) AS byte_len
      |FROM documents WHERE doc_id % 17 = 3 ORDER BY file""".stripMargin) { (s, dir) =>
    val path = scratch("imgs", dir)
    writeFixtureFiles(
      Tables.documents(s, dir).filter(col("doc_id") % 17 === 3)
        .select(col("doc_id"), col("text")),
      path, r => r.getLong(0) + ".jpg",
      r => r.getString(1).getBytes("UTF-8"))
    java.nio.file.Files.write( // decoy: must NOT appear in the scan
      java.nio.file.Paths.get(path, "notes.txt"), "not an image".getBytes("UTF-8"))
    Sources.imageDir(s, path)
      .select(graft.ops.Paths.baseName(col("path")).as("file"),
        length(col("content")).cast("long").as("byte_len"))
      .orderBy(col("file"))
  }

  /** S2: RECURSIVE image scan over a nested tree (`glob_images_pathlib`
    * with `--full_path`): files land under `sub{doc_id % 5}/`, the
    * recursive load must find all of them (the non-recursive S1 scan
    * would see none), and the per-subdir rollup hash-compares against
    * the oracle's arithmetic reconstruction of the tree. */
  val q149 = Q("q149_image_recursive",
    """SELECT 'sub' || CAST(doc_id % 5 AS VARCHAR) AS sub,
      |  count(*) AS n, CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
      |FROM documents WHERE doc_id % 17 = 5
      |GROUP BY sub ORDER BY sub""".stripMargin) { (s, dir) =>
    val path = scratch("imgtree", dir)
    writeFixtureFiles(
      Tables.documents(s, dir).filter(col("doc_id") % 17 === 5)
        .select(col("doc_id"), col("text")),
      path, r => s"sub${r.getLong(0) % 5}/${r.getLong(0)}.png",
      r => r.getString(1).getBytes("UTF-8"))
    Sources.imageDir(s, path, recursive = true)
      .select(regexp_extract(col("path"), "/(sub\\d+)/", 1).as("sub"),
        length(col("content")).as("b"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n"), sum(col("b")).cast("long").as("total_bytes"))
      .orderBy(col("sub"))
  }

  /** Snapshot-isolated table lifecycle
    * ([[graft.sources.SnapshotTable]]): create v1 (every third doc),
    * upsert v2 (update the even-sixth docs' lang+chars, insert the
    * mod-3=1 docs), append v3 (the mod-3=2 docs), then TIME-TRAVEL all
    * three versions back and union them tagged — so the oracle row
    * checks both the merge semantics of each commit AND that earlier
    * snapshots are immutable after later ones land. The manifest
    * protocol itself (atomic publish, torn-commit invisibility, commit
    * races) is SnapshotTableSpec's job; this row proves the end-to-end
    * content contract the driver can see. */
  val q156 = Q("q156_snapshot_table",
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
      |v1 AS (SELECT doc_id, lang, n_chars FROM d WHERE doc_id % 3 = 0),
      |ups AS (SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars FROM d
      |    WHERE doc_id % 6 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM d WHERE doc_id % 3 = 1),
      |v2 AS (SELECT * FROM v1 WHERE doc_id NOT IN (SELECT doc_id FROM ups)
      |  UNION ALL SELECT * FROM ups),
      |v3 AS (SELECT * FROM v2
      |  UNION ALL SELECT doc_id, lang, n_chars FROM d WHERE doc_id % 3 = 2)
      |SELECT 1 AS version, * FROM v1
      |UNION ALL SELECT 2 AS version, * FROM v2
      |UNION ALL SELECT 3 AS version, * FROM v3
      |ORDER BY version, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snaptbl", dir)
    // idempotent re-runs (Bench passes twice per JVM): a snapshot table
    // is create-once by contract, so each run starts from a clean root
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)
    val batch = d.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), lit("xx").as("lang"),
        (col("n_chars") + 1).as("n_chars"))
      .unionByName(d.filter(col("doc_id") % 3 === 1))
    SnapshotTable.upsert(batch, path)
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 2), path)
    (1 to 3).map(v => SnapshotTable.read(s, path, Some(v.toLong))
        .withColumn("version", lit(v)))
      .reduce(_ unionByName _)
      .select(col("version"), col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("version"), col("doc_id"))
  }

  /** Keyed DELETE on the snapshot table, driver-checked: create from
    * every third doc, delete the mod-5 keys (which also exercises the
    * absent-key no-op — mod-5 docs that aren't mod-3 were never in the
    * table), read the survivors. With q156 covering
    * create/upsert/append/time-travel, every content-bearing operation
    * of the format now has an oracle row. */
  val q160 = Q("q160_snapshot_delete",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapdel", dir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.delete(
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), path)
    SnapshotTable.read(s, path).orderBy(col("doc_id"))
  }

  private def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** Key-pruned reads on the snapshot table, both surfaces: the DSv2
    * connector (`spark.read.format("graft-snapshot")` with the IN
    * predicate PUSHED — the scan reads only the keys' hash buckets,
    * [[graft.sources.SnapshotDataSource]]) and the object-API
    * [[graft.sources.SnapshotTable.readForKeys]] probe-DataFrame lookup.
    * The fixture carries real update history (create + merge-on-write
    * upsert) so a lookup that served stale pre-upsert rows, missed an
    * absent key, or dropped a bucket would hash-mismatch. Scale: both
    * paths read ~hit-buckets/buckets of the table's bytes
    * (ScaleSpec/SnapshotV2Spec measure the file pruning); the probe side
    * of readForKeys is materialized and broadcast-sized. */
  val q161 = Q("q161_snapshot_key_lookup",
    """WITH v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN 'xx' ELSE lang END AS lang,
      |    CASE WHEN doc_id % 6 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT 'connector' AS method, doc_id, lang, n_chars FROM v2
      |  WHERE doc_id IN (0, 21, 42, 63, 126, 189, 252, 315, 441, 999999)
      |UNION ALL
      |SELECT 'keysdf' AS method, doc_id, lang, n_chars FROM v2
      |  WHERE doc_id % 30 = 0
      |ORDER BY method, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snaplkp", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 16)
    SnapshotTable.upsert(d.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), lit("xx").as("lang"),
        (col("n_chars") + 1).as("n_chars")), path)
    val ids = Seq(0L, 21L, 42L, 63L, 126L, 189L, 252L, 315L, 441L, 999999L)
    val viaConnector = s.read.format("graft-snapshot").load(path)
      .where(col("doc_id").isin(ids: _*)) // pushed → bucket-pruned scan
      .select(lit("connector").as("method"), col("doc_id"), col("lang"),
        col("n_chars"))
    val viaKeysDf = SnapshotTable.readForKeys(
        d.filter(col("doc_id") % 30 === 0).select(col("doc_id")), path)
      .select(lit("keysdf").as("method"), col("doc_id"), col("lang"),
        col("n_chars"))
    viaConnector.unionByName(viaKeysDf)
      .orderBy(col("method"), col("doc_id"))
  }

  /** Timestamp time travel, both surfaces: commits stamp wall-clock into
    * the manifest, `asOfTimestamp` resolves the newest commit ≤ t (the
    * object API) and the connector takes the same instant as a
    * `timestampAsOf` option. The query pins each read to a REAL commit
    * timestamp it re-reads from the catalog, so the row set is
    * deterministic even though the clock is not; a resolver that
    * rounded the wrong way (newest-≥ instead of newest-≤) or served the
    * head would produce v2 rows under the v1 tag and hash-mismatch. */
  val q162 = Q("q162_snapshot_time_travel",
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT 1 AS at_version, doc_id, lang, n_chars FROM d WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT 2 AS at_version, doc_id, lang, n_chars FROM d WHERE doc_id % 3 <= 1
      |ORDER BY at_version, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapts", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)
    val t1 = SnapshotTable.headOption(s, path).get.ts
    // commits in the same millisecond would make "as of t1" ambiguous
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 1), path)
    val t2 = SnapshotTable.headOption(s, path).get.ts
    val v1 = SnapshotTable.read(s, path, asOfTimestamp = Some(t1))
      .select(lit(1).as("at_version"), col("doc_id"), col("lang"),
        col("n_chars"))
    val v2 = s.read.format("graft-snapshot")
      .option("timestampAsOf", t2.toString).load(path)
      .select(lit(2).as("at_version"), col("doc_id"), col("lang"),
        col("n_chars"))
    v1.unionByName(v2).orderBy(col("at_version"), col("doc_id"))
  }

  /** Change feed from manifest deltas
    * ([[graft.sources.SnapshotTable.readChanges]]): create → append →
    * upsert → delete, then read every row-level change in (v1, v4] with
    * its change type and commit version. The oracle reconstructs the
    * exact feed arithmetically — append rows as inserts, the upsert as
    * delete(old)+insert(new) per touched key, the delete as deletes of
    * the rows AS OF v3 (i.e. with the upsert's mutation applied — a feed
    * that diffed against the wrong base version would emit pre-upsert
    * images and hash-mismatch). Scale: the append step scans only its
    * fresh dirs and the upsert/delete steps diff only their hit buckets;
    * no step reads the whole table. */
  val q163 = Q("q163_snapshot_changes",
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents)
      |SELECT doc_id, lang, n_chars, 'insert' AS change_type,
      |  CAST(2 AS BIGINT) AS commit_version FROM d WHERE doc_id % 3 = 1
      |UNION ALL
      |SELECT doc_id, lang, n_chars, 'delete', CAST(3 AS BIGINT)
      |  FROM d WHERE doc_id % 6 = 0
      |UNION ALL
      |SELECT doc_id, 'xx', n_chars + 1, 'insert', CAST(3 AS BIGINT)
      |  FROM d WHERE doc_id % 6 = 0
      |UNION ALL
      |SELECT doc_id,
      |  CASE WHEN doc_id % 6 = 0 THEN 'xx' ELSE lang END,
      |  CASE WHEN doc_id % 6 = 0 THEN n_chars + 1 ELSE n_chars END,
      |  'delete', CAST(4 AS BIGINT)
      |  FROM d WHERE doc_id % 15 = 0
      |ORDER BY commit_version, change_type, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapcdf", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)                                   // v1
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 1), path)   // v2
    SnapshotTable.upsert(d.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), lit("xx").as("lang"),
        (col("n_chars") + 1).as("n_chars")), path)                  // v3
    SnapshotTable.delete(
      d.filter(col("doc_id") % 15 === 0).select(col("doc_id")), path) // v4
    SnapshotTable.readChanges(s, path, 1L, 4L)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col(SnapshotTable.ChangeTypeCol).as("change_type"),
        col(SnapshotTable.CommitVersionCol).as("commit_version"))
      .orderBy(col("commit_version"), col("change_type"), col("doc_id"))
  }

  /** Data-skipping stats on the snapshot table: three append commits
    * carry disjoint doc_id windows (the time-series ingestion shape —
    * each commit's manifest entry records per-dir min/max/has-null),
    * and the connector read with a range predicate serves the answer
    * from the matching commits' dirs only
    * (SnapshotV2Spec/SnapshotTableSpec prove the pruning and its
    * three-valued soundness; ScaleSpec measures the bytes). The oracle
    * recomputes the range straight from the parquet table, so a pruner
    * that dropped a satisfiable dir (or a stats writer that recorded a
    * wrong bound) would lose rows and hash-mismatch. */
  val q164 = Q("q164_snapshot_skipping",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id >= 300 OR doc_id < 50
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapskip", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") < 100), path,
      Seq("doc_id"), buckets = 4)
    SnapshotTable.append(
      d.filter(col("doc_id") >= 100 && col("doc_id") < 300), path)
    SnapshotTable.append(d.filter(col("doc_id") >= 300), path)
    s.read.format("graft-snapshot").load(path)
      .where(col("doc_id") >= 300 || col("doc_id") < 50)
      .orderBy(col("doc_id"))
  }

  /** The snapshot table as a STREAMING SOURCE
    * ([[graft.sources.SnapshotMicroBatchStream]] — the read-side twin of
    * q159's streaming sink): run 1 drains the table once with
    * AvailableNow (one batch: the consolidated snapshot at stream
    * start), two appends land, and run 2 resumes FROM THE SAME
    * CHECKPOINT — versioned offsets mean it serves exactly the two new
    * commits' rows, nothing re-emitted. The oracle reconstructs both
    * runs arithmetically; any over-/under-delivery (offset drift,
    * re-served dirs, lost commits) flips run-2's row set and
    * hash-mismatches. */
  val q165 = Q("q165_snapshot_stream_source",
    """SELECT 1 AS run, doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT 2 AS run, doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 0
      |ORDER BY run, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.streaming.Trigger
    val path = scratch("snapsrc", dir)
    val ckpt = scratch("snapsrc_ckpt", dir)
    rmTree(path); rmTree(ckpt)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)
    // foreachBatch → a parquet dir per run (the memory sink refuses
    // checkpoint recovery, and recovery IS the thing under test here)
    def drain(out: String): Unit = {
      rmTree(out)
      val q = s.readStream.format("graft-snapshot").load(path)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val out1 = scratch("snapsrc_run1", dir)
    val out2 = scratch("snapsrc_run2", dir)
    drain(out1)
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 1), path)
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 2), path)
    drain(out2)
    s.read.parquet(out1).withColumn("run", lit(1))
      .unionByName(s.read.parquet(out2).withColumn("run", lit(2)))
      .select(col("run"), col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("run"), col("doc_id"))
  }

  /** Pure-SQL lifecycle through the [[graft.sources.SnapshotCatalog]]
    * plugin — no object-API call anywhere: CREATE TABLE with a bucket
    * transform, two INSERT INTO appends, one INSERT OVERWRITE, then
    * three time-travel reads (VERSION AS OF v2 = first half, v3 = all,
    * head = overwrite survivors). The oracle reconstructs each phase
    * arithmetically from the source table, so a wrong manifest commit,
    * broken version resolution, or an overwrite that clobbers history
    * all hash-mismatch. */
  val q166 = Q("q166_snapshot_sql_catalog",
    """SELECT 1 AS phase, doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang, n_chars FROM documents
      |UNION ALL
      |SELECT 3 AS phase, doc_id, lang, n_chars FROM documents WHERE lang = 'en'
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snapcat_wh", dir)
    rmTree(wh); new java.io.File(wh).mkdirs()
    // catalog instances are cached per session at first use — the conf
    // must be set before any `graftcat.…` reference (same warehouse on
    // every pass of one JVM, so re-registration is a no-op)
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("q166_docs")
    s.sql("DROP TABLE IF EXISTS graftcat.docs")
    s.sql("CREATE TABLE graftcat.docs (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO graftcat.docs " +
      "SELECT * FROM q166_docs WHERE doc_id % 2 = 0")
    s.sql("INSERT INTO graftcat.docs " +
      "SELECT * FROM q166_docs WHERE doc_id % 2 = 1")
    s.sql("INSERT OVERWRITE graftcat.docs " +
      "SELECT * FROM q166_docs WHERE lang = 'en'")
    s.sql("""SELECT 1 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs VERSION AS OF 2
            |UNION ALL
            |SELECT 2 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs VERSION AS OF 3
            |UNION ALL
            |SELECT 3 AS phase, doc_id, lang, n_chars FROM graftcat.docs
            |ORDER BY phase, doc_id""".stripMargin)
  }

  /** SQL DML + maintenance on the snapshot catalog: both DELETE shapes
    * (pure-key IN-list → bucket-pruned keyed delete; arbitrary
    * predicate → one copy-on-write overwrite) plus a CALL
    * `system.compact` between appends (content-neutral by contract —
    * the time-travel read at the pre-delete version must see exactly
    * what the two inserts wrote, through the compacted file list). The
    * oracle reconstructs all three phases arithmetically. */
  val q167 = Q("q167_snapshot_sql_delete",
    """SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id NOT IN (0, 1, 2, 3, 4)
      |UNION ALL
      |SELECT 3 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id NOT IN (0, 1, 2, 3, 4)
      |  AND NOT (n_chars < 500 OR lang = 'de')
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snapcat_wh", dir)
    new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("q167_docs")
    s.sql("DROP TABLE IF EXISTS graftcat.docs_del")
    s.sql("CREATE TABLE graftcat.docs_del (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO graftcat.docs_del " +
      "SELECT * FROM q167_docs WHERE doc_id % 2 = 0")
    s.sql("INSERT INTO graftcat.docs_del " +
      "SELECT * FROM q167_docs WHERE doc_id % 2 = 1")
    s.sql("CALL graftcat.system.compact('docs_del', 1)") // v4, content-same
    s.sql("DELETE FROM graftcat.docs_del WHERE doc_id IN (0, 1, 2, 3, 4)")
    s.sql("DELETE FROM graftcat.docs_del " +
      "WHERE n_chars < 500 OR lang = 'de'")
    s.sql("""SELECT 1 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs_del VERSION AS OF 4
            |UNION ALL
            |SELECT 2 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs_del VERSION AS OF 5
            |UNION ALL
            |SELECT 3 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs_del
            |ORDER BY phase, doc_id""".stripMargin)
  }

  /** Z-order clustering through the catalog (`CALL system.zorder` —
    * Delta's OPTIMIZE ZORDER BY shape), k-D: three clustered dims
    * (doc_id, n_chars, and a derived `spread` standing in for the
    * third real-world dim — domain/date). The rewrite must be
    * content-identical (phase 1 reads the WHOLE table after it) and the
    * clustered layout must still answer a 3-D box predicate exactly
    * (phase 2) — the measured does-it-actually-prune bounds live in
    * SnapshotV2Spec's z-order test (2-D) and ZOrderSpec's 3-D slab
    * test. */
  val q168 = Q("q168_snapshot_zorder",
    """SELECT 1 AS phase, doc_id, lang, n_chars,
      |  (doc_id * 37) % 256 AS spread FROM documents
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang, n_chars,
      |  (doc_id * 37) % 256 AS spread FROM documents
      |WHERE doc_id BETWEEN 100 AND 300 AND n_chars BETWEEN 500 AND 2000
      |  AND (doc_id * 37) % 256 BETWEEN 32 AND 223
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snapcat_wh", dir)
    new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("doc_id") * 37 % 256).as("spread"))
      .createOrReplaceTempView("q168_docs")
    s.sql("DROP TABLE IF EXISTS graftcat.docs_z")
    s.sql("CREATE TABLE graftcat.docs_z (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT, spread BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO graftcat.docs_z SELECT * FROM q168_docs")
    s.sql("CALL graftcat.system.zorder('docs_z', 'doc_id,n_chars,spread', 8)")
    s.sql("""SELECT 1 AS phase, doc_id, lang, n_chars, spread
            |FROM graftcat.docs_z
            |UNION ALL
            |SELECT 2 AS phase, doc_id, lang, n_chars, spread
            |FROM graftcat.docs_z
            |WHERE doc_id BETWEEN 100 AND 300
            |  AND n_chars BETWEEN 500 AND 2000
            |  AND spread BETWEEN 32 AND 223
            |ORDER BY phase, doc_id""".stripMargin)
  }

  /** The snapshot table's NATIVE streaming sink
    * ([[graft.sources.SnapshotSink]] — `writeStream.format(
    * "graft-snapshot")`, the write twin of q165's source and the native
    * spelling of q159's foreachBatch): three mtime-ordered micro-batches
    * drain with op=upsert — batch 0 creates the table with the even
    * half, batch 1 merges the odd half, batch 2 RE-SENDS every
    * doc_id%4==0 key with n_chars+1000 — so the final content is
    * last-write-wins per key, each batch one txn-stamped atomic commit.
    * The oracle spells the expected merge arithmetically; a dropped,
    * doubled, or re-ordered batch flips rows and hash-mismatches. */
  val q169 = Q("q169_snapshot_stream_sink",
    """SELECT doc_id, lang,
      |  CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000 ELSE n_chars END
      |    AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.SnapshotTable
    val stage = scratch("snapsink_in", dir)
    val root = scratch("snapsink_tbl", dir)
    val ckpt = scratch("snapsink_ckpt", dir)
    rmTree(stage); rmTree(root); rmTree(ckpt)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val batches = Seq(
      d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1),
      d.filter(col("doc_id") % 4 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L))
    val fsDir = new java.io.File(stage); fsDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = new java.io.File(fsDir, s"tmp$i")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles.filter(_.getName.startsWith("part-")).head
      val dst = new java.io.File(fsDir, f"b$i%03d.parquet")
      require(part.renameTo(dst), s"stage rename failed for $dst")
      dst.setLastModified(1000000L * (i + 1)); ()
    }
    val q = s.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .writeStream.format("graft-snapshot")
      .option("op", "upsert")
      .option("keys", "doc_id").option("buckets", "8")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(root)
    q.awaitTermination()
    SnapshotTable.read(s, root).orderBy(col("doc_id"))
  }

  /** Metadata-only `count(*)` ([[graft.plans.SnapshotMetadataOnlyCount]],
    * wired through the session's GraftExtensions): after an SQL
    * create→insert→delete chain, phase 1 counts the live table and
    * phase 2 a pre-delete version — under the extensions both are
    * answered from manifest row counts with ZERO scan tasks (the plan
    * proof lives in SnapshotV2Spec; this row pins the VALUES against
    * the oracle) — while phase 3's filtered count takes the scan path
    * and must agree arithmetically. */
  val q170 = Q("q170_snapshot_meta_count",
    """SELECT 1 AS phase,
      |       (SELECT count(*) FROM documents WHERE NOT lang = 'de')
      |         AS n
      |UNION ALL
      |SELECT 2 AS phase, (SELECT count(*) FROM documents) AS n
      |UNION ALL
      |SELECT 3 AS phase,
      |       (SELECT count(*) FROM documents
      |        WHERE NOT lang = 'de' AND n_chars >= 1000) AS n
      |ORDER BY phase""".stripMargin) { (s, dir) =>
    val wh = scratch("snapcat_wh", dir)
    new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("q170_docs")
    s.sql("DROP TABLE IF EXISTS graftcat.docs_cnt")
    s.sql("CREATE TABLE graftcat.docs_cnt (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO graftcat.docs_cnt SELECT * FROM q170_docs")
    s.sql("DELETE FROM graftcat.docs_cnt WHERE lang = 'de'")
    s.sql("""SELECT 1 AS phase, (SELECT count(*) FROM graftcat.docs_cnt)
            |  AS n
            |UNION ALL
            |SELECT 2 AS phase,
            |  (SELECT count(*) FROM graftcat.docs_cnt VERSION AS OF 2)
            |  AS n
            |UNION ALL
            |SELECT 3 AS phase,
            |  (SELECT count(*) FROM graftcat.docs_cnt
            |   WHERE n_chars >= 1000) AS n
            |ORDER BY phase""".stripMargin)
  }

  /** SQL `MERGE INTO` on a snapshot catalog table — Spark's group-based
    * row-level operation protocol end-to-end
    * ([[graft.sources.SnapshotRowLevelOperation]]): the target holds the
    * even doc_ids, the source the multiples of 3, and one statement
    * exercises all three action kinds (matched-delete on short docs,
    * matched-update shifting n_chars, not-matched-insert with a marker
    * lang). Phase 1 re-reads the pre-merge version — copy-on-write must
    * leave history intact — and phase 2 the merged table. The oracle
    * reconstructs both phases arithmetically, so a wrong action
    * routing, a lost carried-over row, or a replaced-group set that
    * dropped an unmatched bucket all hash-mismatch. */
  val q171 = Q("q171_snapshot_sql_merge",
    """SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang, n_chars + 100000 AS n_chars
      |FROM documents WHERE doc_id % 6 = 0 AND n_chars >= 1000
      |UNION ALL
      |SELECT 2 AS phase, doc_id, 'ins' AS lang, n_chars FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id % 2 = 1
      |UNION ALL
      |SELECT 3 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0
      |UNION ALL
      |SELECT 3 AS phase, doc_id, lang, n_chars + 100000 AS n_chars
      |FROM documents WHERE doc_id % 6 = 0 AND n_chars >= 1000
      |UNION ALL
      |SELECT 3 AS phase, doc_id, 'ins' AS lang, n_chars FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id % 2 = 1
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snapcat_wh", dir)
    new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("q171_docs")
    val mergeSql = (t: String) => s"""MERGE INTO graftcat.$t t
            |USING (SELECT * FROM q171_docs WHERE doc_id % 3 = 0) src
            |ON t.doc_id = src.doc_id
            |WHEN MATCHED AND src.n_chars < 1000 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET n_chars = src.n_chars + 100000
            |WHEN NOT MATCHED THEN
            |  INSERT (doc_id, lang, n_chars)
            |  VALUES (src.doc_id, 'ins', src.n_chars)""".stripMargin
    s.sql("DROP TABLE IF EXISTS graftcat.docs_m")
    s.sql("CREATE TABLE graftcat.docs_m (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO graftcat.docs_m " +
      "SELECT * FROM q171_docs WHERE doc_id % 2 = 0")
    s.sql(mergeSql("docs_m"))
    // phase 3: the SAME merge through the DELTA-BASED (merge-on-read)
    // row-level path — `rowlevelmode` routes it to positional
    // tombstones + replacement rows (one O(matched) commit, base
    // entries untouched) and reads resolve the layer transparently
    s.sql("DROP TABLE IF EXISTS graftcat.docs_mm")
    s.sql("CREATE TABLE graftcat.docs_mm (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id)) " +
      "TBLPROPERTIES ('rowlevelmode'='merge-on-read')")
    s.sql("INSERT INTO graftcat.docs_mm " +
      "SELECT * FROM q171_docs WHERE doc_id % 2 = 0")
    s.sql(mergeSql("docs_mm"))
    s.sql("""SELECT 1 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs_m VERSION AS OF 2
            |UNION ALL
            |SELECT 2 AS phase, doc_id, lang, n_chars FROM graftcat.docs_m
            |UNION ALL
            |SELECT 3 AS phase, doc_id, lang, n_chars FROM graftcat.docs_mm
            |ORDER BY phase, doc_id""".stripMargin)
  }

  /** SQL `UPDATE` on a snapshot catalog table, both commit scopes: a
    * key-pinned IN-list update (the scan's pushed predicates confine
    * the copy-on-write to the hit buckets — the measured scope bound
    * lives in SnapshotRowLevelSpec) and a broad non-key update over
    * whatever the first one produced. Three time-travel phases pin the
    * whole history: pre-update, after the keyed update, final. The
    * oracle composes both updates arithmetically — including the
    * interaction (the +1000000 shift lifts its rows OUT of the second
    * update's n_chars < 800 predicate). */
  val q172 = Q("q172_snapshot_sql_update",
    """SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang,
      |       n_chars + (CASE WHEN doc_id IN (1, 2, 3) THEN 1000000
      |                  ELSE 0 END) AS n_chars
      |FROM documents
      |UNION ALL
      |SELECT 3 AS phase, doc_id,
      |       CASE WHEN n_chars + (CASE WHEN doc_id IN (1, 2, 3)
      |                            THEN 1000000 ELSE 0 END) < 800
      |            THEN 'xx' ELSE lang END AS lang,
      |       n_chars + (CASE WHEN doc_id IN (1, 2, 3) THEN 1000000
      |                  ELSE 0 END) AS n_chars
      |FROM documents
      |UNION ALL
      |SELECT 4 AS phase, doc_id,
      |       CASE WHEN n_chars + (CASE WHEN doc_id IN (1, 2, 3)
      |                            THEN 1000000 ELSE 0 END) < 800
      |            THEN 'xx' ELSE lang END AS lang,
      |       n_chars + (CASE WHEN doc_id IN (1, 2, 3) THEN 1000000
      |                  ELSE 0 END) AS n_chars
      |FROM documents
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snapcat_wh", dir)
    new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("q172_docs")
    s.sql("DROP TABLE IF EXISTS graftcat.docs_u")
    s.sql("CREATE TABLE graftcat.docs_u (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO graftcat.docs_u SELECT * FROM q172_docs")
    s.sql("UPDATE graftcat.docs_u SET n_chars = n_chars + 1000000 " +
      "WHERE doc_id IN (1, 2, 3)")
    s.sql("UPDATE graftcat.docs_u SET lang = 'xx' WHERE n_chars < 800")
    // phase 4: the same two updates through the DELTA-BASED
    // (merge-on-read) path — two consecutive MOR statements compose
    // (the second's identity scan reads through the first's pos layer)
    s.sql("DROP TABLE IF EXISTS graftcat.docs_um")
    s.sql("CREATE TABLE graftcat.docs_um (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id)) " +
      "TBLPROPERTIES ('rowlevelmode'='merge-on-read')")
    s.sql("INSERT INTO graftcat.docs_um SELECT * FROM q172_docs")
    s.sql("UPDATE graftcat.docs_um SET n_chars = n_chars + 1000000 " +
      "WHERE doc_id IN (1, 2, 3)")
    s.sql("UPDATE graftcat.docs_um SET lang = 'xx' WHERE n_chars < 800")
    s.sql("""SELECT 1 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs_u VERSION AS OF 2
            |UNION ALL
            |SELECT 2 AS phase, doc_id, lang, n_chars
            |FROM graftcat.docs_u VERSION AS OF 3
            |UNION ALL
            |SELECT 3 AS phase, doc_id, lang, n_chars FROM graftcat.docs_u
            |UNION ALL
            |SELECT 4 AS phase, doc_id, lang, n_chars FROM graftcat.docs_um
            |ORDER BY phase, doc_id""".stripMargin)
  }

  /** Merge-on-read lifecycle on the snapshot table
    * ([[graft.sources.SnapshotTable]] `mergeOnRead = true`): an upsert
    * delta layer (updates shift even multiples of 3 by +100000, odd
    * multiples insert with a marker lang), a tombstone layer (multiples
    * of 5), then a compaction that folds both away. Three time-travel
    * phases pin the whole history — phase 1 and 2 read UNRESOLVED
    * delta-bearing versions (the read-side replay is what's under
    * test), phase 3 reads the compacted table and must equal phase 2
    * exactly (compaction is content-neutral). Each commit wrote only
    * O(batch) bytes — the write-amplification bound is measured in
    * SnapshotMorSpec. */
  val q173 = Q("q173_snapshot_merge_on_read",
    """WITH v2 AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 100000 AS n_chars FROM documents
      |  WHERE doc_id % 6 = 0
      |  UNION ALL
      |  SELECT doc_id, 'ins' AS lang, n_chars FROM documents
      |  WHERE doc_id % 3 = 0 AND doc_id % 2 = 1)
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM v2
      |UNION ALL
      |SELECT 2 AS phase, doc_id, lang, n_chars FROM v2 WHERE doc_id % 5 <> 0
      |UNION ALL
      |SELECT 3 AS phase, doc_id, lang, n_chars FROM v2 WHERE doc_id % 5 <> 0
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapmor", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 8)
    val batch = d.filter(col("doc_id") % 3 === 0).select(
      col("doc_id"),
      when(col("doc_id") % 2 === 1, lit("ins"))
        .otherwise(col("lang")).as("lang"),
      when(col("doc_id") % 2 === 0, col("n_chars") + 100000)
        .otherwise(col("n_chars")).as("n_chars"))
    SnapshotTable.upsert(batch, path, mergeOnRead = true) // v2: delta layer
    SnapshotTable.delete(
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), path,
      mergeOnRead = true) // v3: tombstone layer
    SnapshotTable.compact(s, path) // v4: folds both layers away
    def ph(n: Int, v: Long) = SnapshotTable.read(s, path, Some(v))
      .select(lit(n).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    ph(1, 2L).unionByName(ph(2, 3L)).unionByName(ph(3, 4L))
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Named tags + RESTORE on the snapshot table
    * ([[graft.sources.SnapshotTable.createTag]]/[[SnapshotTable.restore]]
    * — the Iceberg-tag / Delta-RESTORE shapes): tag the freshly created
    * version, damage the table (a keyed delete then a corrupting
    * upsert), and roll back BY TAG. Restore is a forward metadata-only
    * commit — zero data bytes move — so phase 1 (time travel INTO the
    * damaged history, which stays readable for the post-mortem), phase 2
    * (the restored head), and phase 3 (a connector read resolving
    * `versionAsOf` as a tag NAME) pin all three surfaces at once.
    * Vacuum pinning of tagged versions is SnapshotRefsSpec's job. */
  val q174 = Q("q174_snapshot_restore_tag",
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents
      |           WHERE doc_id % 3 = 0)
      |SELECT 1 AS phase, doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN 'zz' ELSE lang END AS lang, n_chars
      |FROM d WHERE doc_id % 5 <> 0
      |UNION ALL SELECT 2 AS phase, doc_id, lang, n_chars FROM d
      |UNION ALL SELECT 3 AS phase, doc_id, lang, n_chars FROM d
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snaprestore", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.createTag(s, path, "initial") // pin v1
    SnapshotTable.delete( // v2: lose the mod-5 keys
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), path)
    SnapshotTable.upsert( // v3: corrupt the mod-7 survivors' lang
      d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 =!= 0 &&
          col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit("zz").as("lang"), col("n_chars")), path)
    SnapshotTable.restore(s, path, tag = Some("initial")) // v4
    val damaged = SnapshotTable.read(s, path, Some(3L))
      .select(lit(1).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    val restored = SnapshotTable.read(s, path)
      .select(lit(2).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    val byTag = s.read.format("graft-snapshot")
      .option("versionAsOf", "initial").load(path)
      .select(lit(3).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    damaged.unionByName(restored).unionByName(byTag)
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Change data feed, streamed ([[graft.sources.SnapshotDataSource]]
    * `readChangeFeed` — the Delta CDF shape): the table is created with
    * `changeFeed = true`, so its upsert/delete commits record diff-exact
    * `_cdc` change files at commit time, and the STREAMING source serves
    * per-commit (op, row) batches from O(changed rows) files — never a
    * diff job, never a table rescan. The drain replays the whole history
    * (`startingVersion = 1`): create surfaces as tagged inserts read
    * straight from its data dirs, the upsert as insert+delete pairs from
    * its change file (the displaced pre-image rows are the part a
    * fresh-dir read could never produce), the delete as pre-image
    * deletes — including one whose pre-image is the UPSERTED row, which
    * pins the feed's commit ordering. Offsets/restart exactness and
    * failure modes are SnapshotCdfSpec's job. */
  val q175 = Q("q175_snapshot_change_stream",
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents
      |           WHERE doc_id % 3 = 0),
      |up AS (SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars FROM d
      |       WHERE doc_id % 6 = 0),
      |v2 AS (SELECT * FROM d WHERE doc_id % 6 <> 0
      |       UNION ALL SELECT * FROM up)
      |SELECT 'insert' AS change_type, 1 AS commit_version,
      |       doc_id, lang, n_chars FROM d
      |UNION ALL SELECT 'insert', 2, doc_id, lang, n_chars FROM up
      |UNION ALL SELECT 'delete', 2, doc_id, lang, n_chars FROM d
      |  WHERE doc_id % 6 = 0
      |UNION ALL SELECT 'delete', 3, doc_id, lang, n_chars FROM v2
      |  WHERE doc_id % 5 = 0
      |ORDER BY commit_version, change_type, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.streaming.Trigger
    val path = scratch("snapcdf", dir)
    val ckpt = scratch("snapcdf_ckpt", dir)
    val out = scratch("snapcdf_out", dir)
    rmTree(path); rmTree(ckpt); rmTree(out)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8, changeFeed = true)
    SnapshotTable.upsert(d.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), lit("xx").as("lang"),
        (col("n_chars") + 1).as("n_chars")), path) // v2, with change file
    SnapshotTable.delete( // v3, with change file
      d.filter(col("doc_id") % 5 === 0).select(col("doc_id")), path)
    val q = s.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(path)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(out)
      .select(col("_change_type").as("change_type"),
        col("_commit_version").cast("int").as("commit_version"),
        col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("commit_version"), col("change_type"), col("doc_id"))
  }

  /** Metadata tables ([[graft.sources.SnapshotMeta]] — Iceberg's
    * `t.history` / `t.files` / `t.tags` introspection surface, served
    * through the catalog's multipart-identifier resolution and planned
    * as a driver-local scan): phase 1 reads the commit log (version /
    * op / manifest-arithmetic live row count — DESCRIBE HISTORY), phase
    * 2 the named refs, phase 3 sums `files.rows` at a tag pin and at
    * latest — all answered from manifests alone, ZERO data files read,
    * which is the point: the oracle reconstructs every number from the
    * source table arithmetically, so a green row proves the manifest
    * bookkeeping (per-dir row counts, carried-forward entries after a
    * merge-on-write delete, tag resolution inside a metadata read)
    * agrees with the actual content at every version. */
  val q176 = Q("q176_snapshot_meta_tables",
    """SELECT CAST(1 AS INT) AS phase, CAST(1 AS BIGINT) AS version, 'create' AS op,
      |       (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n
      |UNION ALL
      |SELECT 1, 2, 'append', (SELECT count(*) FROM documents)
      |UNION ALL
      |SELECT 1, 3, 'delete',
      |       (SELECT count(*) FROM documents WHERE doc_id >= 100)
      |UNION ALL
      |SELECT 2, 2, 'rel', CAST(NULL AS BIGINT)
      |UNION ALL
      |SELECT 3, 2, 'rows_at_tag', (SELECT count(*) FROM documents)
      |UNION ALL
      |SELECT 3, 3, 'rows_latest',
      |       (SELECT count(*) FROM documents WHERE doc_id >= 100)
      |ORDER BY phase, version, op""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val wh = scratch("snapcat_wh", dir)
    new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.graftcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    val path = s"$wh/docs_meta"
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 8)                               // v1
    SnapshotTable.append(d.filter(col("doc_id") % 2 === 1), path) // v2
    SnapshotTable.delete(
      d.filter(col("doc_id") < 100).select(col("doc_id")), path) // v3
    SnapshotTable.createTag(s, path, "rel", Some(2L))
    s.sql(
      """SELECT CAST(1 AS INT) AS phase, version, op, live_rows AS n
        |FROM graftcat.docs_meta.history
        |UNION ALL
        |SELECT 2, version, name AS op, CAST(NULL AS BIGINT) AS n
        |FROM graftcat.docs_meta.tags
        |UNION ALL
        |SELECT 3, CAST(2 AS BIGINT), 'rows_at_tag',
        |       (SELECT sum(rows) FROM graftcat.docs_meta.files VERSION AS OF 'rel')
        |UNION ALL
        |SELECT 3, CAST(3 AS BIGINT), 'rows_latest',
        |       (SELECT sum(rows) FROM graftcat.docs_meta.files)
        |ORDER BY phase, version, op""".stripMargin)
  }

  /** Bucket-layout evolution on the snapshot table
    * ([[graft.sources.SnapshotTable.rescaleBuckets]] — the Iceberg
    * partition-evolution / extendible-hashing move): create at 4
    * buckets, GROW to 16 in a pure-metadata commit (phase 1 reads the
    * rescaled version: content must be untouched), append under the new
    * layout (mixed-layout table), then a keyed upsert whose hit set
    * closes over the old dirs it touches and MIGRATES them (phase 2 =
    * the merged head; update-only batch so the oracle is a CASE).
    * Phase 3 is a key-pruned lookup ACROSS the layout mix — old dirs
    * prune at 1/4, fresh dirs at 1/16, exactness of the old-dir sibling
    * filter is what the hash pins. Phase 4 reads after a full compact:
    * migration to the uniform new layout is content-neutral. Byte-level
    * pruning bounds are ScaleSpec's job; the mixed-layout read/write
    * semantics are SnapshotRescaleSpec's. */
  val q177 = Q("q177_snapshot_rescale",
    """WITH v4 AS (
      |  SELECT doc_id, lang,
      |         n_chars + (CASE WHEN doc_id % 7 = 0 THEN 50000 ELSE 0 END)
      |           AS n_chars
      |  FROM documents)
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 2 = 0
      |UNION ALL SELECT 2 AS phase, doc_id, lang, n_chars FROM v4
      |UNION ALL SELECT 3 AS phase, doc_id, lang, n_chars FROM v4
      |WHERE doc_id % 11 = 0
      |UNION ALL SELECT 4 AS phase, doc_id, lang, n_chars FROM v4
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snaprescale", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 4)
    SnapshotTable.rescaleBuckets(s, path, 16) // v2: zero bytes moved
    SnapshotTable.append(d.filter(col("doc_id") % 2 === 1), path) // v3
    SnapshotTable.upsert(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 50000), path) // v4
    val probe = d.filter(col("doc_id") % 11 === 0).select("doc_id")
    def ph(n: Int, df: org.apache.spark.sql.DataFrame) =
      df.select(lit(n).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    val p1 = ph(1, SnapshotTable.read(s, path, Some(2L)))
    val p2 = ph(2, SnapshotTable.read(s, path, Some(4L)))
    val p3 = ph(3, SnapshotTable.readForKeys(probe, path))
    SnapshotTable.compact(s, path) // v5: finishes the migration
    val p4 = ph(4, SnapshotTable.read(s, path))
    p1.unionByName(p2).unionByName(p3).unionByName(p4)
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Write-audit-publish on the snapshot table
    * ([[graft.sources.SnapshotTable.createBranch]] /
    * [[SnapshotTable.fastForward]] — the Iceberg WAP flow): fork an
    * audit branch, stage a risky keyed upsert against it (updates
    * existing doc_ids divisible by 3, inserts the odd ones — the shape
    * a nightly ingest stages), and pin all three isolation surfaces:
    * phase 1 reads MAIN while the branch holds staged commits (must be
    * the untouched create), phase 2 reads the BRANCH head (the audit
    * view), phase 3 reads main AFTER the fast-forward (= phase 2: the
    * publish re-listed the branch's dirs verbatim, moving zero data
    * bytes). Conflict/vacuum/ref semantics are SnapshotBranchSpec's. */
  val q178 = Q("q178_snapshot_wap",
    """WITH br AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars + 70000 AS n_chars FROM documents
      |  WHERE doc_id % 3 = 0)
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 2 = 0
      |UNION ALL SELECT 2 AS phase, doc_id, lang, n_chars FROM br
      |UNION ALL SELECT 3 AS phase, doc_id, lang, n_chars FROM br
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapwap", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.createBranch(s, path, "audit")
    SnapshotTable.upsert(
      d.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + 70000),
      path, branch = Some("audit"))
    def ph(n: Int, df: org.apache.spark.sql.DataFrame) =
      df.select(lit(n).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    val p1 = ph(1, SnapshotTable.read(s, path)) // main: staged invisible
    val p2 = ph(2, SnapshotTable.read(s, path, branch = Some("audit")))
    SnapshotTable.fastForward(s, path, "audit")
    val p3 = ph(3, SnapshotTable.read(s, path)) // main: published
    p1.unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Zero-rewrite schema evolution on the snapshot table
    * ([[graft.sources.SnapshotTable.renameColumn]]/[[SnapshotTable.dropColumn]]
    * — column mapping, the Delta `name`-mode shape): RENAME a column
    * (pure metadata; files keep the immutable physical name), write
    * under the new logical name (append + a keyed upsert, so the scan
    * mixes pre- and post-rename files), then DROP a column (physical
    * name reserved). Three phases pin per-version logical views: phase
    * 1 = the ORIGINAL version under its own column names, phase 2 = the
    * post-drop head (renamed column, dropped one gone — spelled NULL so
    * the union types align), phase 3 = the pre-drop version still
    * serving the dropped column through time travel. Reservation
    * guards, connector pushdown translation, CDC/MOR relabeling are
    * SnapshotSchemaEvolutionSpec's. */
  val q179 = Q("q179_snapshot_schema_evolution",
    """WITH upd AS (
      |  SELECT doc_id, lang,
      |         n_chars + (CASE WHEN doc_id % 5 = 0 THEN 30000 ELSE 0 END)
      |           AS len
      |  FROM documents)
      |SELECT 1 AS phase, doc_id, lang, n_chars AS len FROM documents
      |WHERE doc_id % 2 = 0
      |UNION ALL SELECT 2 AS phase, doc_id, CAST(NULL AS VARCHAR) AS lang,
      |  len FROM upd
      |UNION ALL SELECT 3 AS phase, doc_id, lang, len FROM upd
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapschema", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.renameColumn(s, path, "n_chars", "len") // v2: metadata
    SnapshotTable.append(
      d.filter(col("doc_id") % 2 === 1)
        .withColumnRenamed("n_chars", "len"), path) // v3: new-name write
    SnapshotTable.upsert(
      d.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 30000).as("len")), path) // v4: mixed files
    SnapshotTable.dropColumn(s, path, "lang") // v5: metadata
    val p1 = SnapshotTable.read(s, path, Some(1L))
      .select(lit(1).as("phase"), col("doc_id"), col("lang"),
        col("n_chars").as("len"))
    val p2 = SnapshotTable.read(s, path)
      .select(lit(2).as("phase"), col("doc_id"),
        lit(null).cast("string").as("lang"), col("len"))
    val p3 = SnapshotTable.read(s, path, Some(4L))
      .select(lit(3).as("phase"), col("doc_id"), col("lang"), col("len"))
    p1.unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("doc_id"))
  }

  /** CHECK constraints on the snapshot table
    * ([[graft.sources.SnapshotTable.addConstraint]] — the Delta
    * invariant shape): add a constraint the live data satisfies, write
    * valid batches through it, REFUSE a violating upsert (phase 2 is
    * the refusal marker: the exception fired, no commit landed, row
    * counts unchanged), then drop the constraint and land the same
    * shape of row. Phase 1 = content after the guarded writes (the
    * refused batch must be absent), phase 3 = after drop + the
    * previously-refused write. Per-path enforcement, NULL semantics,
    * rename pinning and the rebase guard are SnapshotConstraintSpec's. */
  val q180 = Q("q180_snapshot_constraints",
    """WITH ok AS (
      |  SELECT doc_id, lang,
      |         n_chars + (CASE WHEN doc_id % 9 = 0 THEN 40000 ELSE 0 END)
      |           AS n_chars
      |  FROM documents)
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM ok
      |UNION ALL SELECT 2 AS phase, CAST(-999 AS BIGINT) AS doc_id,
      |  'rejected' AS lang, CAST(1 AS BIGINT) AS n_chars
      |UNION ALL SELECT 3 AS phase, doc_id, lang, n_chars FROM ok
      |UNION ALL SELECT 3 AS phase, CAST(-1 AS BIGINT) AS doc_id,
      |  'zz' AS lang, CAST(-7 AS BIGINT) AS n_chars
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    import s.implicits._
    val path = scratch("snapcheck", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.addConstraint(s, path, "len_pos", "n_chars >= 0")
    SnapshotTable.append(d.filter(col("doc_id") % 2 === 1), path)
    SnapshotTable.upsert(
      d.filter(col("doc_id") % 9 === 0)
        .withColumn("n_chars", col("n_chars") + 40000), path)
    val rejected =
      try {
        SnapshotTable.upsert(
          Seq((-1L, "zz", -7L)).toDF("doc_id", "lang", "n_chars"), path)
        0
      } catch { case _: IllegalArgumentException => 1 }
    def ph(n: Int, df: org.apache.spark.sql.DataFrame) =
      df.select(lit(n).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    val p1 = ph(1, SnapshotTable.read(s, path))
    val p2 = Seq((2, -999L, "rejected", rejected.toLong))
      .toDF("phase", "doc_id", "lang", "n_chars")
    SnapshotTable.dropConstraint(s, path, "len_pos")
    SnapshotTable.append(
      Seq((-1L, "zz", -7L)).toDF("doc_id", "lang", "n_chars"), path)
    val p3 = ph(3, SnapshotTable.read(s, path))
    p1.unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Identity/date partition transforms on the snapshot table
    * ([[graft.sources.SnapshotTable.create]] `partitionBy` — the
    * Iceberg `PARTITIONED BY (days(ts), event_type)` shape): a 30-day
    * events table lays out `_gb=b/_pt0=day/_pt1=type` dirs, and the
    * day-range + type aggregate below reads THROUGH the connector, so
    * the pushed `ts`/`event_type` conjuncts prune on the
    * partition-derived per-dir bounds ([[graft.sources.SnapshotTable
    * .Snapshot.partDirStats]]) before any stats or data bytes.
    * statsCols is DISABLED at create to prove the prune is carried by
    * the partition values alone. The 100 TB shape: a one-day scan of a
    * year-partitioned table plans ~1/365 of the entries (measured
    * byte-level in SnapshotPartitionSpec); the manifest costs
    * O(buckets × days touched per commit) driver metadata. The spec is
    * deliberately DAYS-ONLY here: a second identity dimension at sf0.1
    * (30 days × 5 types × 8 buckets = 1,200 leaf dirs over 100k rows)
    * is the classic over-partitioning anti-pattern — measured 24.8 s of
    * tiny-file and per-dir-metadata overhead in the r13 recording —
    * and partition dimensionality is a MODELING choice the format
    * surfaces, not hides (the two-transform composition is
    * SnapshotPartitionSpec's). */
  val q181 = Q("q181_snapshot_partition_prune",
    """SELECT event_type, count(*) AS n, sum(value) AS sum_v
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
      |  AND event_type <> 'error'
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snappart", dir)
    rmTree(path)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    SnapshotTable.create(ev, path, Seq("event_id"), buckets = 4,
      statsCols = Some(Seq.empty),
      partitionBy = Seq("days(ts)"))
    s.read.format("graft-snapshot").load(path)
      .where(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp") &&
        col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .orderBy(col("event_type"))
  }

  /** Type-widening schema evolution on the snapshot table
    * ([[graft.sources.SnapshotTable.widenColumn]] — the Delta
    * type-widening / Iceberg primitive-promotion shape): `int → long`
    * as a pure-metadata commit; old narrow files are promoted by the
    * parquet reader at scan (zero rewrites), later writes land wide,
    * and the head read mixes narrow and wide files exactly. Phase 1
    * pins the pre-widen version under its own narrow type through time
    * travel (cast for the union only); phase 2 is the head after a
    * beyond-int32 append and a keyed upsert. Guards, SQL ALTER COLUMN
    * TYPE, stats/CDF/MOR composition are
    * SnapshotSchemaEvolutionSpec's. */
  val q182 = Q("q182_snapshot_type_widening",
    """WITH head AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 5000000000
      |         WHEN doc_id % 2 = 1 THEN n_chars + 3000000000
      |         ELSE n_chars END AS n_chars
      |  FROM documents)
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 2 = 0
      |UNION ALL SELECT 2 AS phase, doc_id, lang, n_chars FROM head
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapwiden", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("int").as("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), path,
      Seq("doc_id"), buckets = 8) // v1: narrow int files
    SnapshotTable.widenColumn(s, path, "n_chars", "BIGINT") // v2: metadata
    SnapshotTable.append(
      d.filter(col("doc_id") % 2 === 1)
        .withColumn("n_chars",
          col("n_chars").cast("long") + 3000000000L), path) // v3: wide
    SnapshotTable.upsert(
      d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars").cast("long") + 5000000000L).as("n_chars")),
      path) // v4: rewrites hit buckets, mixing narrow+wide inputs
    val p1 = SnapshotTable.read(s, path, Some(1L))
      .select(lit(1).as("phase"), col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    val p2 = SnapshotTable.read(s, path)
      .select(lit(2).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    p1.unionByName(p2).orderBy(col("phase"), col("doc_id"))
  }

  /** Positional (deletion-vector) merge-on-read DELETE on a KEYLESS
    * snapshot table ([[graft.sources.SnapshotTable.deleteWhere]]
    * `mergeOnRead = true`): the commit records only the matched rows'
    * `(file, row_index)` positions — O(matched) data written, zero
    * existing bytes rewritten, closing the "keyless DELETE degrades to
    * a full copy-on-write" gap. Phase 1 reads the resolved head through
    * the CONNECTOR (the replaying [[graft.sources.SnapshotPosScan]]
    * anti-joins parquet row indexes against the recorded positions);
    * phase 2 stacks a second delete plus an append (older tombstones
    * can't touch new files) and reads via the object API. SQL DELETE
    * routing, write-amplification gate, CDF, and compact folding are
    * SnapshotMorSpec's. */
  val q183 = Q("q183_snapshot_pos_delete",
    """WITH d1 AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE NOT coalesce(n_chars % 3 = 0, FALSE)),
      |d2 AS (
      |  SELECT doc_id, lang, n_chars FROM d1
      |  WHERE NOT coalesce(lang = 'en', FALSE)
      |  UNION ALL SELECT CAST(-1 AS BIGINT), 'en', CAST(3 AS BIGINT)),
      |d3 AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
      |              ELSE n_chars END AS n_chars
      |  FROM documents),
      |d4 AS (
      |  SELECT doc_id, lang, n_chars FROM d3
      |  WHERE NOT coalesce(n_chars % 2 = 0, FALSE)
      |  UNION ALL SELECT CAST(-2 AS BIGINT), 'xx', CAST(5 AS BIGINT))
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM d1
      |UNION ALL SELECT 2 AS phase, doc_id, lang, n_chars FROM d2
      |UNION ALL SELECT 3 AS phase, doc_id, lang, n_chars FROM d4
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    import s.implicits._
    val path = scratch("snappos", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
    SnapshotTable.create(d, path, Seq.empty, 1) // keyless: single bucket
    SnapshotTable.deleteWhere(s, path, col("n_chars") % 3 === 0,
      mergeOnRead = true)
    val p1 = s.read.format("graft-snapshot").load(path)
      .select(lit(1).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    SnapshotTable.deleteWhere(s, path, col("lang") === "en",
      mergeOnRead = true)
    SnapshotTable.append(
      Seq((-1L, "en", 3L)).toDF("doc_id", "lang", "n_chars"), path)
    val p2 = SnapshotTable.read(s, path)
      .select(lit(2).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    // phase 3: KEYED positional delete — a pending upsert-mor layer
    // (winners shadow the base versions), then deleteWhere(mergeOnRead)
    // tombstones just the matched live rows by position (a tombstoned
    // winner keeps shadowing its base version); the connector serves
    // the mixed rows+pos snapshot through the replaying scan, and a
    // fresh append of a new key rides over the tombstones untouched
    val kpath = scratch("snapposk", dir)
    rmTree(kpath)
    SnapshotTable.create(d, kpath, Seq("doc_id"), 4)
    SnapshotTable.upsert(
      d.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L),
      kpath, mergeOnRead = true)
    SnapshotTable.deleteWhere(s, kpath, col("n_chars") % 2 === 0,
      mergeOnRead = true)
    SnapshotTable.append(
      Seq((-2L, "xx", 5L)).toDF("doc_id", "lang", "n_chars"), kpath)
    val p3 = s.read.format("graft-snapshot").load(kpath)
      .select(lit(3).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    p1.unionByName(p2).unionByName(p3)
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Partition-pinned metadata-only retention DELETE
    * ([[graft.sources.SnapshotTable.deleteWhere]] +
    * [[graft.sources.SnapshotTable.statsCertain]]): on a `days(ts)`-
    * partitioned table, `DELETE WHERE ts < cutoff` classifies every
    * live dir against its partition-derived bounds — provably-all-
    * match day dirs DROP as pure metadata (zero data bytes read or
    * written, the 100 TB retention shape), provably-none-match days
    * carry verbatim, and only a cutoff-straddling day rewrites. Phase
    * 1 time-travels to the pre-delete snapshot; phase 2 is the head
    * after an ALIGNED cutoff (metadata-only commit); phase 3 after a
    * MISALIGNED mid-day cutoff (one boundary day rewritten, later days
    * verbatim). The zero-byte write-amplification gate and CDF
    * exactness are SnapshotPartitionSpec's. */
  val q186 = Q("q186_snapshot_retention_delete",
    """WITH p1 AS (SELECT event_type, count(*) AS n, sum(value) AS sum_v
      |            FROM events GROUP BY event_type),
      |p2 AS (SELECT event_type, count(*) AS n, sum(value) AS sum_v
      |       FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |       GROUP BY event_type),
      |p3 AS (SELECT event_type, count(*) AS n, sum(value) AS sum_v
      |       FROM events WHERE ts >= TIMESTAMP '2024-01-12 12:00:00'
      |       GROUP BY event_type)
      |SELECT 1 AS phase, * FROM p1
      |UNION ALL SELECT 2 AS phase, * FROM p2
      |UNION ALL SELECT 3 AS phase, * FROM p3
      |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapret", dir)
    rmTree(path)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    SnapshotTable.create(ev, path, Seq("event_id"), buckets = 4,
      statsCols = Some(Seq.empty), partitionBy = Seq("days(ts)"))
    SnapshotTable.deleteWhere(s, path,
      col("ts") < lit("2024-01-10 00:00:00").cast("timestamp")) // aligned
    val v2 = SnapshotTable.headOption(s, path).get.version
    SnapshotTable.deleteWhere(s, path,
      col("ts") < lit("2024-01-12 12:00:00").cast("timestamp")) // boundary
    def phase(df: org.apache.spark.sql.DataFrame, p: Int) =
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
        .select(lit(p).as("phase"), col("event_type"), col("n"),
          col("sum_v"))
    phase(SnapshotTable.read(s, path, Some(1L)), 1)
      .unionByName(phase(SnapshotTable.read(s, path, Some(v2)), 2))
      .unionByName(phase(SnapshotTable.read(s, path), 3))
      .orderBy(col("phase"), col("event_type"))
  }

  /** Partition-spec EVOLUTION
    * ([[graft.sources.SnapshotTable.repartitionSpec]] — the Iceberg
    * partition-evolution shape): a `days(ts)` table evolves to
    * `identity(event_type)` as a pure-metadata commit — the realistic
    * "stop partitioning by time, partition by category" switch. Dirs
    * written before the change keep their `_pt0=day` segments; the
    * later append lands under `_pt1=type` (segment numbers are
    * permanent, never reused); the head read serves the mixed layout
    * exactly, with phase 2's day-range + type-equality predicate
    * pruning EACH generation on its own spec's derived bounds. The
    * evolution dimensionality is deliberately days-XOR-type, not
    * days-AND-type: composing both at sf0.1 is the 600-leaf
    * over-partitioning anti-pattern q181's scaladoc documents
    * (measured 18.7 s vs ~5 s for this shape — partition
    * dimensionality is a modeling choice the format surfaces).
    * Phase 1 time-travels to the pre-evolution snapshot.
    * Segment-number permanence, re-activation, mixed-generation byte
    * measurement, and guards are SnapshotPartitionSpec's. */
  val q188 = Q("q188_snapshot_partition_evolution",
    """WITH p1 AS (
      |  SELECT event_type, count(*) AS n, sum(value) AS sum_v
      |  FROM events WHERE event_id % 2 = 0 GROUP BY event_type),
      |p2 AS (
      |  SELECT count(*) AS n, sum(value) AS sum_v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |    AND ts < TIMESTAMP '2024-01-13 00:00:00'
      |    AND event_type = 'click')
      |SELECT 1 AS phase, event_type, n, sum_v FROM p1
      |UNION ALL SELECT 2 AS phase, 'click' AS event_type, n, sum_v FROM p2
      |ORDER BY phase, event_type""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val path = scratch("snapevo", dir)
    rmTree(path)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    SnapshotTable.create(ev.filter(col("event_id") % 2 === 0), path,
      Seq("event_id"), buckets = 4, statsCols = Some(Seq.empty),
      partitionBy = Seq("days(ts)"))
    SnapshotTable.repartitionSpec(s, path,
      Seq("event_type")) // v2: pure metadata, days(ts) retires
    SnapshotTable.append(ev.filter(col("event_id") % 2 === 1), path)
    val p1 = SnapshotTable.read(s, path, Some(1L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(lit(1).as("phase"), col("event_type"), col("n"),
        col("sum_v"))
    val p2 = s.read.format("graft-snapshot").load(path)
      .where(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-13 00:00:00").cast("timestamp") &&
        col("event_type") === "click")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(lit(2).as("phase"), lit("click").as("event_type"),
        col("n"), col("sum_v"))
    p1.unionByName(p2).orderBy(col("phase"), col("event_type"))
  }

  /** Streaming ADMISSION CONTROL on the snapshot source
    * ([[graft.sources.SnapshotMicroBatchStream]] with
    * `maxFilesPerTrigger` — the Delta rate-limit surface): run 1 drains
    * a 3-commit table through `Trigger.AvailableNow` at 8 dirs/batch
    * (~24 live dirs → a 3+ batch drain), so the initial snapshot is
    * SPLIT across micro-batches by sub-version offsets instead of
    * arriving as one table-sized batch (the 100 TB first-trigger
    * killer); the union of the slices must still be exactly the
    * snapshot — any dir served twice or dropped at a slice boundary
    * flips the hash. Run 2 starts a SEPARATE stream with
    * `startingVersion=2` (the backfill-free subscription): only
    * commits >= 2 arrive, same 8-dir rate limit, nothing of the
    * initial snapshot re-emits. Batch-count/boundary-restart mechanics
    * are SnapshotStreamAdmissionSpec's; this row pins end-to-end
    * content exactness. */
  val q190 = Q("q190_snapshot_stream_ratelimit",
    """SELECT 1 AS run, doc_id, lang, n_chars FROM documents
      |UNION ALL
      |SELECT 2 AS run, doc_id, lang, n_chars FROM documents
      |WHERE doc_id % 3 <> 0
      |ORDER BY run, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.streaming.Trigger
    val path = scratch("snaprate", dir)
    rmTree(path)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 3 === 0), path,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 1), path)
    SnapshotTable.append(d.filter(col("doc_id") % 3 === 2), path)
    def drain(out: String, ckpt: String, opts: (String, String)*): Unit = {
      rmTree(out); rmTree(ckpt)
      val src = opts.foldLeft(s.readStream.format("graft-snapshot"))(
        (r, o) => r.option(o._1, o._2)).load(path)
      val q = src.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // 8 dirs/trigger over ~24 live dirs: a 3+ batch drain proving the
    // slicing, without paying ~30 fixed micro-batch overheads (the
    // 1-dir spelling measured 9.1 s vs ~4 s; batch-boundary mechanics
    // are SnapshotStreamAdmissionSpec's, not this row's)
    val out1 = scratch("snaprate_run1", dir)
    val out2 = scratch("snaprate_run2", dir)
    drain(out1, scratch("snaprate_ck1", dir), "maxFilesPerTrigger" -> "8")
    drain(out2, scratch("snaprate_ck2", dir),
      "startingVersion" -> "2", "maxFilesPerTrigger" -> "8")
    s.read.parquet(out1).withColumn("run", lit(1))
      .unionByName(s.read.parquet(out2).withColumn("run", lit(2)))
      .select(col("run"), col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("run"), col("doc_id"))
  }

  /** SHALLOW CLONE ([[graft.sources.SnapshotTable.cloneTable]] — the
    * Delta `SHALLOW CLONE` shape): the fork's version 1 re-lists the
    * source's dirs BY REFERENCE (one metadata commit, zero data bytes —
    * forking a 100 TB table costs what a tag costs; SnapshotCloneSpec
    * gates the zero-copy bytes). Phase 1 reads the fork through the
    * CONNECTOR after appending to it — new rows land under the fork's
    * own root, over by-reference base dirs. Phase 2 proves isolation:
    * the source is byte-identical to before the fork's writes. Phase 3
    * time-travels the fork to its clone commit — the pinned source
    * content. Any sharing leak (fork write surfacing in the source,
    * clone listing drifting from the source snapshot) flips a phase. */
  val q191 = Q("q191_snapshot_clone",
    """WITH evens AS (SELECT doc_id, lang, n_chars FROM documents
      |              WHERE doc_id % 2 = 0)
      |SELECT 1 AS phase, doc_id, lang, n_chars FROM documents
      |UNION ALL SELECT 2 AS phase, doc_id, lang, n_chars FROM evens
      |UNION ALL SELECT 3 AS phase, doc_id, lang, n_chars FROM evens
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    import graft.sources.SnapshotTable
    val src = scratch("snapclone_src", dir)
    val fork = scratch("snapclone_fork", dir)
    rmTree(src); rmTree(fork)
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotTable.create(d.filter(col("doc_id") % 2 === 0), src,
      Seq("doc_id"), buckets = 8)
    SnapshotTable.cloneTable(s, src, fork)
    SnapshotTable.append(d.filter(col("doc_id") % 2 === 1), fork)
    def phase(df: DataFrame, p: Int) =
      df.select(lit(p).as("phase"), col("doc_id"), col("lang"),
        col("n_chars"))
    phase(s.read.format("graft-snapshot").load(fork), 1)
      .unionByName(phase(SnapshotTable.read(s, src), 2))
      .unionByName(phase(SnapshotTable.read(s, fork, Some(1L)), 3))
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Write-side column DEFAULTs ([[graft.sources.SnapshotTable
    * .setColumnDefault]] + the catalog's `SUPPORT_COLUMN_DEFAULT_VALUE`
    * — the Delta `DEFAULT` surface): a pure-SQL lifecycle where INSERTs
    * omit columns and Spark's analyzer fills them from the manifest's
    * defaults — CREATE-time defaults for phase-a rows, full explicit
    * rows for phase-b, then `ALTER COLUMN … SET DEFAULT` changes what
    * phase-c rows get WITHOUT touching a byte of phases a/b (a
    * pure-metadata commit). The oracle recomputes every row's expected
    * fill from its phase, so a default leaking into the wrong phase
    * (e.g. read-path back-fill of old files) flips the hash. NULL-
    * contract and refusal mechanics are SnapshotDefaultsSpec's. */
  /** Column DEFAULTs, both halves of the Delta surface: write-side
    * fill (CREATE-time + `SET DEFAULT` for inserts that omit columns)
    * AND `ADD COLUMN … DEFAULT`, whose frozen value back-fills files
    * written before the column existed at SCAN time (`EXISTS_DEFAULT`
    * parquet metadata fill, per-file footer truth) — rows inserted
    * after the add carry the write-side fill physically. The final
    * filter on the added column proves pushdown over the metadata fill
    * stays sound (mod-3=0 rows exist only as pre-add files). */
  val q192 = Q("q192_snapshot_defaults",
    """SELECT doc_id,
      |       CASE WHEN doc_id % 3 = 0 THEN 'und'
      |            WHEN doc_id % 3 = 1 THEN lang
      |            ELSE 'xx' END AS lang,
      |       CASE WHEN doc_id % 3 = 0 THEN 0
      |            ELSE n_chars END AS n_chars,
      |       CASE WHEN doc_id % 3 = 2 THEN 7 ELSE 5 END AS grade
      |FROM documents
      |WHERE NOT (doc_id % 3 = 1 AND n_chars >= 2000)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snapdef_wh", dir)
    rmTree(wh); new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.defcat", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.defcat.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .createOrReplaceTempView("q192_docs")
    s.sql("DROP TABLE IF EXISTS defcat.ddocs")
    s.sql("CREATE TABLE defcat.ddocs (doc_id BIGINT, " +
      "lang STRING DEFAULT 'und', n_chars BIGINT DEFAULT 0) " +
      "PARTITIONED BY (bucket(8, doc_id))")
    s.sql("INSERT INTO defcat.ddocs (doc_id) " +
      "SELECT doc_id FROM q192_docs WHERE doc_id % 3 = 0")
    s.sql("INSERT INTO defcat.ddocs " +
      "SELECT doc_id, lang, n_chars FROM q192_docs WHERE doc_id % 3 = 1")
    s.sql("ALTER TABLE defcat.ddocs ALTER COLUMN lang SET DEFAULT 'xx'")
    // added mid-history with a default: every row above reads the
    // frozen 5 from the metadata fill (their files predate 'grade')
    s.sql("ALTER TABLE defcat.ddocs ADD COLUMN grade BIGINT DEFAULT 5")
    // rows after the add: write-side fill for omitted (mod-3=2 inserts
    // override explicitly to 7); a delete on mod-3=1 high-n_chars rows
    // exercises the fill through a row-level rewrite too
    s.sql("INSERT INTO defcat.ddocs (doc_id, n_chars, grade) " +
      "SELECT doc_id, n_chars, 7 FROM q192_docs WHERE doc_id % 3 = 2")
    s.sql("DELETE FROM defcat.ddocs WHERE doc_id % 3 = 1 " +
      "AND n_chars >= 2000")
    s.sql("SELECT doc_id, lang, n_chars, grade FROM defcat.ddocs " +
      "WHERE grade IN (5, 7) ORDER BY doc_id")
  }

  /** Atomic, history-preserving `CREATE OR REPLACE TABLE`
    * ([[graft.sources.SnapshotTable.replaceTable]] through the
    * catalog's StagingTableCatalog): ONE `replace` commit swaps
    * content AND definition (schema/keys/buckets) — phase 1 reads the
    * PRE-replace version through time travel (old schema, old rows,
    * proving history survived), phase 2 the replaced head (new shape,
    * RTAS data). Spark's non-staging fallback would have dropped the
    * table (destroying phase 1's history) non-atomically. */
  val q193 = Q("q193_snapshot_replace",
    """SELECT 1 AS phase, doc_id, lang AS s FROM documents
      |WHERE doc_id % 4 = 0
      |UNION ALL
      |SELECT 2 AS phase, doc_id, CAST(n_chars AS VARCHAR) AS s
      |FROM documents WHERE doc_id % 3 = 0
      |ORDER BY phase, doc_id""".stripMargin) { (s, dir) =>
    val wh = scratch("snaprep_wh", dir)
    rmTree(wh); new java.io.File(wh).mkdirs()
    s.conf.set("spark.sql.catalog.repq", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.repq.warehouse", wh)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .createOrReplaceTempView("q193_docs")
    s.sql("DROP TABLE IF EXISTS repq.rdocs")
    s.sql("CREATE TABLE repq.rdocs (doc_id BIGINT, lang STRING) " +
      "PARTITIONED BY (bucket(8, doc_id))")                        // v1
    s.sql("INSERT INTO repq.rdocs " +
      "SELECT doc_id, lang FROM q193_docs WHERE doc_id % 4 = 0")   // v2
    s.sql("CREATE OR REPLACE TABLE repq.rdocs " +
      "PARTITIONED BY (bucket(4, doc_id)) AS " +
      "SELECT doc_id, CAST(n_chars AS STRING) AS s " +
      "FROM q193_docs WHERE doc_id % 3 = 0")                       // v3
    val pre = s.sql("SELECT doc_id, lang AS s FROM repq.rdocs VERSION AS OF 2")
      .select(lit(1).as("phase"), col("doc_id"), col("s"))
    val post = s.sql("SELECT doc_id, s FROM repq.rdocs")
      .select(lit(2).as("phase"), col("doc_id"), col("s"))
    pre.unionByName(post).orderBy(col("phase"), col("doc_id"))
  }

  val all: Seq[Q] =
    Seq(q90, q91, q92, q94, q110, q146, q147, q148, q149, q156, q160,
      q161, q162, q163, q164, q165, q166, q167, q168, q169, q170,
      q171, q172, q173, q174, q175, q176, q177, q178, q179, q180, q181,
      q182, q183, q186, q188, q190, q191, q192, q193)
}
