package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Materialize

/** Snapshot-isolated table format over plain parquet — the manifest-commit
  * protocol that unifies the repo's piecewise transactional spellings
  * (the generation-swap upsert in
  * [[graft.streaming.EventStream.upsertAvailableNow]], the versioned
  * fail-fast index manifest in `Dedup.writeIndex`/`loadIndex`) into one
  * reusable table: atomic commits, time-travel reads (by version or
  * commit timestamp), key-pruned point reads, an incremental change
  * feed, and optimistic-concurrency conflict detection, with no package
  * beyond Spark + Hadoop FS. The protocol is the public Delta/Iceberg
  * commit shape (Armbrust et al., VLDB'20: data files first, then one
  * atomic metadata publish names the snapshot), re-derived minimally —
  * not a port of either.
  *
  * Layout:
  * {{{
  *   <root>/_manifests/v00000001.txt      one immutable file per version
  *   <root>/data/c1-<uuid>/_gb=0/part-….parquet   commit-owned, bucketed
  * }}}
  *
  * Commit protocol: (1) write the commit's data files under a fresh
  * `data/c<v>-<uuid>/` nobody reads yet — the write tasks also fold
  * every row into its dir's stats accumulator ([[SnapshotWriteStats]]:
  * row count, per-column min/max/has-null, key bloom), so the manifest's
  * `stats=`/`rows=` lines and the `.bloom` sidecars come from the write
  * itself and the commit never reads its own files back; (2) write the
  * manifest to a hidden `.tmp` name; (3) publish by renaming it to
  * `v<N+1>`.
  * Same-version race adjudication depends on the store:
  *   - HDFS/ABFS (atomic no-overwrite rename): the loser's rename fails
  *     and it throws [[ConcurrentCommitException]] — exact, lock-free;
  *   - POSIX local (rename clobbers): step 3 is serialized by an O_EXCL
  *     lock file (`java.nio` CREATE_NEW, atomic on POSIX), so the
  *     exists-check + rename + uuid read-back run mutually excluded and
  *     exactly one writer wins — without the lock two interleaved
  *     writers could both read back their own uuid (rename1 → readback1
  *     → rename2 → readback2), silently losing the first commit;
  *   - S3-style stores (non-atomic rename, no O_EXCL): need an external
  *     coordination service for step 3, the same caveat Delta documents
  *     for its LogStore — or a single-writer deployment.
  *
  * Why readers can never see a torn table: a manifest is the ONLY thing
  * that makes data files visible, it is immutable once published, and it
  * appears atomically — a crash before publish leaves orphan data dirs
  * that no reader lists; a crash during the `.tmp` write leaves a hidden
  * file readers skip. Snapshot isolation falls out: a reader resolves
  * its version once and then reads an immutable file list, concurrent
  * commits land as later versions it never consults. Readers never block
  * writers and vice versa.
  *
  * Schema evolution, all zero-rewrite: ADD COLUMN (`mergeSchema = true`
  * on append/upsert/overwrite — new nullable columns append to the
  * manifest schema, old files backfill null through the explicit-schema
  * read), RENAME COLUMN ([[renameColumn]] — column mapping: files keep
  * the column's immutable PHYSICAL name, the manifest repoints the
  * logical one), and DROP COLUMN ([[dropColumn]] — the logical view
  * loses the field, its physical name is reserved forever). Time travel
  * serves each version under its own schema and names. Retypes are
  * refused — that rewrite is an explicit overwrite of a fresh table.
  *
  * Scale shape (the 100 TB audit):
  *   - data writes are fully distributed; the driver touches only
  *     manifest lines — O(buckets + retained appends) metadata, the same
  *     envelope as a Delta JSON commit;
  *   - [[append]] writes O(batch) data and re-lists prior entries
  *     verbatim — no read, no rewrite of existing data;
  *   - [[upsert]] is merge-on-write confined to HIT buckets: batch keys
  *     hash to `pmod(hash(keys), buckets)`, only those buckets' files
  *     are read+rewritten (and consolidated — upsert doubles as
  *     incremental compaction), untouched buckets carry their manifest
  *     lines forward. Worst case (batch touches all buckets) degrades to
  *     a full rewrite, so size `buckets` such that one bucket ≈ one
  *     comfortable rewrite unit at the deployment's table size;
  *   - [[readForKeys]] is the read-side mirror of that pruning: a keyed
  *     lookup hashes its keys to buckets and scans ONLY the hit buckets'
  *     files — a point lookup on a 37-bucket table reads ~1/37 of the
  *     table's bytes instead of all of them;
  *   - [[readChanges]] serves "rows changed between v1 and v2" from the
  *     manifest deltas: appends scan only their new dirs, upserts and
  *     deletes diff only the buckets their commit actually rewrote —
  *     never a full-table diff for incremental commits;
  *   - the one shuffle per commit is the `repartition` on the bucket
  *     column that aligns write tasks with bucket dirs (≈1 file set per
  *     bucket per commit instead of tasks×buckets small files);
  *   - write batches are MATERIALIZED (default `localCheckpoint`) before
  *     the hit-bucket set is derived, so the plan executes once and the
  *     set can never disagree with the rows written — a nondeterministic
  *     batch (sampling, `rand()` salts, range-partition re-sampling)
  *     re-executed per action could otherwise hash rows into buckets the
  *     manifest carries forward, committing duplicate keys.
  */
object SnapshotTable {

  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** One merge-on-read delta attached to a bucket: a dir of replacement
    * rows (`kind = "rows"`, the upsert-mor batch) or of key-only
    * tombstones (`kind = "tomb"`, the delete-mor batch), stamped with
    * the version (`seq`) of the commit that wrote it — the event order
    * every reader replays, partition-locally ([[SnapshotMorScan]]). */
  final case class DeltaEntry(bucket: Int, seq: Long, kind: String,
      dir: String)

  /** What a commit does to the table's rows, by its `op` — the one
    * classification the readers that tail commits (the snapshot stream
    * and the change feed, batch and stream) go by. */
  private[sources] sealed trait CommitKind
  private[sources] object CommitKind {
    /** `create`, `clone`, `append`: the fresh dirs hold new rows and
      * nothing else. */
    case object Inserts extends CommitKind
    /** The same rows as the predecessor: content-neutral rewrites
      * (`compact`, `zorder`, `rescale`) and pure-metadata commits. */
    case object NoDataChange extends CommitKind
    /** `upsert`, `delete`, `delete-pos`: changes existing rows, and
      * records the change in the commit's `_cdc` dir when the table
      * keeps a change feed. */
    case object ChangeFile extends CommitKind
    /** Every other op changes existing rows with no record of the
      * change (overwrite, restore, row-level rewrites, merge-on-read
      * event layers). */
    case object Rewrite extends CommitKind
  }

  private[sources] def commitKind(op: String): CommitKind = op match {
    case "create" | "clone" | "append" => CommitKind.Inserts
    case "compact" | "zorder" | "rescale" | "widen-column" |
         "rename-column" | "drop-column" | "add-column" |
         "set-constraint" | "drop-constraint" | "repartition-spec" |
         "set-default" | "set-prop" => CommitKind.NoDataChange
    case "upsert" | "delete" | "delete-pos" => CommitKind.ChangeFile
    case _ => CommitKind.Rewrite
  }

  /** One published version: `entries` maps bucket id → data dirs
    * (absolute, spelled from the table root as the reader gave it;
    * [[SnapshotManifest]] records them relative to it), in commit
    * order; `ts` is the commit wall-clock
    * (driver millis at publish; 0 for pre-timestamp manifests);
    * `statsCols` are the columns every commit records data-skipping
    * stats for (fixed at [[create]]); `dirStats` maps data dir →
    * per-column [[ColStats]] for the dirs whose writing commit recorded
    * them; `deltas` are the UNRESOLVED merge-on-read events layered
    * over the base entries (empty on merge-on-write-only tables);
    * `changeFeed` is the sticky table flag enabling commit-time change
    * files, and `cdc` is THIS commit's own change dir when it wrote
    * one (upsert/delete with the feed on). */
  final case class Snapshot(version: Long, op: String, keys: Seq[String],
      buckets: Int, schemaDdl: String, uuid: String,
      entries: Seq[(Int, String)], ts: Long = 0L,
      statsCols: Seq[String] = Seq.empty,
      dirStats: Map[String, Map[String, ColStats]] = Map.empty,
      txn: Option[(String, Long)] = None,
      dirRows: Map[String, Long] = Map.empty,
      dirBytes: Map[String, Long] = Map.empty,
      deltas: Seq[DeltaEntry] = Seq.empty,
      changeFeed: Boolean = false,
      cdc: Option[String] = None,
      dirLayout: Map[String, Int] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      droppedPhys: Seq[String] = Seq.empty,
      constraints: Map[String, String] = Map.empty,
      partSpec: Seq[PartField] = Seq.empty,
      colDefaults: Map[String, String] = Map.empty,
      existsDefaults: Map[String, String] = Map.empty,
      /** Sticky free-form table properties (`prop=` manifest lines),
        * carried forward by every commit like [[changeFeed]]. First
        * recognized key: `rowlevelmode` (`copy-on-write` default /
        * `merge-on-read`) routing SQL row-level operations. */
      props: Map[String, String] = Map.empty,
      /** Per-dir DATA file lists `(name, bytes)` recorded by the writing
        * commit (`files=` manifest lines) — dirs are immutable once
        * published, so a recorded list is exact forever, and clone and
        * rename carry it. Scans plan from these lists with ZERO
        * filesystem listings ([[SnapshotTable.filesOf]]); a dir absent
        * from the map (pre-file-list manifests, a malformed line, a name
        * the list cannot carry) costs one driver listing of that dir,
        * never correctness. */
      dirFiles: Map[String, Seq[(String, Long)]] = Map.empty) {

    /** GUARANTEED per-dir column bounds derived from the partition
      * value segments (`_pt{i}=v`) in each entry dir's path — the
      * Iceberg identity/date partition-prune, expressed in the stats
      * vocabulary: `days(ts)=D` bounds `ts` to exactly day D's micros,
      * `identity(lang)=en` bounds `lang` to the point ['en','en'].
      * Unlike recorded `dirStats` (opt-in via statsCols, absent on
      * disabled tables), these exist for EVERY partitioned dir, so a
      * predicate on a partition source column always prunes — row-level
      * staged dirs included (their writers project the same resolved
      * partition expressions per row, [[SnapshotTable.boundPartExprs]]).
      * A dir without partition segments simply contributes nothing —
      * absence only widens reads. O(entries) driver string parsing, computed lazily once
      * per resolved snapshot. */
    lazy val partDirStats: Map[String, Map[String, ColStats]] =
      if (partSpec.isEmpty) Map.empty
      else {
        val types = StructType.fromDDL(schemaDdl).fields
          .map(f => f.name -> f.dataType).toMap
        entries.map(_._2).distinct.flatMap { dir =>
          val segs = dir.split('/').iterator.flatMap { s =>
            val i = s.indexOf('=')
            if (i > 0 && s.startsWith(PartPrefix)) Some(s.take(i) -> s.drop(i + 1))
            else None
          }.toMap
          // EVERY registered field (active or retired) resolves its
          // own _pt<idx> segment, so dirs written under any historical
          // spec keep their guaranteed derived bounds
          val st = partSpec.flatMap { f =>
            for {
              raw <- segs.get(s"$PartPrefix${f.idx}")
              dt <- types.get(f.col)
              cs <- partFieldStats(f, dt, raw)
            } yield f.col -> cs
          }.toMap
          if (st.isEmpty) None else Some(dir -> st)
        }.toMap
      }

    /** Effective data-skipping bounds for a dir: recorded stats overlay
      * partition-derived ones per column (recorded are at least as
      * tight — they describe the actual rows). */
    def statsFor(dir: String): Map[String, ColStats] = {
      val p = partDirStats.getOrElse(dir, Map.empty)
      if (p.isEmpty) dirStats.getOrElse(dir, Map.empty)
      else p ++ dirStats.getOrElse(dir, Map.empty)
    }

    /** PHYSICAL (file) name of a logical column — column-mapping
      * indirection (the Delta column-mapping `name` mode, re-derived):
      * a column's physical name is the name it was FIRST written under
      * and never changes; [[SnapshotTable.renameColumn]] just repoints
      * the logical name, so zero data files are rewritten. Absent from
      * the map = logical == physical (tables that never renamed pay
      * nothing). Manifest stats and `statsCols` are keyed PHYSICAL
      * (they describe file contents). */
    def physicalOf(c: String): String = colMap.getOrElse(c, c)

    /** Reverse mapping for relabeling file-space names back to the
      * logical view. */
    lazy val logicalOf: Map[String, String] = colMap.map(_.swap)

    /** `schema` with every field renamed to its physical name — the
      * schema data files are written and read under. */
    def physicalSchema(ddl: String): StructType =
      physicalSchema(StructType.fromDDL(ddl))

    def physicalSchema(st: StructType): StructType =
      StructType(st.fields.map(f => f.copy(name = physicalOf(f.name))))

    /** Bucket layout a data dir was WRITTEN under. `buckets` is the
      * CURRENT layout (what new commits hash into); after a
      * metadata-only [[SnapshotTable.rescaleBuckets]] the carried-forward
      * dirs keep their narrower historical layout until a write or
      * compaction migrates them. Every layout present divides every
      * later one (grow-only power chain), which is what makes an old
      * dir's key→bucket mapping reconstructible: for `L | B`,
      * `hash mod L == (hash mod B) mod L`, so the dir with old id `b`
      * holds exactly the keys whose current bucket is ≡ b (mod L). */
    def layoutOf(dir: String): Int = dirLayout.getOrElse(dir, buckets)

    /** Does entry `e` hold any key whose CURRENT-layout bucket is in
      * `hit`? Exact under the divisibility chain (see [[layoutOf]]). */
    def entryHit(e: (Int, String), hit: Set[Int]): Boolean = {
      val l = layoutOf(e._2)
      if (l == buckets) hit(e._1) else hit.exists(h => h % l == e._1)
    }

    /** Current-layout buckets entry `e`'s keys can hash into. */
    def coveredBuckets(e: (Int, String)): Seq[Int] = {
      val l = layoutOf(e._2)
      if (l == buckets) Seq(e._1) else e._1 until buckets by l
    }

    /** True when live entries span more than the current layout — the
      * signal for readers that per-entry bucket ids are NOT all in
      * current-layout space (storage-partitioned joins and per-bucket
      * partition stamping must stand down until migration completes). */
    def mixedLayout: Boolean =
      entries.exists(e => layoutOf(e._2) != buckets)

    /** Exact row count answered from the manifest alone — `Some` only
      * when EVERY live entry carries a recorded count (manifests from
      * before row counting, or hand-imported dirs, return `None` and
      * the caller falls back to a scan). Unresolved merge-on-read
      * deltas also return `None`: tombstones subtract and replacement
      * rows shadow, so per-dir counts no longer sum. O(entries) driver
      * arithmetic: the 100 TB `count(*)` that never touches a data
      * file. */
    def metadataRowCount: Option[Long] =
      if (deltas.nonEmpty) None
      else if (entries.nonEmpty && entries.forall(e => dirRows.contains(e._2)))
        Some(entries.iterator.map(e => dirRows(e._2)).sum)
      else if (entries.isEmpty) Some(0L)
      else None

    /** Exact on-disk size of the live snapshot from the manifest — the
      * planner-statistics twin of [[metadataRowCount]]. Delta dirs count
      * toward the size (a resolving scan reads them too). */
    def metadataSizeBytes: Option[Long] = {
      val live = entries.map(_._2) ++ deltas.map(_.dir)
      if (live.nonEmpty && live.forall(dirBytes.contains))
        Some(live.iterator.map(dirBytes).sum)
      else if (live.isEmpty) Some(0L)
      else None
    }
  }

  /** Data-skipping bounds for one column in one data dir, NORMALIZED to
    * an order-comparable primitive (Long for integral/date/timestamp,
    * Double for floating, String, Boolean — [[normalizeStatsValue]]).
    * An absent bound means UNKNOWN (all-null dir, truncated long
    * string, or non-finite float), never "unbounded but known" — so
    * pruning on an absent bound is forbidden and absence only ever
    * widens reads. */
  final case class ColStats(lo: Option[Any], hi: Option[Any],
      hasNull: Boolean)

  // ---- data-skipping stats ----
  //
  // The manifest records per-dir column min/max/has-null (the
  // Delta/Iceberg file-statistics shape, VLDB'20 §4.2 "data skipping"),
  // collected by the commit's own write tasks at no extra pass, buys
  // range/equality dir pruning on the read side. The payoff pattern is
  // append-dominated tables whose commits correlate with a column —
  // time-series ingestion where each commit covers a time window makes
  // `WHERE ts >= t` skip every older commit's dirs without reading a
  // byte. (Key-hash bucketing deliberately DE-correlates the key column
  // from dirs, so key lookups use bucket pruning instead — the two
  // pruners compose in the connector.)

  /** Columns eligible for stats: atomic, order-comparable, parquet
    * min/max-meaningful. */
  private[graft] def statsEligible(f: org.apache.spark.sql.types.StructField): Boolean =
    f.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  private[graft] val MaxStatsStringLen = 64

  /** Normalize an external (collect()-returned or V1-filter) value of
    * column type `dt` to the one order-comparable primitive stats are
    * stored and compared in. None = value kind unknown → no pruning. */
  private[graft] def normalizeStatsValue(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[Any] = {
    import org.apache.spark.sql.types._
    if (v == null) return None
    (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        Some(n.longValue())
      case (FloatType | DoubleType, n: Number) =>
        val d = n.doubleValue()
        if (java.lang.Double.isFinite(d)) Some(d) else None
      case (StringType, s: String) => Some(s)
      case (StringType, s: org.apache.spark.unsafe.types.UTF8String) =>
        Some(s.toString)
      case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
      case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
      case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(t.getTime / 1000L * 1000000L + t.getNanos / 1000L)
      case (TimestampType, t: java.time.Instant) =>
        Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => None
    }
  }

  /** Total order on two SAME-KIND normalized values. */
  private def cmpNorm(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None // kind mismatch (e.g. evolved column retype): no pruning
  }

  /** Can any row in a dir with `stats` satisfy conjunct `f`? Sound
    * three-valued evaluation: unknown shapes, absent bounds, and
    * un-normalizable literals all answer TRUE (read the dir). */
  private[graft] def statsSatisfiable(
      stats: Map[String, ColStats],
      types: Map[String, org.apache.spark.sql.types.DataType],
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def bounds(c: String) = stats.get(c)
    def norm(c: String, v: Any) =
      types.get(c).flatMap(normalizeStatsValue(_, v))
    def geLo(c: String, v: Any, strict: Boolean): Boolean =
      // some row may be <= / < v, i.e. lo must not exceed v
      (bounds(c), norm(c, v)) match {
        case (Some(st), Some(nv)) => st.lo.forall(lo =>
          cmpNorm(lo, nv).forall(r => if (strict) r < 0 else r <= 0))
        case _ => true
      }
    def leHi(c: String, v: Any, strict: Boolean): Boolean =
      // some row may be >= / > v, i.e. hi must not be below v
      (bounds(c), norm(c, v)) match {
        case (Some(st), Some(nv)) => st.hi.forall(hi =>
          cmpNorm(hi, nv).forall(r => if (strict) r > 0 else r >= 0))
        case _ => true
      }
    f match {
      case EqualTo(c, v) => leHi(c, v, strict = false) && geLo(c, v, strict = false)
      case EqualNullSafe(c, v) if v != null =>
        leHi(c, v, strict = false) && geLo(c, v, strict = false)
      case EqualNullSafe(c, _) => bounds(c).forall(_.hasNull) // <=> null
      case In(c, vs) => vs.exists(v =>
        v != null && leHi(c, v, strict = false) && geLo(c, v, strict = false))
      case GreaterThan(c, v) => leHi(c, v, strict = true)
      case GreaterThanOrEqual(c, v) => leHi(c, v, strict = false)
      case LessThan(c, v) => geLo(c, v, strict = true)
      case LessThanOrEqual(c, v) => geLo(c, v, strict = false)
      case IsNull(c) => bounds(c).forall(_.hasNull)
      case And(a, b) =>
        statsSatisfiable(stats, types, a) && statsSatisfiable(stats, types, b)
      case Or(a, b) =>
        statsSatisfiable(stats, types, a) || statsSatisfiable(stats, types, b)
      case StringStartsWith(c, p) if p.nonEmpty =>
        // rows starting with p exist only if [lo, hi] admits the prefix:
        // lo <= p+MAX ~ lo's first len(p) chars <= p, and hi >= p
        (bounds(c) match {
          case Some(st) => st.hi.forall {
            case hi: String => hi >= p
            case _ => true
          } && st.lo.forall {
            case lo: String => lo.take(p.length) <= p
            case _ => true
          }
          case None => true
        })
      case _ => true // IsNotNull, Not, string-contains, unknown shapes
    }
  }

  /** Does EVERY row in a dir with `stats` satisfy conjunct `f`? The
    * dual of [[statsSatisfiable]], with the opposite sound default:
    * unknown shapes, absent bounds, and un-normalizable literals all
    * answer FALSE (not provable — read the dir). This is what lets a
    * retention `DELETE WHERE ts < cutoff` drop whole partition dirs as
    * pure metadata ([[deleteWhere]]): a dir is droppable only when the
    * predicate is provably TRUE for all its rows.
    *
    * Soundness under the stored-bound semantics: `lo` is a valid LOWER
    * bound on the dir's minimum (string lows may be truncated prefixes,
    * which only lowers them), `hi` is exact-or-absent (truncated string
    * highs are dropped at record time), and any null row evaluates a
    * comparison to NULL ≠ TRUE — so every rule requires `!hasNull`. */
  private[graft] def statsCertain(
      stats: Map[String, ColStats],
      types: Map[String, org.apache.spark.sql.types.DataType],
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def norm(c: String, v: Any) =
      types.get(c).flatMap(normalizeStatsValue(_, v))
    // min ≥ lo-bound check: lo ≤ real-min, so lo ⊕ v proves min ⊕ v
    def loCmp(c: String, v: Any)(pred: Int => Boolean): Boolean =
      (stats.get(c), norm(c, v)) match {
        case (Some(st), Some(nv)) if !st.hasNull =>
          st.lo.exists(lo => cmpNorm(lo, nv).exists(pred))
        case _ => false
      }
    // max ≤ hi check: hi ≥ real-max, so hi ⊕ v proves max ⊕ v
    def hiCmp(c: String, v: Any)(pred: Int => Boolean): Boolean =
      (stats.get(c), norm(c, v)) match {
        case (Some(st), Some(nv)) if !st.hasNull =>
          st.hi.exists(hi => cmpNorm(hi, nv).exists(pred))
        case _ => false
      }
    def allEqual(c: String, v: Any): Boolean =
      v != null && loCmp(c, v)(_ >= 0) && hiCmp(c, v)(_ <= 0)
    f match {
      case EqualTo(c, v) => allEqual(c, v)
      case EqualNullSafe(c, v) if v != null => allEqual(c, v)
      case In(c, vs) => vs.exists(allEqual(c, _))
      case LessThan(c, v) => hiCmp(c, v)(_ < 0)
      case LessThanOrEqual(c, v) => hiCmp(c, v)(_ <= 0)
      case GreaterThan(c, v) => loCmp(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) => loCmp(c, v)(_ >= 0)
      case IsNotNull(c) => stats.get(c).exists(!_.hasNull)
      case And(a, b) =>
        statsCertain(stats, types, a) && statsCertain(stats, types, b)
      case Or(a, b) =>
        statsCertain(stats, types, a) || statsCertain(stats, types, b)
      case _ => false // IsNull (bounds can't prove all-null), Not,
                      // string predicates, unknown shapes: not provable
    }
  }

  /** Bloom sizing: fixed 2^17 bits (16 KB per dir) against an 8k-item
    * estimate — ~11 hashes, sub-percent false-positive rate at the
    * intended "one bucket ≈ one rewrite unit" dir sizes, degrading
    * GRACEFULLY (never unsoundly) on oversized dirs. The probe side
    * treats an absent/corrupt filter as "may contain". */
  private val BloomNumBits = 1L << 17
  private val BloomEstItems = 8192L
  private[sources] val BloomFileName = ".bloom"
  /** Largest literal-key probe set worth bloom-testing on the driver. */
  private[sources] val BloomProbeMax = 4096

  /** An empty per-dir key bloom at the fixed sizing above. */
  private[sources] def newKeyBloom(): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.create(BloomEstItems, BloomNumBits)

  /** Driver-side twin of the write path's `xxhash64(keyCols)` — the
    * long a literal key tuple contributes to a dir's bloom filter. */
  private[sources] def keyHashOfLiterals(values: Seq[Any],
      types: Seq[org.apache.spark.sql.types.DataType]): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(values.zip(types).map { case (v, t) => Literal.create(v, t) },
      42L).eval(null).asInstanceOf[Long]
  }

  /** May `dir` hold ANY of the probe key hashes? Absent or unreadable
    * bloom files answer true (read the dir) — pruning only narrows. */
  private[sources] def bloomMayContain(fsys: FileSystem, dir: String,
      hashes: Seq[Long]): Boolean = {
    val p = new Path(dir, BloomFileName)
    val in =
      try fsys.open(p)
      catch { case scala.util.control.NonFatal(_) => return true }
    // NonFatal, not just IOException: a corrupt .bloom can make
    // BloomFilter.readFrom throw e.g. NegativeArraySizeException, and
    // the contract is "absent/corrupt filter answers true" — degrading
    // to a full read beats failing it. Single close via finally.
    val bf =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      catch { case scala.util.control.NonFatal(_) => return true }
      finally in.close()
    hashes.exists(bf.mightContainLong)
  }

  /** A recorded bound: a truncated lower bound stays a lower bound; a
    * truncated UPPER bound would round down and lie — drop it. */
  private def capped(v: Option[Any], roundsDown: Boolean): Option[Any] =
    v.flatMap {
      case s: String if s.length > MaxStatsStringLen =>
        if (roundsDown) Some(s.substring(0, MaxStatsStringLen)) else None
      case other => Some(other)
    }

  /** Per-dir column stats and exact row counts for one commit's
    * entries, from the accumulators its write tasks filled
    * ([[SnapshotWriteStats]], keyed by entry dir) — no pass over the
    * written files. Writes each dir's key `.bloom` sidecar when the
    * spec records blooms (the read side prunes point lookups with it —
    * an absent-key probe reads ZERO data bytes). Returns (dir → column
    * stats, dir → row count). */
  private def commitStats(fsys: FileSystem, spec: SnapshotWriteStats.Spec,
      written: Map[String, SnapshotWriteStats.Dir],
      entries: Seq[(Int, String)])
      : (Map[String, Map[String, ColStats]], Map[String, Long]) = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val dirs = entries.map(_._2)
    if (spec.withBloom) dirs.foreach { d =>
      written.get(d).flatMap(w => Option(w.bloom)).foreach { bf =>
        val out = fsys.create(new Path(d, BloomFileName), true)
        try out.write(org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate.serialize(bf))
        finally out.close()
      }
    }
    // a dir no task wrote a row into holds ZERO rows (empty parquet
    // write): its count is exactly 0, not unknown
    val rows = dirs.map(d => d -> written.get(d).fold(0L)(_.rows)).toMap
    val stats = dirs.flatMap(d => written.get(d).map { w =>
      d -> spec.cols.indices.flatMap { i =>
        val (c, _, dt) = spec.cols(i)
        def bound(v: Any, roundsDown: Boolean) = capped(
          Option(v).flatMap(x => normalizeStatsValue(dt,
            CatalystTypeConverters.convertToScala(x, dt))), roundsDown)
        val lo = bound(w.lo(i), roundsDown = true)
        val hi = bound(w.hi(i), roundsDown = false)
        if (lo.isEmpty && hi.isEmpty && !w.hasNull(i)) None
        else Some(c -> ColStats(lo, hi, w.hasNull(i)))
      }.toMap
    }).filter(_._2.nonEmpty).toMap
    (stats, rows)
  }

  /** DATA file names+bytes of already-written dirs — one driver listing
    * per dir, O(dirs), feeding the manifest's `files=`/`bytes=` fields
    * for dirs that were not produced by this process's own commit walk
    * (clone-by-reference, imported dirs). Hidden sidecars (`.bloom`,
    * markers) are index metadata, not scan input, so they stay out of
    * both the file list and the size a join planner compares against
    * its broadcast threshold. */
  private def dirFileLists(fsys: FileSystem,
      entries: Seq[(Int, String)]): CommitFiles =
    CommitFiles.of(entries, entries.map { case (_, d) =>
      d -> dataFilesOf(fsys.listStatus(new Path(d)).toSeq) })

  /** The DATA files among one dir's listed children, name-sorted —
    * hidden `.`/`_` names excluded, the visibility rule Spark's own
    * listing applies. */
  private def dataFilesOf(listed: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[(String, Long)] =
    listed.filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }).map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)

  /** File list of a commit's `_cdc` change dir, keyed like
    * [[dirFileLists]] — recorded so a rate-limited change-feed reader
    * can charge a cdc commit's REAL size against its byte budget
    * instead of "unknown" (one listing on the commit). */
  private def cdcFiles(fsys: FileSystem, cdc: Option[String]): CommitFiles =
    cdc.fold(CommitFiles.empty)(d => dirFileLists(fsys, Seq(0 -> d)))

  // stats serialization: one flat JSON object per dir, our own
  // writer/parser (the grammar is fixed and tab/newline-free so the
  // line-oriented manifest stays parseable; no library dependency drift)

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def scalarJson(v: Any): String = v match {
    case s: String => "\"" + jsonEscape(s) + "\""
    case d: Double => java.lang.Double.toString(d) // round-trip exact
    case other => other.toString // Long, Boolean
  }

  private[graft] def statsToJson(m: Map[String, ColStats]): String =
    m.toSeq.sortBy(_._1).map { case (c, st) =>
      val parts = st.lo.map(v => s""""lo":${scalarJson(v)}""").toSeq ++
        st.hi.map(v => s""""hi":${scalarJson(v)}""").toSeq :+
        s""""nn":${st.hasNull}"""
      "\"" + jsonEscape(c) + "\":{" + parts.mkString(",") + "}"
    }.mkString("{", ",", "}")

  /** Parse [[statsToJson]] output; bound kinds are re-typed through the
    * column's schema type so Long/Double/String/Boolean come back as
    * written. Fails loudly on malformed input (a manifest is
    * engine-written — corruption must not silently disable pruning). */
  private[graft] def statsFromJson(s: String,
      types: Map[String, org.apache.spark.sql.types.DataType]): Map[String, ColStats] = {
    var i = 0
    def fail(msg: String) = sys.error(s"bad stats json at $i: $msg in $s")
    def ch = { if (i >= s.length) fail("eof"); s.charAt(i) }
    def expect(c: Char): Unit = { if (ch != c) fail(s"expected $c"); i += 1 }
    def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (ch != '"') {
        if (ch == '\\') {
          i += 1
          ch match {
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 5
            case c => sb += (c match { case '"' => '"'; case '\\' => '\\'
              case other => fail(s"bad escape $other") }); i += 1
          }
        } else { sb += ch; i += 1 }
      }
      i += 1
      sb.toString
    }
    def parseScalar(): Any = ch match {
      case '"' => parseString()
      case 't' => i += 4; true
      case 'f' => i += 5; false
      case _ =>
        val start = i
        while (i < s.length && "-+.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
        val tok = s.substring(start, i)
        if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble
        else tok.toLong
    }
    val out = scala.collection.mutable.Map.empty[String, ColStats]
    expect('{')
    while (ch != '}') {
      val c = parseString()
      expect(':'); expect('{')
      var lo: Option[Any] = None; var hi: Option[Any] = None; var nn = false
      while (ch != '}') {
        val k = parseString(); expect(':')
        val v = parseScalar()
        k match {
          case "lo" => lo = Some(v)
          case "hi" => hi = Some(v)
          case "nn" => nn = v.asInstanceOf[Boolean]
          case other => fail(s"unknown key $other")
        }
        if (ch == ',') i += 1
      }
      i += 1
      // doubles written for float columns parse as Double unless integral
      // -valued (e.g. "2.0" stays Double via the '.' check; "2" would be
      // a Long — normalize through the column type to restore the kind)
      def retype(v: Option[Any]) = types.get(c) match {
        case Some(org.apache.spark.sql.types.FloatType |
                  org.apache.spark.sql.types.DoubleType) =>
          v.map { case l: Long => l.toDouble; case other => other }
        case _ => v
      }
      out(c) = ColStats(retype(lo), retype(hi), nn)
      if (ch == ',') i += 1
    }
    out.toMap
  }

  /** The normalized-primitive comparison types of a schema, for pruning
    * and parse re-typing. */
  private[graft] def statsTypes(schemaDdl: String): Map[String, org.apache.spark.sql.types.DataType] =
    StructType.fromDDL(schemaDdl).fields.map(f => f.name -> f.dataType).toMap

  /** Reserved bucket-partition column; inputs must not use it. */
  private[sources] val BucketCol = "_gb"
  private val ZSliceCol = "_zs"
  private[sources] val PartPrefix = "_pt"
  private[sources] val PosFileCol = "_sdv_file"
  private[sources] val PosPosCol = "_sdv_pos"
  /** The row-identity columns the replaying scans synthesize (split
    * suffix, parquet row index); data files never store them. */
  private[sources] val IdentityCols = Set(PosFileCol, PosPosCol)
  private[sources] val PartNullDir = "__HIVE_DEFAULT_PARTITION__"

  // ---- identity/date partition transforms ----
  //
  // The Iceberg partition-transform shape (identity, hours/days/months/
  // years over time columns), re-derived for the bucket-first layout:
  // each commit's bucket dir splits into `_pt0=v/_pt1=w/…` value dirs,
  // one manifest entry per leaf, and the READ side prunes by deriving
  // exact per-dir column bounds from the dir names ([[Snapshot
  // .partDirStats]]) — so partition pruning rides the existing stats
  // pruner with zero new read logic and is GUARANTEED (independent of
  // the opt-in statsCols). The spec is fixed at [[create]], stored in
  // every manifest, and its source columns are protected from rename/
  // drop like keys. Time-zone discipline: every transform over
  // TIMESTAMP is UTC-FIXED regardless of session zone — hours/days as
  // pure epoch arithmetic, months/years via zone-free epoch-day →
  // civil-date arithmetic (never year()/month() on the timestamp
  // itself, which follow the session zone and would make dir names —
  // and thus derived bounds — session-dependent). This is Iceberg's
  // definition: month/year of a timestamptz partition by the UTC
  // instant. DATE and TIMESTAMP_NTZ calendar transforms are zone-free
  // by construction.

  /** One partition-spec field: `transform` ∈ {identity, hours, days,
    * months, years} over source column `col`. `idx` is the field's
    * PERMANENT dir-segment number (`_pt<idx>=`) — assigned once, never
    * reused, so a dir written under ANY historical spec stays
    * self-describing through the registry ([[Snapshot.partSpec]] holds
    * every field ever registered; `active = false` marks fields a
    * [[repartitionSpec]] evolution retired — their old dirs keep full
    * derived-bound pruning, new writes just stop producing them).
    * Serialized in manifests as `transform(col)` (legacy positional
    * form, byte-identical for never-evolved tables) or
    * `transform(col)@idx[!]` after an evolution. */
  final case class PartField(transform: String, col: String,
      idx: Int = -1, active: Boolean = true) {
    override def toString: String = s"$transform($col)"
    private[sources] def serialized: String =
      if (active && idx >= 0) s"$transform($col)@$idx"
      else if (idx >= 0) s"$transform($col)@$idx!"
      else toString
  }

  /** Fields new writes partition by, in spec order. */
  private def activeSpec(spec: Seq[PartField]): Seq[PartField] =
    spec.filter(_.active)

  private val PartFieldRe = """^([a-z]+)\(([^()]+)\)$""".r
  private val PartFieldIdxRe = """^([a-z]+)\(([^()]+)\)@(\d+)(!?)$""".r
  private val PartB64Prefix = "B64~"

  /** Partition-value expressions of `spec` over `ddl`'s columns:
    * RESOLVED through a real (empty) plan, RuntimeReplaceable nodes
    * swapped for their evaluable replacements, and bound to the
    * schema's positional order — so executor-side row-level writers
    * project per-row partition dir values with EXACTLY the plan the
    * batch write paths use ([[partValueCol]]), never a re-derivation
    * that could drift. Driver-side, O(spec) once per write. */
  private[sources] def boundPartExprs(spark: SparkSession, ddl: String,
      spec: Seq[PartField])
      : Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, RuntimeReplaceable}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val act = activeSpec(spec)
    if (act.isEmpty) return Seq.empty
    val schema = StructType.fromDDL(ddl)
    val df = emptyDf(spark, schema).select(act.map(f =>
      partValueCol(f, schema(f.col).dataType)): _*)
    df.queryExecution.analyzed match {
      case Project(list, child) =>
        act.map(_.idx).zip(list.map { ne =>
          val replaced = ne.transformUp {
            case r: RuntimeReplaceable => r.replacement
          }.asInstanceOf[Expression]
          BindReferences.bindReference(replaced, child.output)
        })
      case other => sys.error(
        s"unexpected partition-expression plan shape: $other")
    }
  }

  /** Human-readable partition tuple of a data dir under `spec` —
    * `"days(ts)=19723/identity(lang)=en"` — for the metadata tables;
    * None for dirs without partition segments (unpartitioned tables,
    * row-level staged dirs, delta layers). */
  private[graft] def partValuesOf(spec: Seq[PartField],
      dir: String): Option[String] = {
    if (spec.isEmpty) return None
    val segs = dir.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0 && seg.startsWith(PartPrefix))
        Some(seg.take(i) -> seg.drop(i + 1))
      else None
    }.toMap
    val parts = spec.flatMap { f =>
      segs.get(s"$PartPrefix${f.idx}").map { raw =>
        val v = if (raw == PartNullDir) "null"
          else decodePartString(unescapePathName(raw))
        s"$f=$v"
      }
    }
    if (parts.isEmpty) None else Some(parts.mkString("/"))
  }

  /** Reverse of the identity-string dir encoding in [[partValueCol]]. */
  private def decodePartString(v: String): String =
    if (!v.startsWith(PartB64Prefix)) v
    else {
      val b64 = v.drop(PartB64Prefix.length).map {
        case '-' => '+'; case '_' => '/'; case '~' => '='; case ch => ch
      }
      new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
    }

  /** Parse `"days(ts)"` / `"lang"` (bare name = identity) specs —
    * user input and legacy manifests get POSITIONAL indices; evolved
    * manifests carry explicit `@idx` (and `!` for retired fields). */
  private[sources] def parsePartSpec(specs: Seq[String]): Seq[PartField] = {
    def txOk(t: String): String = {
      require(Set("identity", "hours", "days", "months", "years")(t),
        s"unknown partition transform '$t' (have identity/hours/days/" +
          "months/years)")
      t
    }
    val fields = specs.map(_.trim).filter(_.nonEmpty).map {
      case PartFieldIdxRe(t, c, i, bang) =>
        PartField(txOk(t), c.trim, i.toInt, active = bang.isEmpty)
      case PartFieldRe(t, c) => PartField(txOk(t), c.trim)
      case bare => PartField("identity", bare)
    }
    // positional fill for the legacy/user form (explicit-idx specs keep
    // their recorded numbers)
    if (fields.forall(_.idx < 0))
      fields.zipWithIndex.map { case (f, i) => f.copy(idx = i) }
    else fields
  }

  /** Validate a spec against a schema: source exists, transform/type
    * combination supported. */
  private def requirePartSpec(spec: Seq[PartField],
      schema: StructType): Unit = {
    import org.apache.spark.sql.types._
    require(spec.map(_.col).distinct.size == spec.size,
      s"duplicate partition source columns in ${spec.mkString(",")}")
    spec.foreach { f =>
      val field = schema.fields.find(_.name == f.col).getOrElse(
        sys.error(s"partition column ${f.col} missing from ${schema.toDDL}"))
      val ok = (f.transform, field.dataType) match {
        case ("identity", ByteType | ShortType | IntegerType | LongType |
            StringType | BooleanType | DateType) => true
        case ("hours" | "days" | "months" | "years",
            TimestampType | TimestampNTZType) => true
        case ("days" | "months" | "years", DateType) => true
        case _ => false
      }
      require(ok, s"partition transform $f unsupported for type " +
        s"${field.dataType.sql} (identity: integral/string/boolean/date; " +
        "hours/days/months/years: timestamp/timestamp_ntz — UTC-fixed " +
        "on timestamp; days/months/years: date)")
    }
  }

  /** The STRING value column a write derives for partition field `i` —
    * what lands in the `_pt{i}=` dir name. Epoch-unit integers for time
    * transforms (UTC-fixed), canonical strings for identity. */
  private def partValueCol(f: PartField,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val c = col(f.col)
    def ntzDay = datediff(c.cast(DateType), to_date(lit("1970-01-01")))
    (f.transform, dt) match {
      case ("identity", DateType) =>
        datediff(c, to_date(lit("1970-01-01"))).cast(LongType).cast(StringType)
      case ("identity", StringType) =>
        // dir-safe self-encoding: values already in the safe alphabet go
        // raw (the common `lang=en` case stays human-readable); anything
        // else — separators, spaces, '%', the empty string (which the
        // Hive dir convention would silently conflate with null) — rides
        // as filesystem-safe base64 behind a prefix no raw value can
        // produce ('~' is outside the safe set). Percent-escaping is NOT
        // an option here: Hadoop Path/URI round trips decode %XX and
        // would silently re-point the manifest's dir strings. The one
        // safe-alphabet value that must NOT go raw is the Hive null
        // sentinel itself — a real string literally equal to
        // '__HIVE_DEFAULT_PARTITION__' rides as base64 so the read side
        // ([[partFieldStats]]/[[partValuesOf]], which test the sentinel
        // FIRST) never conflates it with the null dir.
        when(c.rlike("^[A-Za-z0-9_.\\-]+$") && c =!= lit(PartNullDir), c)
          .otherwise(
          concat(lit(PartB64Prefix),
            translate(base64(encode(c, "UTF-8")), "+/=", "-_~")))
      case ("identity", _) => c.cast(StringType)
      case ("hours", TimestampType) =>
        floor(unix_micros(c) / lit(3600000000L)).cast(StringType)
      case ("days", TimestampType) =>
        floor(unix_micros(c) / lit(86400000000L)).cast(StringType)
      case ("hours", TimestampNTZType) =>
        (ntzDay.cast(LongType) * 24 + hour(c)).cast(StringType)
      case ("days", TimestampNTZType) => ntzDay.cast(LongType).cast(StringType)
      case ("days", DateType) =>
        datediff(c, to_date(lit("1970-01-01"))).cast(LongType).cast(StringType)
      case ("months", DateType | TimestampNTZType) =>
        ((year(c) - 1970) * 12 + month(c) - 1).cast(LongType).cast(StringType)
      case ("years", DateType | TimestampNTZType) =>
        year(c).cast(LongType).cast(StringType)
      // TIMESTAMP calendar transforms, UTC-FIXED (the Iceberg
      // timestamptz definition): never year()/month() on the timestamp
      // (session-zoned) — route through the UTC epoch day rebuilt as a
      // DATE (epoch arithmetic + date_add on a literal are zone-free),
      // whose calendar fields are zone-free by type
      case ("months" | "years", TimestampType) =>
        val utcDate = date_add(to_date(lit("1970-01-01")),
          floor(unix_micros(c) / lit(86400000000L)).cast(IntegerType))
        val v =
          if (f.transform == "months")
            (year(utcDate) - 1970) * 12 + month(utcDate) - 1
          else year(utcDate)
        v.cast(LongType).cast(StringType)
      case other => sys.error(s"unsupported partition transform $other")
    }
  }

  /** Spark's partition-dir escaping, reversed (char-wise %XX). */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(ch); i += 1 }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Exact bounds (in the NORMALIZED stats space of `dt` —
    * [[normalizeStatsValue]]) implied for `f.col` by partition value
    * `raw` from a dir name. None on unparseable values (no pruning —
    * sound); the null dir yields unknown-bounds-with-null. */
  private[sources] def partFieldStats(f: PartField,
      dt: org.apache.spark.sql.types.DataType,
      raw: String): Option[ColStats] = {
    import org.apache.spark.sql.types._
    import java.time.{LocalDate, LocalDateTime, YearMonth, ZoneOffset}
    if (raw == PartNullDir) return Some(ColStats(None, None, hasNull = true))
    def micros(ldt: LocalDateTime): Long = {
      val i = ldt.toInstant(ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def point(v: Any) = ColStats(Some(v), Some(v), hasNull = false)
    def range(lo: Any, hi: Any) = ColStats(Some(lo), Some(hi), hasNull = false)
    val v = unescapePathName(raw)
    try {
      Some((f.transform, dt) match {
        case ("identity", ByteType | ShortType | IntegerType | LongType |
            DateType) => point(v.toLong) // date identity encodes epochDay
        case ("identity", StringType) => point(decodePartString(v))
        case ("identity", BooleanType) => point(v.toBoolean)
        case ("hours", TimestampType | TimestampNTZType) =>
          val h = v.toLong
          range(h * 3600000000L, h * 3600000000L + 3599999999L)
        case ("days", TimestampType | TimestampNTZType) =>
          val d = v.toLong
          range(d * 86400000000L, d * 86400000000L + 86399999999L)
        case ("days", DateType) => point(v.toLong)
        case ("months", DateType) =>
          val m = v.toLong
          val ym = YearMonth.of(1970 + Math.floorDiv(m, 12L).toInt,
            Math.floorMod(m, 12L).toInt + 1)
          range(ym.atDay(1).toEpochDay, ym.atEndOfMonth.toEpochDay)
        // TIMESTAMP shares the NTZ spelling: its month index is defined
        // on the UTC instant and its stats space IS utc micros
        case ("months", TimestampNTZType | TimestampType) =>
          val m = v.toLong
          val ym = YearMonth.of(1970 + Math.floorDiv(m, 12L).toInt,
            Math.floorMod(m, 12L).toInt + 1)
          range(micros(ym.atDay(1).atStartOfDay),
            micros(ym.plusMonths(1).atDay(1).atStartOfDay) - 1L)
        case ("years", DateType) =>
          val y = v.toInt
          range(LocalDate.of(y, 1, 1).toEpochDay,
            LocalDate.of(y, 12, 31).toEpochDay)
        case ("years", TimestampNTZType | TimestampType) =>
          val y = v.toInt
          range(micros(LocalDate.of(y, 1, 1).atStartOfDay),
            micros(LocalDate.of(y + 1, 1, 1).atStartOfDay) - 1L)
        case _ => return None
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }
  /** Change-feed metadata columns ([[readChanges]]). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  private def fs(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (LocalFs.resolve(p, spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestDir(root: Path) = new Path(root, "_manifests")
  /** Manifest file name on a LINE: the main line (`line = None`,
    * `v<N>.txt` — what [[versions]] lists) or a branch's private line
    * (`b.<name>.v<N>.txt` — skipped by the main listing's anchored
    * regex, so branch commits are invisible to main readers by
    * construction). */
  private def manifestName(line: Option[String], v: Long): String =
    line.fold(f"v$v%08d.txt")(n => f"b.$n.v$v%08d.txt")
  private def manifestPath(root: Path, v: Long,
      line: Option[String] = None) =
    new Path(manifestDir(root), manifestName(line, v))
  private def refsDir(root: Path) = new Path(root, "_refs")
  private def tagPath(root: Path, name: String) =
    new Path(refsDir(root), s"$name.txt")
  private def branchesDir(root: Path) = new Path(refsDir(root), "branches")
  private def branchRefPath(root: Path, name: String) =
    new Path(branchesDir(root), s"$name.txt")
  // starts alphanumeric (hidden-file names are reader-invisible), one
  // path segment, filesystem-safe on every Hadoop store
  private val TagName = """[A-Za-z0-9][A-Za-z0-9._-]{0,127}""".r

  // ---- manifest read side ----

  /** Test/scale seam: manifest bodies opened AND parsed since process
    * start — the unit the O(1)-resolution contract is asserted in
    * (SnapshotCheckpointSpec): `current()` on an N-commit table must
    * parse ONE manifest, not N. */
  private[graft] val manifestParses =
    new java.util.concurrent.atomic.AtomicLong

  /** Decode the manifest at `p`, which lives at `<root>/_manifests/`
    * in the root's spelling ([[listManifests]] names it so): its dirs
    * resolve against that root. */
  private def parseManifest(fsys: FileSystem, p: Path, v: Long): Snapshot = {
    manifestParses.incrementAndGet()
    SnapshotManifest.decode(readText(fsys, p), p.getParent.getParent.toString,
      p.toString, v)
  }

  /** A small metadata file's whole body as UTF-8 text. */
  private def readText(fsys: FileSystem, p: Path): String = {
    val in = fsys.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  // ---- consolidated checkpoints ----
  //
  // The Delta `_last_checkpoint` shape, re-derived for self-contained
  // manifests: every manifest already IS a complete table state, so the
  // checkpoint does not replay a log — it consolidates the two history
  // SUMMARIES whose naive spelling is O(versions) manifest parses:
  //   - version → (commit ts, uuid), for `asOfTimestamp` resolution;
  //   - per-app newest txn version, for exactly-once streaming resume
  //     ([[lastTxn]] — a replayed sink batch must not reopen 8,640
  //     manifests on a 1-commit/10 s table to learn its watermark).
  // One `ckpt.v<N>.txt` file per CheckpointInterval main commits,
  // written best-effort by the committer that lands the interval
  // version, published through the same no-overwrite [[CommitStore]]
  // (racers: one wins, losers swallow — a checkpoint is a cache of
  // published truth, never truth itself). Readers take the newest
  // checkpoint from the SAME single listing every resolution already
  // pays and parse only the ≤ interval manifests past it. A missing,
  // stale, or unreadable checkpoint only costs parses — every consumer
  // falls back to the per-manifest spelling.

  private[graft] val CheckpointInterval = 10L
  private val CkptHeader = "graft-checkpoint-v1"
  private def ckptPath(root: Path, v: Long) =
    new Path(manifestDir(root), f"ckpt.v$v%08d.txt")

  /** Parsed checkpoint: summaries for every main version ≤ `version`
    * that existed when it was written. `vers`: version → (ts, uuid);
    * `txns`: appId → newest txn version. Txn watermarks survive history
    * expiry through here (an IMPROVEMENT on scanning retained
    * manifests: vacuuming below a replayable batch no longer forfeits
    * its exactly-once dedup once a checkpoint has covered it). */
  private[graft] final case class Checkpoint(version: Long,
      vers: Map[Long, (Long, String)], txns: Map[String, Long])

  /** Test seam: checkpoint bodies parsed since process start. */
  private[graft] val checkpointParses =
    new java.util.concurrent.atomic.AtomicLong

  private def parseCheckpoint(fsys: FileSystem, p: Path): Checkpoint = {
    checkpointParses.incrementAndGet()
    val lines = readText(fsys, p).split("\n").toSeq.filter(_.nonEmpty)
    require(lines.headOption.contains(CkptHeader),
      s"$p is not a $CkptHeader file (header: ${lines.headOption})")
    val v = lines.collectFirst {
      case l if l.startsWith("version=") => l.drop("version=".length).toLong
    }.getOrElse(sys.error(s"checkpoint $p missing version field"))
    val vers = lines.collect {
      case l if l.startsWith("ver=") =>
        val Array(n, ts, uuid) = l.drop("ver=".length).split("\t", 3)
        n.toLong -> (ts.toLong, uuid)
    }.toMap
    val txns = lines.collect {
      case l if l.startsWith("txn=") =>
        val Array(app, n) = l.drop("txn=".length).split("\t", 2)
        app -> n.toLong
    }.toMap
    Checkpoint(v, vers, txns)
  }

  /** Newest readable checkpoint in `listed`, or None (absent/corrupt —
    * both degrade to per-manifest parses, never to failure). */
  private def newestCheckpoint(fsys: FileSystem,
      listed: ManifestListing): Option[Checkpoint] =
    listed.ckpts.lastOption.flatMap { case (_, p) =>
      try Some(parseCheckpoint(fsys, p))
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Test seam: the newest checkpoint's parsed content. */
  private[graft] def parseCheckpointForTest(spark: SparkSession,
      root: String): Checkpoint = {
    val (fsys, rootP) = fs(spark, root)
    newestCheckpoint(fsys, listManifests(fsys, rootP, None))
      .getOrElse(sys.error(s"no readable checkpoint at $root"))
  }

  /** Best-effort checkpoint publish after main commit `snap` when its
    * version is an interval multiple. Builds from the prior checkpoint
    * plus the ≤ interval gap manifests — O(interval), never
    * O(versions). Any failure (gap manifest vacuumed mid-build, lost
    * publish race, store hiccup) is swallowed: the next interval
    * commit tries again. */
  private def writeCheckpointIfDue(fsys: FileSystem, rootP: Path,
      snap: Snapshot): Unit = {
    if (snap.version % CheckpointInterval != 0L) return
    try {
      val listed = listManifests(fsys, rootP, None)
      val prior = listed.ckpts.filter(_._1 < snap.version).lastOption
        .flatMap { case (_, p) =>
          try Some(parseCheckpoint(fsys, p))
          catch { case scala.util.control.NonFatal(_) => None }
        }
      val base = prior.getOrElse(Checkpoint(0L, Map.empty, Map.empty))
      val gap = listed.versions
        .filter { case (v, _) => v > base.version && v < snap.version }
        .flatMap { case (v, p) =>
          try Some(parseManifest(fsys, p, v))
          catch { case scala.util.control.NonFatal(_) => None }
        } :+ snap
      // ver entries are only ever consulted for LISTED versions, so
      // prune vacuum-expired ones here — a long-lived table's
      // checkpoint stays O(retained history), not O(all history).
      // Txn watermarks are the opposite: one entry per app,
      // deliberately CUMULATIVE across expiry (exactly-once resume
      // must survive vacuum).
      val listedV = listed.versionNumbers.toSet
      val vers = (base.vers ++ gap.map(s => s.version -> (s.ts, s.uuid)))
        .filter { case (ver, _) => listedV(ver) || ver == snap.version }
      val txns = gap.flatMap(_.txn).foldLeft(base.txns) {
        case (m, (app, n)) => m.updated(app, m.get(app).fold(n)(_ max n))
      }
      val body = new StringBuilder
      body ++= CkptHeader += '\n'
      body ++= s"version=${snap.version}" += '\n'
      vers.toSeq.sortBy(_._1).foreach { case (v, (ts, uuid)) =>
        body ++= s"ver=$v\t$ts\t$uuid" += '\n'
      }
      txns.toSeq.sortBy(_._1).foreach { case (app, n) =>
        require(!app.contains('\n') && !app.contains('\t'),
          s"txn app id must be line-safe: $app")
        body ++= s"txn=$app\t$n" += '\n'
      }
      storeFor(fsys).writeNoOverwrite(ckptPath(rootP, snap.version),
        body.toString.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** One dir listing of `_manifests`, names only — ZERO manifest
    * parses. `versions` ascending; `ckpts` are the consolidated
    * checkpoints (main line only, [[writeCheckpointIfDue]]). */
  private final case class ManifestListing(versions: Seq[(Long, Path)],
      ckpts: Seq[(Long, Path)]) {
    def versionNumbers: Seq[Long] = versions.map(_._1)
  }

  /** List one line's manifest names (and, for main, its checkpoints) in
    * a single `listStatus` — the O(1)-RPC metadata read every resolution
    * path starts from. Scala regex pattern matching anchors the whole
    * name, so each line's listing is blind to the other lines' files,
    * to checkpoints, and to hidden .tmp/.lock strays. Paths are spelled
    * from `rootP`, not as the listing qualifies them. */
  private def listManifests(fsys: FileSystem, rootP: Path,
      line: Option[String]): ManifestListing = {
    val dir = manifestDir(rootP)
    if (!fsys.exists(dir)) return ManifestListing(Seq.empty, Seq.empty)
    // \d{8,}: the writer zero-pads to 8 digits but GROWS past them, so
    // the listing must accept what the writer can produce — an exact
    // {8} would silently hide versions >= 10^8 (stale reads, commit
    // collisions)
    val V = line match {
      case None => """v(\d{8,})\.txt""".r
      case Some(n) =>
        (java.util.regex.Pattern.quote(s"b.$n.") + """v(\d{8,})\.txt""").r
    }
    val C = """ckpt\.v(\d{8,})\.txt""".r
    val vs = Seq.newBuilder[(Long, Path)]
    val cs = Seq.newBuilder[(Long, Path)]
    fsys.listStatus(dir).map(_.getPath.getName).foreach {
      case name @ V(n) => vs += ((n.toLong, new Path(dir, name)))
      case name @ C(n) if line.isEmpty =>
        cs += ((n.toLong, new Path(dir, name)))
      case _ => () // other lines' files, checkpoints, strays: invisible
    }
    ManifestListing(vs.result().sortBy(_._1), cs.result().sortBy(_._1))
  }

  /** All published versions, ascending, every manifest PARSED — the
    * full time-travel catalog. O(versions) manifest reads by nature:
    * reserve it for surfaces that genuinely need every snapshot
    * (history metadata table, vacuum, whole-history audits). Head
    * resolution, tag/version/timestamp reads, txn watermarks, and
    * branch heads all have O(1)-parse paths ([[current]], [[resolve]],
    * [[lastTxn]], [[branchList]]) riding [[listManifests]] + the
    * consolidated checkpoint — use those. */
  def versions(spark: SparkSession, root: String): Seq[Snapshot] =
    versionsOn(spark, root, None)

  /** Published versions of one line (main or a branch's private
    * manifests), ascending, all parsed. */
  private def versionsOn(spark: SparkSession, root: String,
      line: Option[String]): Seq[Snapshot] = {
    val (fsys, rootP) = fs(spark, root)
    listManifests(fsys, rootP, line).versions
      .map { case (v, p) => parseManifest(fsys, p, v) }
  }

  /** Does a snapshot table exist at `root`? One dir listing, zero
    * manifest parses. */
  def exists(spark: SparkSession, root: String): Boolean = {
    val (fsys, rootP) = fs(spark, root)
    listManifests(fsys, rootP, None).versions.nonEmpty
  }

  /** Newest main version NUMBER without parsing anything — the
    * streaming `latestOffset` probe (called once per micro-batch tick,
    * the hottest metadata read a streaming table serves). */
  private[sources] def headVersion(spark: SparkSession,
      root: String): Option[Long] = {
    val (fsys, rootP) = fs(spark, root)
    listManifests(fsys, rootP, None).versions.lastOption.map(_._1)
  }

  /** Parse only the listed main versions in `[fromV, toV]` — the
    * streaming/CDF window read (a micro-batch over a long-lived table
    * must not pay O(history) parses per batch). */
  private[sources] def versionWindow(spark: SparkSession, root: String,
      fromV: Long, toV: Long): Map[Long, Snapshot] = {
    val (fsys, rootP) = fs(spark, root)
    listManifests(fsys, rootP, None).versions
      .filter { case (v, _) => v >= fromV && v <= toV }
      .map { case (v, p) => v -> parseManifest(fsys, p, v) }.toMap
  }

  /** [[versionWindow]] factored over ONE directory listing: the
    * chunked admission walks ([[SnapshotMicroBatchStream]] /
    * [[SnapshotCdfMicroBatchStream]]) bound PARSES at O(served) per
    * trigger — reusing a single listing across their chunks keeps
    * LIST RPCs constant per trigger too. */
  private[sources] def versionLister(spark: SparkSession,
      root: String): (Long, Long) => Map[Long, Snapshot] = {
    val (fsys, rootP) = fs(spark, root)
    val listed = listManifests(fsys, rootP, None).versions
    (fromV, toV) => listed
      .filter { case (v, _) => v >= fromV && v <= toV }
      .map { case (v, p) => v -> parseManifest(fsys, p, v) }.toMap
  }

  /** Head snapshot: ONE manifest parse regardless of history length
    * (the Delta `_last_checkpoint`-class property, achieved here by
    * listing names and parsing only the newest — manifests are
    * self-contained, so no log replay is needed at all). */
  private def current(spark: SparkSession, root: String): Snapshot =
    headOption(spark, root).getOrElse(
      sys.error(s"no snapshot table at $root (no published manifests)"))

  private[graft] def headOption(spark: SparkSession,
      root: String): Option[Snapshot] = {
    val (fsys, rootP) = fs(spark, root)
    listManifests(fsys, rootP, None).versions.lastOption
      .map { case (v, p) => parseManifest(fsys, p, v) }
  }

  /** Connector seam: the snapshot a `branch` read option resolves to. */
  private[sources] def branchHead(spark: SparkSession, root: String,
      name: String): Snapshot = currentOn(spark, root, Some(name))

  /** Test seam: a branch's private manifest chain. */
  private[graft] def versionsOnForTest(spark: SparkSession, root: String,
      name: String): Seq[Snapshot] = versionsOn(spark, root, Some(name))

  /** Head of a LINE for a writer: a branch's newest private manifest,
    * else the branch BASE's main manifest (a fresh branch); main = the
    * main head. O(1) manifest parses either way. */
  private def currentOn(spark: SparkSession, root: String,
      line: Option[String]): Snapshot = line match {
    case None => current(spark, root)
    case Some(name) =>
      val (fsys, rootP) = fs(spark, root)
      listManifests(fsys, rootP, line).versions.lastOption
        .map { case (v, p) => parseManifest(fsys, p, v) }
        .getOrElse {
          val base = branchBase(spark, root, name)
          listManifests(fsys, rootP, None).versions.find(_._1 == base)
            .map { case (v, p) => parseManifest(fsys, p, v) }
            .getOrElse(sys.error(
              s"branch '$name' at $root is based on version $base whose " +
                "manifest no longer exists (vacuumed?) — drop the branch"))
        }
  }

  /** Resolve one snapshot: by `version`, by newest-commit-`asOfTimestamp`
    * (Delta's `timestampAsOf` semantics: the snapshot a reader starting
    * at time `t` would have seen), by named `tag`, or latest.
    *
    * Parse budget: version/tag/latest cost ONE manifest parse (the
    * listing adjudicates existence by NAME). A timestamp lookup needs
    * the version→ts map, which the consolidated checkpoint
    * ([[writeCheckpointIfDue]]) serves for everything at or below its
    * coverage — only the ≤ [[CheckpointInterval]] manifests past the
    * newest checkpoint are parsed, plus one for the chosen version. */
  private[sources] def resolve(spark: SparkSession, root: String,
      version: Option[Long], asOfTimestamp: Option[Long],
      tag: Option[String] = None): Snapshot = {
    require(Seq(version, asOfTimestamp, tag).count(_.isDefined) <= 1,
      "pass version OR asOfTimestamp OR tag, not a combination")
    val (fsys, rootP) = fs(spark, root)
    val listed = listManifests(fsys, rootP, None)
    require(listed.versions.nonEmpty, s"no snapshot table at $root")
    def parseV(v: Long, p: Path) = parseManifest(fsys, p, v)
    (version.orElse(tag.map(tagVersion(spark, root, _))), asOfTimestamp) match {
      case (Some(v), _) =>
        listed.versions.find(_._1 == v).map((parseV _).tupled)
          .getOrElse(sys.error(
            s"version $v not found at $root " +
              s"(have ${listed.versionNumbers.mkString(",")})"))
      case (_, Some(t)) =>
        val byTs = versionTimestamps(fsys, listed)
        byTs.filter(_._2 <= t).lastOption match {
          case Some((v, _)) =>
            parseV(v, listed.versions.find(_._1 == v).get._2)
          case None => sys.error(
            s"no snapshot at or before timestamp $t at $root " +
              s"(first commit ts=${byTs.headOption.fold(0L)(_._2)})")
        }
      case _ => (parseV _).tupled(listed.versions.last)
    }
  }

  /** Strip Spark's column-DEFAULT metadata keys from a read schema:
    * defaults are a WRITE-side (analyzer INSERT-fill) feature here — if
    * `EXISTS_DEFAULT` reached the delegated parquet readers they would
    * back-fill files that physically lack a column with the default
    * instead of the add-column null contract, silently changing
    * existing rows. The scan plane applies this to every schema it
    * hands the parquet layer. */
  private[sources] def stripDefaultMeta(st: StructType): StructType =
    if (!st.fields.exists(f => f.metadata.contains("CURRENT_DEFAULT") ||
        f.metadata.contains("EXISTS_DEFAULT"))) st
    else StructType(st.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT")
      f.copy(metadata = mb.build())
    })

  /** Pushed predicates over `snap`'s PHYSICAL column names (column
    * mapping: files store physical names) — the filters all three scan
    * planes hand the delegated parquet layer. Filters on the
    * row-identity columns stay residual: files never store them. */
  private[sources] def physFilters(snap: Snapshot,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val onFiles =
      es.filterNot(_.references.exists(a => IdentityCols(a.name)))
    if (snap.colMap.isEmpty) onFiles
    else onFiles.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if snap.colMap.contains(a.name) =>
        a.withName(snap.colMap(a.name))
    })
  }

  /** The logical schema `st` in PHYSICAL names ([[Snapshot.physicalSchema]])
    * with the snapshot's existence defaults attached ([[readSchemaMeta]]):
    * the read schema every snapshot scan (batch, stream, change feed)
    * hands the delegated parquet layer. */
  private[sources] def readSchemaMetaPhys(snap: Snapshot,
      st: StructType): StructType =
    readSchemaMeta(snap.physicalSchema(st), snap.existsDefaults.map {
      case (c, d) => snap.physicalOf(c) -> d })

  /** Planner statistics of a connector scan reading `dirs` of `snap`:
    * the sum of their manifest-recorded bytes and rows when every dir
    * records them, else unknown (pre-statistics history) and Spark falls
    * back to its defaults — never a guess. Upper bounds under residual
    * filters and merge-on-read deltas, as Spark expects pre-filter scan
    * statistics. */
  private[sources] def dirStatistics(snap: Snapshot, dirs: Seq[String])
      : org.apache.spark.sql.connector.read.Statistics = {
    def total(m: Map[String, Long]): java.util.OptionalLong =
      if (dirs.forall(m.contains)) java.util.OptionalLong.of(dirs.map(m).sum)
      else java.util.OptionalLong.empty()
    val (bytes, rows) = (total(snap.dirBytes), total(snap.dirRows))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** Attach the MANIFEST's frozen existence defaults ([[addColumns]],
    * logical names) to a read schema as `EXISTS_DEFAULT` field
    * metadata, after stripping whatever the catalog session attached
    * (write-side CURRENT_DEFAULTs must never fill at read; the
    * manifest's own map is the time-travel-correct one). The parquet
    * plane fills a column from this metadata ONLY for files whose
    * footer physically lacks it — explicit nulls in newer files read
    * verbatim. */
  private[sources] def readSchemaMeta(st: StructType,
      exists: Map[String, String]): StructType = {
    val clean = stripDefaultMeta(st)
    if (exists.isEmpty) clean
    else StructType(clean.fields.map { f =>
      exists.get(f.name).fold(f) { d =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString("EXISTS_DEFAULT", d).build())
      }
    })
  }

  /** All listed main version NUMBERS, ascending — one dir listing,
    * zero manifest parses (the streaming start-anchor validation). */
  private[sources] def listedVersions(spark: SparkSession,
      root: String): Seq[Long] = {
    val (fsys, rootP) = fs(spark, root)
    listManifests(fsys, rootP, None).versionNumbers
  }

  /** Earliest main version committed at or after `ts` (epoch millis) —
    * the streaming `startingTimestamp` resolution (the inverse of
    * [[resolve]]'s as-of lookup, sharing its checkpoint-assisted
    * version→ts map: only the ≤ interval manifests past the newest
    * checkpoint are parsed). `None` = every commit predates `ts`. */
  private[sources] def firstVersionAtOrAfter(spark: SparkSession,
      root: String, ts: Long): Option[Long] = {
    val (fsys, rootP) = fs(spark, root)
    val listed = listManifests(fsys, rootP, None)
    require(listed.versions.nonEmpty, s"no snapshot table at $root")
    versionTimestamps(fsys, listed).find(_._2 >= ts).map(_._1)
  }

  /** (version, commit ts) for every LISTED main version, ascending —
    * checkpoint-covered versions answer from the checkpoint body;
    * only the gap past it (≤ interval) parses manifests. Listed-but-
    * uncovered versions always fall back to their own manifest, so a
    * missing/stale/raced checkpoint only costs parses, never truth. */
  private def versionTimestamps(fsys: FileSystem,
      listed: ManifestListing): Seq[(Long, Long)] = {
    val ck = newestCheckpoint(fsys, listed)
    listed.versions.map { case (v, p) =>
      v -> ck.flatMap(_.vers.get(v).map(_._1))
        .getOrElse(parseManifest(fsys, p, v).ts)
    }
  }

  // ---- named refs (tags) ----

  /** Tag `version` (default: current) with an immutable name — the
    * Iceberg tag shape: a release label readers resolve with
    * `read(tag = …)` / the connector's `tagAsOf` / SQL
    * `VERSION AS OF '<name>'`, and that [[vacuum]] treats as KEPT — a
    * tagged version's manifest and data dirs survive history expiry
    * until the tag is dropped. One hidden `_refs/<name>.txt` file,
    * created atomically (`create(overwrite = false)`), so a duplicate
    * name is refused instead of silently repointed — repointing is an
    * explicit [[dropTag]] + [[createTag]]. Returns the tagged version. */
  def createTag(spark: SparkSession, root: String, name: String,
      version: Option[Long] = None): Long = {
    require(TagName.matches(name),
      s"tag name '$name' must match ${TagName.regex}")
    val (fsys, rootP) = fs(spark, root)
    // existence adjudicates by NAME: zero manifest parses to tag
    val listed = listManifests(fsys, rootP, None).versionNumbers
    require(listed.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(listed.last)
    require(listed.contains(v),
      s"cannot tag version $v at $root: not in the catalog " +
        s"(have ${listed.mkString(",")})")
    val p = tagPath(rootP, name)
    // adjudicated like every protocol publish ([[CommitStore]]); the
    // uuid line keeps same-version bodies distinct across racers
    if (fsys.exists(p))
      sys.error(s"tag '$name' already exists at $root " +
        s"(points at version ${tagVersion(spark, root, name)}); " +
        "dropTag first to repoint")
    try storeFor(fsys).writeNoOverwrite(p,
      s"version=$v\nuuid=${newUuid()}\n".getBytes("UTF-8"))
    catch {
      case e: ConcurrentCommitException =>
        sys.error(s"tag '$name' already exists at $root or lost the " +
          s"create race (${e.getMessage}); dropTag first to repoint")
    }
    v
  }

  /** Drop a tag; its version becomes vacuum-expirable again. Returns the
    * version it pointed at. */
  def dropTag(spark: SparkSession, root: String, name: String): Long = {
    val (fsys, rootP) = fs(spark, root)
    val v = tagVersion(spark, root, name)
    fsys.delete(tagPath(rootP, name), false)
    v
  }

  /** All tags, name-sorted. O(tags) driver metadata. */
  def tags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val (fsys, rootP) = fs(spark, root)
    val dir = refsDir(rootP)
    if (!fsys.exists(dir)) return Seq.empty
    fsys.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(".txt")) None
      else {
        val name = n.dropRight(4)
        if (!TagName.matches(name)) None // strays/tmp are invisible
        else Some(name -> parseTagFile(fsys, st.getPath))
      }
    }.sortBy(_._1)
  }

  private def parseTagFile(fsys: FileSystem, p: Path): Long = {
    val text = readText(fsys, p)
    text.split("\n").collectFirst {
      case l if l.startsWith("version=") => l.drop("version=".length).toLong
    }.getOrElse(sys.error(s"malformed tag file $p: $text"))
  }

  private def tagVersion(spark: SparkSession, root: String,
      name: String): Long = {
    val (fsys, rootP) = fs(spark, root)
    val p = tagPath(rootP, name)
    if (!fsys.exists(p))
      sys.error(s"no tag '$name' at $root " +
        s"(have ${tags(spark, root).map(_._1).mkString(",")})")
    parseTagFile(fsys, p)
  }

  // ---- named refs (branches) — write-audit-publish ----
  //
  // The Iceberg branch/WAP shape: a branch is a PRIVATE commit line
  // forked from a main version. Branch commits publish under
  // `_manifests/b.<name>.v<N>.txt` — self-contained manifests the main
  // listing's anchored regex never matches, so nothing a branch writer
  // does is visible to main readers until [[fastForward]] re-publishes
  // the branch's manifests verbatim under main names. The audit flow:
  // create a branch, run the risky ingest against it, validate with
  // `read(branch = …)` (or the connector's `branch` option), then
  // fast-forward — one metadata rename per staged commit, zero data
  // bytes moved — or drop the branch and let vacuum reclaim its dirs.

  /** Fork branch `name` from `version` (default: current main head).
    * One atomic ref file; duplicate names are refused (drop first).
    * Returns the base version. */
  def createBranch(spark: SparkSession, root: String, name: String,
      version: Option[Long] = None): Long = {
    require(TagName.matches(name),
      s"branch name '$name' must match ${TagName.regex}")
    val (fsys, rootP) = fs(spark, root)
    val listed = listManifests(fsys, rootP, None).versionNumbers
    require(listed.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(listed.last)
    require(listed.contains(v),
      s"cannot branch from version $v at $root: not in the catalog " +
        s"(have ${listed.mkString(",")})")
    val p = branchRefPath(rootP, name)
    // Same adjudication as manifest publish ([[CommitStore]]), not a
    // bare create-if-absent: on stores without atomic O_EXCL create,
    // two racing createBranch calls could both "succeed" and silently
    // clobber each other's base pointer. The uuid line keeps same-base
    // bodies distinct so the byte-exact read-back names one winner.
    if (fsys.exists(p))
      sys.error(s"branch '$name' already exists at $root " +
        s"(base ${branchBase(spark, root, name)}); dropBranch first")
    try storeFor(fsys).writeNoOverwrite(p,
      s"base=$v\nuuid=${newUuid()}\n".getBytes("UTF-8"))
    catch {
      case e: ConcurrentCommitException =>
        sys.error(s"lost branch-create race for '$name' at $root " +
          s"(${e.getMessage}); dropBranch first if it now exists")
    }
    v
  }

  private def branchBase(spark: SparkSession, root: String,
      name: String): Long = {
    val (fsys, rootP) = fs(spark, root)
    val p = branchRefPath(rootP, name)
    if (!fsys.exists(p))
      sys.error(s"no branch '$name' at $root " +
        s"(have ${branchList(spark, root).map(_._1).mkString(",")})")
    val text = readText(fsys, p)
    text.split("\n").collectFirst {
      case l if l.startsWith("base=") => l.drop("base=".length).toLong
    }.getOrElse(sys.error(s"malformed branch ref $p: $text"))
  }

  /** All branches as (name, base version, head version), name-sorted;
    * head == base for a branch with no commits yet. */
  def branchList(spark: SparkSession, root: String): Seq[(String, Long, Long)] = {
    val (fsys, rootP) = fs(spark, root)
    val dir = branchesDir(rootP)
    if (!fsys.exists(dir)) return Seq.empty
    fsys.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(".txt")) None
      else {
        val name = n.dropRight(4)
        if (!TagName.matches(name)) None
        else {
          val base = branchBase(spark, root, name)
          // head by NAME from the branch line's listing — zero parses
          val head = listManifests(fsys, rootP, Some(name))
            .versionNumbers.lastOption.getOrElse(base)
          Some((name, base, head))
        }
      }
    }.sortBy(_._1)
  }

  /** Delete branch `name`: its ref and private manifests go; its data
    * dirs become unreferenced and the next [[vacuum]] reclaims them.
    * Returns the number of abandoned branch commits. */
  def dropBranch(spark: SparkSession, root: String, name: String): Int = {
    val (fsys, rootP) = fs(spark, root)
    val staged = versionsOn(spark, root, Some(name))
    branchBase(spark, root, name) // existence check, fails loudly
    staged.foreach(s =>
      fsys.delete(manifestPath(rootP, s.version, Some(name)), false))
    fsys.delete(branchRefPath(rootP, name), false)
    staged.size
  }

  /** PUBLISH a branch: re-publish each branch commit verbatim as the
    * next main versions, in order, then drop the branch ref. Strict
    * fast-forward (the Iceberg `fast_forward` procedure): the main head
    * must still BE the branch base — a main line that advanced while
    * the branch was being audited is a real conflict and fails before
    * anything is copied. Pure metadata: the branch's data dirs are
    * already in place and every copied manifest is self-contained, so
    * publishing a 100-commit audit run moves zero data bytes. Each copy
    * is the same atomic rename-adjudicated publish as a live commit; a
    * racing main writer makes the copy loop throw mid-way, leaving a
    * PREFIX of the branch published — every published prefix is a valid
    * table state, and the remaining branch manifests and ref are kept
    * so the SAME call can be re-run: a re-run recognizes main versions
    * beyond the base whose uuids match the staged chain in order (the
    * prefix it already published), skips them, and publishes the rest.
    * Main versions beyond the base that do NOT uuid-match the staged
    * chain are a genuine concurrent commit and fail before anything is
    * copied. Returns the new main head version. */
  def fastForward(spark: SparkSession, root: String, name: String): Long = {
    val (fsys, rootP) = fs(spark, root)
    val base = branchBase(spark, root, name)
    val staged = versionsOn(spark, root, Some(name))
    require(staged.nonEmpty,
      s"branch '$name' at $root has no commits to fast-forward")
    // parse only main manifests PAST the base (the contested window —
    // normally empty or a previously-published prefix of this branch)
    val mainBeyondBase = listManifests(fsys, rootP, None).versions
      .filter(_._1 > base)
      .map { case (v, p) => parseManifest(fsys, p, v) }
    // Re-run support: a prior fastForward that crashed or lost a race
    // mid-loop left main holding a prefix of this branch's commits.
    // Those manifests were published VERBATIM, so uuid equality (with
    // version alignment) identifies them exactly; re-staging instead
    // would duplicate the published prefix's rows for append commits.
    val published = mainBeyondBase.size <= staged.size &&
      mainBeyondBase.zip(staged).forall { case (m, s) =>
        m.version == s.version && m.uuid == s.uuid }
    if (!published)
      throw new ConcurrentCommitException(
        s"cannot fast-forward branch '$name' (base $base) onto main " +
          s"head ${mainBeyondBase.lastOption.fold(base)(_.version)} at " +
          s"$root — main advanced during the audit with commits not " +
          "from this branch; drop the branch and re-stage against the " +
          "new head (re-staging must NOT re-include any rows a partial " +
          "fast-forward already published)")
    staged.drop(mainBeyondBase.size)
      .foreach(s => publish(fsys, rootP, s, line = None))
    staged.foreach(s =>
      fsys.delete(manifestPath(rootP, s.version, Some(name)), false))
    fsys.delete(branchRefPath(rootP, name), false)
    staged.last.version
  }

  // ---- read side ----

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The (path, bytes) DATA files of `dirs`, each dir once: the
    * manifest-recorded list (`files=`, [[Snapshot.dirFiles]]) where the
    * writing commit left one, else one driver listing of the dir — a
    * malformed `files=` line, a manifest from before file lists, or a
    * name [[fileListSafe]] keeps out of a list. Every snapshot read
    * plans from this list: the V1 clean-bucket scan ([[parquetDirs]])
    * and every connector scan — batch, stream and change feed — through
    * [[planRole]], so a recorded dir costs zero filesystem listings. */
  private[graft] def filesOf(spark: SparkSession, dirs: Seq[String],
      files: Map[String, Seq[(String, Long)]]): Seq[(String, Long)] =
    dirs.distinct.flatMap { d =>
      files.getOrElse(d, {
        val (fsys, p) = fs(spark, d)
        dataFilesOf(fsys.listStatus(p).toSeq)
      }).map { case (n, len) => (d + "/" + n, len) }
    }

  /** Inner parquet ScanBuilders made so far, all by [[planRole]], the
    * one path every snapshot connector scan (batch, stream, change feed)
    * plans through. Each copies the session's Hadoop configuration, so
    * this is the planning cost a spec can count; read by specs, never by
    * the program. */
  private[graft] val scanBuilders = new java.util.concurrent.atomic.AtomicLong

  private def scanBuilderOver(listed: Seq[(String, Long)], schema: StructType)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    scanBuilders.incrementAndGet()
    org.apache.spark.sql.GraftFileListBridge.parquetScanBuilderFiles(
      SparkSession.active, listed, schema)
  }

  /** One reader role of a snapshot connector scan (clean or dirty base
    * files, delta rows, keyed or positional tombstones, a micro-batch's
    * dirs, a change-feed range's data or `_cdc` dirs), planned ONCE
    * over the union of the role's dirs: one file index, one parquet
    * ScanBuilder (`filters` pushed, `schema` pruned from `tableSchema`),
    * one split plan. Never one per bucket, dir or commit: each builder
    * copies the session's Hadoop configuration, which dominated planning
    * when every dir had its own. Empty `dirs` build nothing. */
  private[sources] def planRole(dirs: Seq[String],
      files: Map[String, Seq[(String, Long)]], tableSchema: StructType,
      schema: StructType,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : PlannedRole =
    if (dirs.isEmpty) PlannedRole.empty
    else {
      import org.apache.spark.sql.{GraftFileListBridge, GraftParquetBridge}
      val spark = SparkSession.active
      val perDir = dirs.distinct.map(d => d -> filesOf(spark, Seq(d), files))
      val listed = perDir.flatMap(_._2)
      val b = scanBuilderOver(listed, tableSchema)
      GraftParquetBridge.pushCatalystFilters(b, filters)
      GraftParquetBridge.pruneColumns(b, schema)
      val scan = b.build()
      val dirOf = GraftFileListBridge.plannedPaths(b)
        .zip(perDir.flatMap { case (d, fs) => fs.map(_ => d) }).toMap
      new PlannedRole(Some(scan), scan.toBatch.planInputPartitions().toSeq,
        dirOf, GraftParquetBridge.maxSplitBytes(spark, listed.map(_._2)))
    }

  /** A reader role's one plan ([[planRole]]): its planned partitions,
    * the same splits re-grouped per file and routed back to the dir
    * whose `files=` list (or listing) named the file, and the role's one
    * reader factory — built on first use, and only when the role planned
    * a partition (each factory broadcasts a Hadoop configuration). */
  private[sources] final class PlannedRole(
      scan: Option[org.apache.spark.sql.connector.read.Scan],
      val parts: Seq[org.apache.spark.sql.connector.read.InputPartition],
      dirOf: Map[String, String], maxSplitBytes: Long) {
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

    /** Every planned split re-grouped per file, in plan order: one
      * FilePartition per (planned partition, file), with its file's path. */
    lazy val splits: Seq[(String, InputPartition)] =
      org.apache.spark.sql.GraftParquetBridge
        .splitPartitionsByFile(parts.toArray)

    private lazy val byDir: Map[String, Seq[(String, InputPartition)]] =
      splits.groupBy { case (f, _) => dirOf.getOrElse(f,
        sys.error(s"planned split of $f routes to no dir of the role")) }

    /** `dir`'s [[splits]]. */
    def splitsOf(dir: String): Seq[(String, InputPartition)] =
      byDir.getOrElse(dir, Nil)

    /** `dirs`' splits packed into FilePartitions as Spark packs one
      * scan's, so a small bucket stays one task. */
    def packed(dirs: Seq[String]): Seq[InputPartition] =
      org.apache.spark.sql.GraftParquetBridge.packFilePartitions(
        SparkSession.active, dirs.distinct.flatMap(splitsOf).map(_._2),
        maxSplitBytes)

    lazy val factory: PartitionReaderFactory = scan match {
      case Some(s) if parts.nonEmpty => s.toBatch.createReaderFactory()
      case _ => NoPartitionsReaderFactory
    }
  }

  private[sources] object PlannedRole {
    val empty = new PlannedRole(None, Nil, Map.empty, 0L)
  }

  /** The reader factory of a role that planned no partition: Spark may
    * ask a scan for its factory, but no reader is ever made from it. */
  private[sources] object NoPartitionsReaderFactory
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    override def createReader(
        p: org.apache.spark.sql.connector.read.InputPartition) =
      sys.error(s"reader role planned no partitions, yet got $p")
  }

  /** Parquet scan of `dirs` under an explicit schema. */
  private def parquetDirs(spark: SparkSession, schema: StructType,
      dirs: Seq[String],
      files: Map[String, Seq[(String, Long)]]): DataFrame =
    org.apache.spark.sql.GraftFileListBridge.parquetDf(spark,
      filesOf(spark, dirs, files), schema)

  private def readEntries(spark: SparkSession, schemaDdl: String,
      colMap: Map[String, String], dirs: Seq[String],
      exists: Map[String, String] = Map.empty,
      files: Map[String, Seq[(String, Long)]] = Map.empty): DataFrame = {
    val logical = StructType.fromDDL(schemaDdl)
    if (dirs.isEmpty) emptyDf(spark, logical)
    // explicit schema: bucket dirs carry no _gb column (it lives in the
    // dir name) and an explicit schema also pins empty-commit reads.
    // Files store PHYSICAL column names (column mapping): read physical,
    // relabel to the logical view — positional, zero copy. Existence
    // defaults ride as EXISTS_DEFAULT field metadata ([[readSchemaMeta]])
    // so pre-add files fill per footer truth.
    else if (colMap.isEmpty)
      parquetDirs(spark, readSchemaMeta(logical, exists), dirs, files)
    else {
      val phys = StructType(logical.fields.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name))))
      val physExists = exists.map { case (c, d) =>
        colMap.getOrElse(c, c) -> d }
      parquetDirs(spark, readSchemaMeta(phys, physExists), dirs, files)
        .toDF(logical.fieldNames.toIndexedSeq: _*)
    }
  }

  private val PosSuffixRe = java.util.regex.Pattern.compile(
    "(c\\d+-[^/]+/.*)$")

  /** Stable file identity for positional tombstones — the one a
    * tombstone records for the file at `path` and the scans stamp
    * `_sdv_file` with: the path suffix from the commit-dir segment on,
    * so scheme qualification (`file:///` vs bare) can never split the
    * identity of one physical file. */
  private[sources] def suffixOf(path: String): String = {
    val m = PosSuffixRe.matcher(path)
    require(m.find(), s"cannot derive a commit-relative suffix from $path")
    m.group(1)
  }

  /** Positional tombstone columns: `(file suffix, row index)`. Writers
    * store this pair (a keyed table's deleteWhere layer adds the key
    * columns for routing); readers project just the pair. */
  private[sources] val posTombSchema: StructType = new StructType()
    .add(PosFileCol, org.apache.spark.sql.types.StringType)
    .add(PosPosCol, org.apache.spark.sql.types.LongType)

  /** `snap` through the snapshot connector, as SQL readers see it: one
    * `DataSourceV2Relation` over a [[SnapshotV2Table]] pinned to `snap`.
    * [[SnapshotScanBuilder]] routes a snapshot with key-event deltas to
    * [[SnapshotMorScan]] and one with only positional deltas (or a read
    * of the row-identity columns) to [[SnapshotPosScan]], so every
    * merge-on-read replay runs partition-locally in those readers. */
  private def connectorRead(spark: SparkSession, snap: Snapshot): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new SnapshotV2Table("", snap), None, None))

  /** Resolved content of a snapshot WITH the row-identity columns the
    * connector scans synthesize ([[SnapshotPosScan]], or
    * [[SnapshotMorScan]] under key events) — what [[deleteWhere]]
    * matches new tombstones against, so re-deleting an already-deleted
    * position is impossible by construction. */
  private def resolvedReadWithPos(spark: SparkSession,
      snap: Snapshot): DataFrame =
    connectorRead(spark, snap).select((StructType.fromDDL(snap.schemaDdl)
      .fieldNames :+ PosFileCol :+ PosPosCol).map(col).toIndexedSeq: _*)

  /** Resolution-aware read of a snapshot restricted to `buckets` (None =
    * whole table) under the schema `ddl` (the snapshot's own, or a
    * commit schema that adds columns to it, which read as null).
    *
    * Buckets WITHOUT deltas of any kind stream straight through a
    * parquet scan of their dirs with zero added work. Buckets holding
    * any delta (`rows`, `tomb` or `pos`) — with every entry that covers
    * one of them, historical layouts included — are read through the
    * connector ([[connectorRead]]) over the snapshot narrowed to just
    * those entries and deltas, so their replay is the one the SQL
    * readers run: per bucket, inside the partition, never a shuffle or
    * a join ([[SnapshotMorScan]] for key events, [[SnapshotPosScan]] for
    * positions). A row from commit `s` survives iff no delta event of
    * its key is newer than `s` and no positional tombstone names it: a
    * tombstone kills every older copy of its key and nothing newer, a
    * replacement row shadows the blind-append copies before it and
    * coexists with those after it — exactly what the merge-on-write
    * spelling of the same commits would have produced.
    *
    * Clean buckets stay on the plain file scan because the connector
    * runs one keyed partition per bucket: on a compacted 40k-row,
    * 16-bucket table that is 16 tasks where the file scan packs 4, and
    * even with the connector planning once per query
    * ([[planRole]]) its read costs about 1.4× the file
    * scan's (0.12 s against 0.09 s). Compaction ([[compact]]) returns
    * every bucket to the clean path. */
  private def resolvedRead(spark: SparkSession, snap: Snapshot,
      buckets: Option[Set[Int]], ddl: String): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    // selection is in CURRENT-layout bucket space; entries written
    // under a historical layout (post-rescale, before migration) are
    // selected when they can HOLD a selected bucket's keys, and their
    // surplus rows (old-bucket siblings outside the selection) are
    // filtered out exactly, so resolvedRead(S) returns precisely the
    // rows whose current bucket is in S at any layout mix
    val selected = buckets.fold(snap.entries)(s =>
      snap.entries.filter(e => snap.entryHit(e, s)))
    val exactFilter: Option[org.apache.spark.sql.Column] = buckets
      .filter(_ => snap.keys.nonEmpty && snap.mixedLayout)
      .map(s => bucketOf(snap.keys, snap.buckets).isin(s.toSeq: _*))
    val dirty = snap.deltas.iterator.map(_.bucket)
      .filter(b => buckets.forall(_.contains(b))).toSet
    // an old-layout entry is dirty when ANY current bucket it covers
    // carries deltas: its rows go through that bucket's replay
    val (dirtyEntries, clean) = selected.partition(e => snap.entryHit(e, dirty))
    val cleanFrames = clean.groupBy(e => snap.layoutOf(e._2)).toSeq
      .sortBy(_._1).map { case (l, ge) =>
        val df = readEntries(spark, ddl, snap.colMap, ge.map(_._2),
          snap.existsDefaults, snap.dirFiles)
        if (l == snap.buckets) df else exactFilter.fold(df)(df.filter)
      }
    val dirtyFrame = Option.when(dirty.nonEmpty) {
      val narrowed = snap.copy(entries = dirtyEntries,
        deltas = snap.deltas.filter(d => dirty(d.bucket)))
      val own = StructType.fromDDL(snap.schemaDdl).fieldNames.toSet
      val df = connectorRead(spark, narrowed).select(schema.fields.map(f =>
        if (own(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      if (narrowed.mixedLayout) exactFilter.fold(df)(df.filter) else df
    }
    (cleanFrames ++ dirtyFrame).reduceOption(_.unionByName(_))
      .getOrElse(emptyDf(spark, schema))
  }

  /** Test seam: [[resolvedRead]] of an explicit snapshot value (lets a
    * spec strip `dirFiles` to prove the per-dir listing reads the same
    * rows the list-driven path serves). */
  private[graft] def readSnapshotForTest(spark: SparkSession,
      snap: Snapshot): DataFrame =
    resolvedRead(spark, snap, None, snap.schemaDdl)

  /** Test seam: [[symmetricDiff]] (the exceptAll-pair replacement). */
  private[graft] def symmetricDiffForTest(newSide: DataFrame,
      oldSide: DataFrame): DataFrame = symmetricDiff(newSide, oldSide)

  /** Read the table at `version`, at the newest commit whose wall-clock
    * is ≤ `asOfTimestamp`, or latest (neither). The file list is
    * resolved once from one immutable manifest — concurrent commits are
    * invisible to this scan (snapshot isolation). Merge-on-read deltas
    * resolve transparently ([[resolvedRead]]); a delta-free snapshot
    * reads its files straight through. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None,
      asOfTimestamp: Option[Long] = None,
      tag: Option[String] = None,
      branch: Option[String] = None): DataFrame = {
    require(branch.isEmpty ||
      Seq(version, asOfTimestamp, tag).forall(_.isEmpty),
      "a branch read resolves the branch HEAD: no version/timestamp/tag")
    val snap = branch.fold(resolve(spark, root, version, asOfTimestamp,
      tag))(_ => currentOn(spark, root, branch))
    resolvedRead(spark, snap, None, snap.schemaDdl)
  }

  /** Keyed lookup that reads ONLY the buckets the probe keys hash into —
    * the read-side mirror of [[upsert]]'s merge-on-write pruning. Rows
    * of the resolved snapshot whose key tuple appears in `keysDf`
    * (extra columns ignored, duplicates collapsed); absent keys simply
    * match nothing. Cost: O(buckets) driver metadata + a scan of the hit
    * buckets' files + one semi-join against the (small) probe side —
    * a point lookup on a B-bucket table reads ~1/B of the table.
    *
    * `keysDf` is materialized (`mat`, default localCheckpoint) before
    * the hit-bucket set is derived so the pruning set and the semi-join
    * see identical rows even for nondeterministic probes. */
  def readForKeys(keysDf: DataFrame, root: String,
      version: Option[Long] = None,
      asOfTimestamp: Option[Long] = None,
      mat: Materialize = Materialize.Local,
      tag: Option[String] = None,
      branch: Option[String] = None): DataFrame = {
    val spark = keysDf.sparkSession
    require(branch.isEmpty ||
      Seq(version, asOfTimestamp, tag).forall(_.isEmpty),
      "a branch lookup resolves the branch HEAD: no version/timestamp/tag")
    val snap = branch.fold(resolve(spark, root, version, asOfTimestamp,
      tag))(_ => currentOn(spark, root, branch))
    require(snap.keys.nonEmpty,
      s"table at $root was created without keys; readForKeys undefined")
    snap.keys.foreach(k => require(keysDf.columns.contains(k),
      s"key column $k missing from ${keysDf.columns.mkString(",")}"))
    val keyCols = snap.keys.map(col)
    val probe = mat(keysDf.select(keyCols: _*).distinct()
      .withColumn(BucketCol, bucketOf(snap.keys, snap.buckets)))
    val hit = probe.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet // O(buckets) driver list
    // per-dir key BLOOM pruning for bounded probes: a dir whose filter
    // rejects every probe hash provably holds none of the keys (blooms
    // have no false negatives), so an ABSENT-key lookup reads zero data
    // bytes; dirs without a filter always read. Deltas are never
    // bloom-dropped (their events stay; the semi-join below keeps the
    // output exact regardless).
    val hashes = probe.drop(BucketCol)
      .select(xxhash64(keyCols: _*)).distinct()
      .limit(BloomProbeMax + 1).collect().map(_.getLong(0)).toSeq
    val snapB =
      if (hashes.size > BloomProbeMax) snap
      else {
        val (fsys, _) = fs(spark, root)
        snap.copy(entries = snap.entries.filter(e =>
          !snap.entryHit(e, hit) || bloomMayContain(fsys, e._2, hashes)))
      }
    resolvedRead(spark, snapB, Some(hit), snap.schemaDdl)
      .join(probe.drop(BucketCol), snap.keys, "left_semi")
  }

  /** Two-directional multiset diff in ONE aggregation — the
    * `new.exceptAll(old) ∪ old.exceptAll(new)` pair spelled as
    * union+group (guide §2.4: the pair computes each input subtree
    * TWICE and pays four shuffled subplans; this computes each side
    * once and pays a single shuffle): per distinct row, the signed
    * count n(new) − n(old) is positive for rows to emit as `insert`
    * (that many times) and negative for `delete` — exactly the
    * exceptAll multiset semantics, including null-safe grouping. */
  private def symmetricDiff(newSide: DataFrame,
      oldSide: DataFrame): DataFrame = {
    val cols = newSide.columns.toSeq
    val sign = "_graft_diff_sign"
    val rep = "_graft_diff_rep"
    newSide.withColumn(sign, lit(1L))
      .unionByName(oldSide.withColumn(sign, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(sign)).as(sign))
      .filter(col(sign) =!= 0L)
      .withColumn(ChangeTypeCol,
        when(col(sign) > 0L, "insert").otherwise("delete"))
      .withColumn(rep, explode(sequence(lit(1L), abs(col(sign)))))
      .drop(sign, rep)
  }

  /** Change feed between two published versions, from manifest deltas:
    * every row inserted or deleted in `(fromVersion, toVersion]`, tagged
    * `_change_type` (`insert` | `delete`; an update surfaces as
    * delete(old row) + insert(new row)) and `_commit_version`. Rows are
    * read ONLY from the dirs each commit actually changed:
    *   - `append` commits scan just their new dirs (pure inserts, zero
    *     old data read);
    *   - `upsert`/`delete`/`compact` commits diff only the buckets whose
    *     dir list changed — old vs new content of the hit buckets;
    *   - `create`/`overwrite` commits are whole-table diffs by nature.
    * The diff is multiset-exact (`exceptAll`), so append-only tables
    * with repeated rows report honest counts. Feeds straight into the
    * [[graft.ops.Cdc]] apply side. Schema drift across the range is
    * handled by reading every commit under ITS OWN manifest schema and
    * unioning by name (missing columns backfill null). */
  def readChanges(spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val (fsys, rootP) = fs(spark, root)
    val listed = listManifests(fsys, rootP, None)
    require(listed.versions.nonEmpty, s"no snapshot table at $root")
    val names = listed.versionNumbers.toSet
    require(names.contains(fromVersion),
      s"fromVersion $fromVersion not found at $root")
    require(names.contains(toVersion),
      s"toVersion $toVersion not found at $root")
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    // parse only the requested window, not the whole history
    val byV = listed.versions
      .filter { case (v, _) => v >= fromVersion && v <= toVersion }
      .map { case (v, p) => v -> parseManifest(fsys, p, v) }.toMap
    val steps = (fromVersion until toVersion).map(v => (byV(v), byV(v + 1)))
    val parts = steps.flatMap { case (prev, next) =>
      def dirsOf(s: Snapshot) = s.entries.map(_._2)
      def tag(df: DataFrame, typ: String) = df
        .withColumn(ChangeTypeCol, lit(typ))
        .withColumn(CommitVersionCol, lit(next.version))
      // diff under the NEXT schema: the old side gains any added
      // columns as null, matching what a reader of `next` sees. Columns
      // RENAMED between the versions relabel through their stable
      // physical names first (one atomic select, so even swap-renames
      // land) — a rename must diff the SAME column, not null-pad a
      // "new" one.
      val cols = StructType.fromDDL(next.schemaDdl).fieldNames.toSeq
      def alignOld(d0: DataFrame) = {
        val relabeled =
          if (prev.colMap.isEmpty && next.colMap.isEmpty) d0
          else d0.select(d0.columns.map { c =>
            val ph = prev.physicalOf(c)
            col(c).as(next.logicalOf.getOrElse(ph, ph))
          }.toIndexedSeq: _*)
        cols.foldLeft(relabeled)((d, c) =>
          if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
          .select(cols.map(col): _*)
      }
      next.op match {
        case "upsert" | "delete" | "delete-pos" if next.cdc.isDefined =>
          // commit-time change file (changeFeed tables): the recorded
          // rows are diff-exact by construction, so this is the same
          // answer as the bucket-diff branch below at zero diff cost
          val logical = StructType.fromDDL(next.schemaDdl)
          val schema = next.physicalSchema(next.schemaDdl)
            .add(ChangeTypeCol, org.apache.spark.sql.types.StringType)
          Some(parquetDirs(spark, schema, Seq(next.cdc.get),
              next.dirFiles)
            .toDF((logical.fieldNames :+ ChangeTypeCol).toIndexedSeq: _*)
            .withColumn(CommitVersionCol, lit(next.version)))
        case "append" =>
          // fresh base dirs are pure inserts — and under merge-on-read
          // replay they are always CURRENT (their commit seq exceeds
          // every retained delta event), so this holds on delta-bearing
          // tables too
          val fresh = dirsOf(next).diff(dirsOf(prev))
          if (fresh.isEmpty) None
          else Some(tag(
            readEntries(spark, next.schemaDdl, next.colMap, fresh,
              next.existsDefaults, next.dirFiles),
            "insert"))
        case "upsert-mor" | "delete-mor" =>
          // the commit wrote ONLY delta dirs: changed keys = the fresh
          // deltas' keys, old rows = the PRIOR snapshot resolved over
          // just those deltas' buckets — bucket-pruned like the
          // merge-on-write branch below
          val fresh = next.deltas.diff(prev.deltas)
          if (fresh.isEmpty) None
          else {
            val schema = StructType.fromDDL(next.schemaDdl)
            val keySchema = StructType(
              schema.fields.filter(f => next.keys.contains(f.name)))
            val keyCols = next.keys.map(col)
            val rowDirs = fresh.filter(_.kind == "rows").map(_.dir)
            val tombDirs = fresh.filter(_.kind == "tomb").map(_.dir)
            val newRows =
              if (rowDirs.isEmpty) emptyDf(spark, schema)
              else readEntries(spark, next.schemaDdl, next.colMap, rowDirs,
                next.existsDefaults, next.dirFiles)
            val tombKeys =
              if (tombDirs.isEmpty) emptyDf(spark, keySchema)
              else parquetDirs(spark, keySchema, tombDirs, next.dirFiles)
            val changedKeys = newRows.select(keyCols: _*)
              .unionByName(tombKeys).distinct()
            val hitB = fresh.map(_.bucket).toSet
            val oldSide = alignOld(
              resolvedRead(spark, prev, Some(hitB), prev.schemaDdl))
              .join(changedKeys, next.keys, "left_semi")
            val newSide = newRows.select(cols.map(col): _*)
            Some(symmetricDiff(newSide, oldSide)
              .withColumn(CommitVersionCol, lit(next.version)))
          }
        case _ =>
          // bucket-granular diff in CURRENT-layout bucket space: only
          // buckets whose holding dirs OR delta list changed, each side
          // read RESOLVED so merge-on-write commits that consume deltas
          // (and compactions that fold them away) diff by semantic
          // content — a pure resolution is a no-op, and so is a
          // metadata-only rescale (identical holders everywhere). An
          // old-layout dir "holds" every current bucket it covers, so a
          // migrating commit diffs exactly the buckets whose holder set
          // moved. When the two sides disagree on the layout itself
          // (restore across a rescale) the bucket spaces aren't
          // comparable — fall back to a whole-table diff.
          def holders(s: Snapshot): Map[Int, (Seq[String], Seq[DeltaEntry])] = {
            val ent = scala.collection.mutable.Map
              .empty[Int, List[String]].withDefaultValue(Nil)
            s.entries.foreach(e =>
              s.coveredBuckets(e).foreach(b => ent(b) ::= e._2))
            val del = s.deltas.groupBy(_.bucket)
            (ent.keySet ++ del.keySet).map(b => b -> (
              (ent(b): Seq[String]).sorted,
              del.getOrElse(b, Nil).sortBy(d => (d.seq, d.dir)))).toMap
          }
          val changed: Option[Set[Int]] =
            if (prev.buckets != next.buckets) None // whole-table diff
            else {
              val ob = holders(prev); val nb = holders(next)
              Some((ob.keySet ++ nb.keySet)
                .filter(b => ob.get(b) != nb.get(b)))
            }
          // identical dir + delta lists = zero content change at any
          // layout: pure-metadata commits (rescale) cost nothing here
          if (prev.entries == next.entries && prev.deltas == next.deltas)
            None
          else if (changed.exists(_.isEmpty)) None
          else {
            val oldAligned = alignOld(
              resolvedRead(spark, prev, changed, prev.schemaDdl))
            val newSide =
              resolvedRead(spark, next, changed, next.schemaDdl)
                .select(cols.map(col): _*)
            Some(symmetricDiff(newSide, oldAligned)
              .withColumn(CommitVersionCol, lit(next.version)))
          }
      }
    }
    if (parts.isEmpty) {
      val schema = StructType.fromDDL(byV(toVersion).schemaDdl)
        .add(ChangeTypeCol, "string").add(CommitVersionCol, "long")
      emptyDf(spark, schema)
    } else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---- write side ----

  private def bucketOf(keys: Seq[String], buckets: Int) =
    if (keys.isEmpty) lit(0) // keyless: single bucket, append/overwrite only
    else pmod(hash(keys.map(col): _*), lit(buckets))

  /** Close a CURRENT-layout hit set over historical-layout entries: any
    * old dir holding a hit bucket's keys pulls ALL the current buckets
    * it covers into the set, to a fixpoint across layouts. A merge that
    * reads the closure reads whole old dirs — so dropping their manifest
    * lines loses no rows — and every row it rewrites hashes back inside
    * the closure (the [[requireSubset]] invariant). This is how
    * merge-on-write ops MIGRATE old-layout buckets incrementally after
    * [[rescaleBuckets]]; on a uniform-layout table it is the identity. */
  private def hitClosure(snap: Snapshot, hit: Set[Int]): Set[Int] = {
    val oldDirs = snap.entries
      .map(e => (snap.layoutOf(e._2), e._1)).distinct
      .filter(_._1 != snap.buckets)
    if (oldDirs.isEmpty) return hit
    var s = hit
    var grew = true
    while (grew) {
      grew = false
      oldDirs.foreach { case (l, b) =>
        if (s.exists(_ % l == b)) {
          val kids = (b until snap.buckets by l).toSet
          if (!kids.subsetOf(s)) { s = s ++ kids; grew = true }
        }
      }
    }
    s
  }

  /** Driver-side twin of [[bucketOf]] for one literal key tuple — the
    * DSv2 connector's filter-pushdown pruning
    * ([[SnapshotDataSource]]) computes hit buckets from pushed key
    * equality predicates with exactly the executor hash (Murmur3 seed
    * 42, the `hash()` function's spelling). */
  private[sources] def bucketOfLiterals(values: Seq[Any],
      types: Seq[org.apache.spark.sql.types.DataType], buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(values.zip(types).map { case (v, t) =>
      Literal.create(v, t)
    }, 42).eval(null).asInstanceOf[Int]
    ((h % buckets) + buckets) % buckets
  }

  /** Write a commit's change rows (table columns + [[ChangeTypeCol]])
    * under `<commit dir>/_cdc` — hidden from the bucket-dir readers
    * (Spark's file listing skips underscore-prefixed children) but
    * directly addressable by the change feed, and renamed/swept along
    * with its commit dir by rebase and vacuum. Must run AFTER
    * [[writeCommitData]] created the commit dir. Returns the dir. */
  /** Hadoop-side write options for snapshot-internal parquet writes
    * (merged into the write job's Hadoop conf by
    * `newHadoopConfWithOptions`). Commit dirs are INVISIBLE until the
    * manifest publish names them, so FileOutputCommitter v2 (task
    * commits rename straight into the destination, in parallel, and
    * job commit is a no-op) is exactly as safe as v1's sequential
    * driver-side merge — a crashed job leaves orphan files in a dir no
    * manifest references, reclaimed by vacuum. Skipping the _SUCCESS
    * marker drops one FS create per commit; readers trust manifests,
    * never markers. Guide §5 (driver does no data work) / §6. The
    * [[LocalFs.JobConf]] entries let the write tasks create, mkdir and
    * commit-rename on a local root without forking `chmod`. */
  private val commitWriteOptions = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false") ++
    LocalFs.JobConf

  private def writeChangeData(changes: DataFrame, root: Path,
      version: Long, uuid: String,
      colMap: Map[String, String] = Map.empty): String = {
    val dir = new Path(
      new Path(new Path(root, "data"), s"c$version-$uuid"), "_cdc")
    val phys = if (colMap.isEmpty) changes
      else changes.select(changes.columns.map(c =>
        col(c).as(colMap.getOrElse(c, c))).toIndexedSeq: _*)
    phys.write.options(commitWriteOptions).parquet(dir.toString)
    dir.toString
  }

  /** Write `df`'s rows bucket-partitioned under a fresh commit dir;
    * returns the commit's entries (bucket → dir for the buckets that
    * actually received rows), their file lists and sizes from one
    * post-write walk, and the stats, row counts and (with `bloom`) key
    * blooms the write tasks collected over `statsCols`. */
  private def writeCommitData(df: DataFrame, root: Path, version: Long,
      keys: Seq[String], buckets: Int, uuid: String,
      fsys: FileSystem, colMap: Map[String, String] = Map.empty,
      partSpec: Seq[PartField] = Seq.empty,
      statsCols: Seq[String] = Seq.empty, bloom: Boolean = false)
      : CommitFiles = {
    val commitDir = new Path(new Path(root, "data"), s"c$version-$uuid")
    // files land under PHYSICAL column names (one atomic select so even
    // swap-renames relabel correctly); keys are never renameable, so the
    // bucket hash below always sees its columns
    val phys = if (colMap.isEmpty) df
      else df.select(df.columns.map(c =>
        col(c).as(colMap.getOrElse(c, c))).toIndexedSeq: _*)
    // partition value dirs nest UNDER the bucket dir: `_gb=b/_pt0=v/…`
    // — one manifest entry per leaf, so every per-entry surface (stats,
    // blooms, rows/bytes, layout tags, CDF dir diffs) works unchanged
    // at partition granularity. The _pt columns are DERIVED (the source
    // column stays in the files), so reads never reconstruct values
    // from dir names.
    val schema = phys.schema
    val act = activeSpec(partSpec)
    val ptNames = act.map(f => s"$PartPrefix${f.idx}")
    val withPt = act.foldLeft(
        phys.withColumn(BucketCol, bucketOf(keys, buckets))) {
      case (d, f) =>
        d.withColumn(s"$PartPrefix${f.idx}",
          partValueCol(f, schema(f.col).dataType))
    }
    writeCommitDir(withPt.repartition((col(BucketCol) +: ptNames.map(col)): _*),
      BucketCol +: ptNames, commitDir, buckets, fsys, statsCols,
      if (bloom) keys else Seq.empty)
  }

  /** Write a frame that carries its dir columns (`partCols`, bucket
    * first) under `commitDir` — the write tasks fold every row into its
    * leaf dir's [[SnapshotWriteStats]] accumulator — then walk the
    * result once for entries and file lists. */
  private def writeCommitDir(frame: DataFrame, partCols: Seq[String],
      commitDir: Path, buckets: Int, fsys: FileSystem,
      statsCols: Seq[String], bloomKeys: Seq[String]): CommitFiles = {
    val spec = new SnapshotWriteStats.Spec(
      StructType(frame.schema.filterNot(f => partCols.contains(f.name))),
      statsCols, bloomKeys)
    val tracker = new SnapshotWriteStats.Tracker(spec)
    org.apache.spark.sql.GraftParquetWriteBridge.writeParquet(frame,
      commitDir.toString, partCols, commitWriteOptions, Seq(tracker))
    val walked = enumerateCommit(fsys, commitDir, buckets)
    val written = walked.entries.flatMap { case (_, d) =>
      tracker.dirs.get(SnapshotWriteStats.leafKey(d)).map(d -> _)
    }.toMap
    val (st, rw) = commitStats(fsys, spec, written, walked.entries)
    walked.copy(stats = st, rows = rw)
  }

  /** A freshly-written commit dir's layout from ONE recursive walk:
    * entries (bucket → leaf data dir, name-sorted for deterministic
    * manifests), per-dir DATA file lists and byte totals (the file
    * lists also ride into the manifest as `files=` lines, so READS
    * never list at all, guide §6), plus the dirs' column stats and row
    * counts when the write tasks collected them. */
  private final case class CommitFiles(entries: Seq[(Int, String)],
      files: Map[String, Seq[(String, Long)]], bytes: Map[String, Long],
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      rows: Map[String, Long] = Map.empty)

  private object CommitFiles {
    val empty: CommitFiles = CommitFiles(Seq.empty, Map.empty, Map.empty)

    /** From each dir's listed DATA files: the byte total is recorded
      * for EVERY dir; the `files=` list only when all its names are
      * [[fileListSafe]] — an exotic name costs that dir one listing per
      * scan ([[filesOf]]) but keeps its planner statistic. */
    def of(entries: Seq[(Int, String)],
        listed: Seq[(String, Seq[(String, Long)])]): CommitFiles =
      CommitFiles(entries,
        listed.filter(_._2.forall(f => fileListSafe(f._1))).toMap,
        listed.map { case (d, fs) => d -> fs.iterator.map(_._2).sum }.toMap)
  }

  /** A file name a manifest `files=` line can carry verbatim. Parquet
    * part names always qualify; an exotic name only costs its dir one
    * listing per scan ([[filesOf]]). There is deliberately no escaping:
    * published manifests already carry the names this check admits
    * verbatim, and a `%` codec would misread those containing `%`. */
  private def fileListSafe(n: String): Boolean =
    !(n.contains(',') || n.contains(':') || n.contains('\t') ||
      n.contains('\n'))

  /** (entries, `files=` lists, `bytes=` totals) the commit walk and the
    * per-dir listing record for an already-written commit dir. */
  private[graft] def recordedFilesForTest(spark: SparkSession,
      commitDir: String, buckets: Int)
      : Seq[(Seq[(Int, String)], Map[String, Seq[(String, Long)]], Map[String, Long])] = {
    val (fsys, dir) = fs(spark, commitDir)
    val walked = enumerateCommit(fsys, dir, buckets)
    val listed = dirFileLists(fsys, walked.entries)
    Seq(walked, listed).map(c => (c.entries, c.files, c.bytes))
  }

  /** Every leaf dir of a written commit dir, per bucket. Leaves are
    * spelled `commitDir` + listed child names (never the qualified path
    * a listing returns), so bucket and partition leaves share the
    * root's spelling. */
  private def enumerateCommit(fsys: FileSystem, commitDir: Path,
      buckets: Int): CommitFiles = {
    val listed = Seq.newBuilder[(String, Seq[(String, Long)])]
    def leaves(d: Path): Seq[Path] = {
      val st = fsys.listStatus(d).toSeq
      val subs = st.filter(_.isDirectory)
      if (subs.isEmpty) {
        listed += d.toString -> dataFilesOf(st)
        Seq(d)
      } else subs.map(_.getPath.getName).sorted
        .flatMap(n => leaves(new Path(d, n)))
    }
    val entries = (0 until buckets).flatMap { b =>
      val d = new Path(commitDir, s"$BucketCol=$b")
      if (fsys.exists(d)) leaves(d).map(b -> _.toString) else Seq.empty
    }
    CommitFiles.of(entries, listed.result())
  }

  /** Serialize the publish critical section on filesystems whose rename
    * clobbers (POSIX local): an O_EXCL lock file makes exists-check +
    * rename + read-back mutually excluded. On no-overwrite-rename stores
    * the rename itself adjudicates and this is skipped. A crashed
    * holder's stale lock is broken after [[LockStaleMs]]; waiters
    * re-check the target manifest first, so a published version always
    * loses fast without touching the lock. */
  private val LockStaleMs = 60000L
  private val LockWaitMs = 30000L

  private def isLocalFs(rootP: Path): Boolean = {
    val scheme = rootP.toUri.getScheme
    scheme == null || scheme == "file"
  }

  private def withLocalPublishLock[T](fsys: FileSystem, dir: Path,
      lockName: String, targetExists: => Boolean)(body: => T): T = {
    val lockPath = new Path(dir, s".lock-$lockName")
    val local = java.nio.file.Paths.get(
      fsys.makeQualified(lockPath).toUri.getPath)
    val deadline = System.nanoTime() + LockWaitMs * 1000000L
    var held = false
    while (!held) {
      if (targetExists) // fast-lose: no lock needed to observe a publish
        throw new ConcurrentCommitException(
          s"$lockName already published (lost race before lock)")
      try {
        java.nio.file.Files.createFile(local) // O_EXCL: atomic on POSIX
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = try
            System.currentTimeMillis() -
              java.nio.file.Files.getLastModifiedTime(local).toMillis
          catch { case _: java.io.IOException => 0L } // vanished: retry
          if (age > LockStaleMs) {
            // crashed holder: break the stale lock and retry the create
            try java.nio.file.Files.deleteIfExists(local)
            catch { case _: java.io.IOException => () }
          } else if (System.nanoTime() > deadline)
            throw new ConcurrentCommitException(
              s"gave up waiting for publish lock $local after " +
                s"${LockWaitMs}ms (concurrent committer live or stale)")
          else Thread.sleep(5)
      }
    }
    try body
    finally {
      try java.nio.file.Files.deleteIfExists(local)
      catch { case _: java.io.IOException => () }
      ()
    }
  }

  /** Commit-store seam — the narrow storage contract every protocol
    * publish point (manifest, branch ref, tag ref) reduces to, the
    * Delta LogStore split: atomically publish a small metadata file at
    * `target`, REFUSING an existing target, such that exactly one of N
    * concurrent writers of one target succeeds and every loser throws
    * [[ConcurrentCommitException]]. The protocol code above this trait
    * performs no rename/create of its own, so swapping the store swaps
    * the whole durability story. [[HadoopCommitStore]] is the shipped
    * instance (HDFS-class atomic no-overwrite rename; POSIX local
    * serialized by the O_EXCL lock file); an S3-class object store
    * needs a coordination-service implementation of THIS trait — the
    * same split Delta ships as LogStore. `commitStoreOverride` is the
    * test seam SnapshotConcurrencySpec uses to inject FAULTY stores
    * (fail after write, spurious loss) and prove the protocol
    * surfaces them loudly instead of tearing the table. */
  private[graft] trait CommitStore {
    /** Publish `body` at `target`; throw [[ConcurrentCommitException]]
      * if `target` exists or another writer wins the race. */
    def writeNoOverwrite(target: Path, body: Array[Byte]): Unit
  }

  @volatile private[graft] var commitStoreOverride: Option[CommitStore] = None

  private def storeFor(fsys: FileSystem): CommitStore =
    commitStoreOverride.getOrElse(new HadoopCommitStore(fsys))

  /** The filesystem [[CommitStore]]: tmp write + rename + byte-exact
    * read-back, serialized by the O_EXCL lock on clobbering local
    * renames (see the commit-protocol scaladoc at the top of this
    * file). */
  private[graft] final class HadoopCommitStore(fsys: FileSystem)
      extends CommitStore {
    override def writeNoOverwrite(target: Path, body: Array[Byte]): Unit = {
      val dir = target.getParent
      fsys.mkdirs(dir)
      def targetExists = fsys.exists(target)
      if (targetExists)
        throw new ConcurrentCommitException(s"$target already published")
      val tmp = new Path(dir, s".tmp-${target.getName}-${newUuid()}")
      val out = fsys.create(tmp, false)
      try out.write(body) finally out.close()
      def renameAndAdjudicate(): Unit = {
        if (targetExists) { // re-check inside the critical section
          fsys.delete(tmp, false)
          throw new ConcurrentCommitException(
            s"$target already published (lost race)")
        }
        // Atomic publish. On HDFS-like stores rename-to-existing fails
        // and the loser lands here; on clobbering local rename the lock
        // serializes this section and the read-back double-checks.
        if (!fsys.rename(tmp, target)) {
          fsys.delete(tmp, false)
          throw new ConcurrentCommitException(
            s"lost publish race for $target")
        }
        val in = fsys.open(target)
        val read = try in.readAllBytes() finally in.close()
        if (!java.util.Arrays.equals(read, body))
          throw new ConcurrentCommitException(
            s"lost publish race for $target (another writer's file was " +
              "published)")
      }
      try {
        if (isLocalFs(target))
          withLocalPublishLock(fsys, dir, target.getName, targetExists) {
            renameAndAdjudicate()
          }
        else renameAndAdjudicate()
      } catch {
        case e: ConcurrentCommitException =>
          fsys.delete(tmp, false) // idempotent: already gone on most paths
          throw e
      }
    }
  }

  private def publish(fsys: FileSystem, root: Path, snap: Snapshot,
      line: Option[String] = None): Unit = {
    val target = manifestPath(root, snap.version, line)
    try storeFor(fsys).writeNoOverwrite(target,
      SnapshotManifest.encode(snap, root.toString).getBytes("UTF-8"))
    catch {
      case e: ConcurrentCommitException =>
        throw new ConcurrentCommitException(
          s"version ${snap.version} at $root: ${e.getMessage}")
    }
    // the commit IS published at this point; the checkpoint is a
    // best-effort cache on top (main line only — branch chains are
    // short-lived audit runs)
    if (line.isEmpty) writeCheckpointIfDue(fsys, root, snap)
  }

  private def newUuid() = java.util.UUID.randomUUID().toString.take(12)

  /** Test seam: drive [[publish]] directly (the only way to exercise the
    * same-version race deterministically — through the public API every
    * published manifest is immediately visible, so a second writer
    * recomputes a later version instead of colliding). */
  private[graft] def publishManifest(spark: SparkSession, root: String,
      snap: Snapshot): Unit = {
    val (fsys, rootP) = fs(spark, root)
    publish(fsys, rootP, snap)
  }

  private def stamped(snap: Snapshot): Snapshot =
    snap.copy(ts = System.currentTimeMillis())

  // ---- optimistic-concurrency retry (multi-writer rebase) ----
  //
  // The Delta commit-loop shape (Armbrust VLDB'20 §3.2): a writer that
  // loses the version race does NOT redo its data writes — the staged
  // files are good — it re-derives the manifest against the new head and
  // re-publishes, IF the concurrent commits cannot have invalidated what
  // it wrote. The safety rule is per write shape:
  //   - blind APPEND has no read-dependency: it rebases over anything
  //     (the Delta WriteSerializable append rule);
  //   - merge-on-write UPSERT/DELETE read the hit buckets at `base`:
  //     they rebase iff every hit bucket's entry+delta lists are
  //     BYTE-IDENTICAL between base and the new head — any winner that
  //     wrote those buckets (append into them, upsert, delete, compact,
  //     overwrite, restore — all of which change the dir lists) is a
  //     real read-write conflict and fails;
  //   - merge-on-read UPSERT/DELETE write an EVENT layer: rebasing just
  //     re-stamps the events with the new commit version — "my upsert
  //     serialized after the winner", a correct order for concurrent
  //     keyed writers.
  // Schema across the rebase follows the add-column rule: the winner's
  // evolved columns and mine union (common columns must agree on type);
  // either side's files simply lack the other's additions and the
  // explicit-schema read backfills null. Staged commit dirs are RENAMED
  // to the new version (`c<v>-uuid` → `c<v'>-uuid`, one O(1) dir
  // rename) so vacuum's exact in-flight guard — "only dirs versioned ≤
  // the newest kept manifest are sweepable" — keeps protecting them
  // while the writer retries. A `txn`-stamped commit that discovers its
  // (appId, version) already landed (another replica won with the SAME
  // batch) returns that head instead of double-committing.

  /** A prepared commit's own contribution, independent of the base
    * manifest it lands on — the unit the retry loop rebases. */
  private final case class Pending(opKind: String, myDdl: String,
      uuid: String, stagedVersion: Long,
      entries: Seq[(Int, String)],
      stats: Map[String, Map[String, ColStats]],
      rows: Map[String, Long], bytes: Map[String, Long],
      hit: Option[Set[Int]], txn: Option[(String, Long)],
      cdc: Option[String] = None,
      /** per-dir data file lists of this commit's fresh dirs (staged
        * entries + cdc), keyed by dir like `bytes`. */
      files: Map[String, Seq[(String, Long)]] = Map.empty,
      /** bucket layout the staged dirs were written under (the base
        * head's `buckets`); a rebase onto a rescaled head keeps appends
        * (tagging their dirs with this historical layout) and refuses
        * everything bucket-id-dependent. */
      layoutBuckets: Int = 0)

  /** Table schema for a rebased commit: the head's columns plus my
    * additions (add-column evolution from both sides); a common column
    * whose types disagree is a real conflict. */
  private def mergedDdl(headDdl: String, myDdl: String): String = {
    if (headDdl == myDdl) return headDdl
    val head = StructType.fromDDL(headDdl)
    val mine = StructType.fromDDL(myDdl)
    val headTypes = head.fields.map(f => f.name -> f.dataType).toMap
    mine.fields.foreach(f => headTypes.get(f.name).foreach(t =>
      if (t != f.dataType) throw new ConcurrentCommitException(
        s"rebase schema conflict on column '${f.name}': " +
          s"${f.dataType.simpleString} vs ${t.simpleString}")))
    val extra = mine.fields.filterNot(f => headTypes.contains(f.name))
      .map(f => org.apache.spark.sql.types.StructField(
        f.name, f.dataType, nullable = true))
    StructType(head.fields ++ extra).toDDL
  }

  /** Rename the staged commit dir to the version about to be published
    * (no-op when already there), rewriting every staged path in the
    * pending metadata. */
  private def restagedTo(fsys: FileSystem, rootP: Path, p: Pending,
      v: Long): Pending = {
    if (p.stagedVersion == v) return p
    val from = new Path(new Path(rootP, "data"), s"c${p.stagedVersion}-${p.uuid}")
    val to = new Path(new Path(rootP, "data"), s"c$v-${p.uuid}")
    if (fsys.exists(from)) {
      if (!fsys.rename(from, to))
        throw new ConcurrentCommitException(
          s"could not restage $from as $to (swept by a concurrent " +
            "vacuum?); retry the operation")
    } else require(p.entries.isEmpty,
      s"staged commit dir $from vanished with ${p.entries.size} entries")
    val fromPfx = from.toString + "/"
    def mv(d: String): String = {
      require(d.startsWith(fromPfx), s"staged dir $d is not under $fromPfx")
      to.toString + "/" + d.drop(fromPfx.length)
    }
    p.copy(stagedVersion = v,
      entries = p.entries.map { case (b, d) => (b, mv(d)) },
      stats = p.stats.map { case (d, s) => (mv(d), s) },
      rows = p.rows.map { case (d, n) => (mv(d), n) },
      bytes = p.bytes.map { case (d, n) => (mv(d), n) },
      files = p.files.map { case (d, fs) => (mv(d), fs) },
      cdc = p.cdc.map(mv))
  }

  /** The rebased manifest for `p` on head `cur` at version `v` — with
    * `cur == base` this is exactly the non-contended commit. */
  private def rebasedSnapshot(cur: Snapshot, v: Long, p: Pending): Snapshot = {
    val ddl = mergedDdl(cur.schemaDdl, p.myDdl)
    p.opKind match {
      case "append" =>
        // appended onto a rescaled head: the staged dirs keep their
        // historical layout tag (commitRebasing already verified it
        // divides the head's)
        val myLayout =
          if (p.layoutBuckets == cur.buckets) Map.empty[String, Int]
          else p.entries.map(e => e._2 -> p.layoutBuckets).toMap
        Snapshot(v, "append", cur.keys, cur.buckets, ddl,
        p.uuid, cur.entries ++ p.entries,
        statsCols = cur.statsCols,
        dirStats = cur.dirStats ++ p.stats, dirRows = cur.dirRows ++ p.rows,
        dirBytes = cur.dirBytes ++ p.bytes, txn = p.txn,
        dirFiles = cur.dirFiles ++ p.files,
        deltas = cur.deltas, changeFeed = cur.changeFeed, cdc = p.cdc,
        dirLayout = cur.dirLayout ++ myLayout,
        colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props)
      case "upsert" | "delete" =>
        val h = p.hit.get
        Snapshot(v, p.opKind, cur.keys, cur.buckets, ddl, p.uuid,
          cur.entries.filterNot(e => cur.entryHit(e, h)) ++ p.entries,
          statsCols = cur.statsCols,
          dirStats = cur.dirStats ++ p.stats, dirRows = cur.dirRows ++ p.rows,
          dirBytes = cur.dirBytes ++ p.bytes, txn = p.txn,
          dirFiles = cur.dirFiles ++ p.files,
          deltas = cur.deltas.filterNot(d => h(d.bucket)),
          changeFeed = cur.changeFeed, cdc = p.cdc,
          dirLayout = cur.dirLayout,
          colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props)
      case "upsert-mor" | "delete-mor" | "delete-pos" =>
        val kind = p.opKind match {
          case "upsert-mor" => "rows"
          case "delete-mor" => "tomb"
          case _ => "pos"
        }
        Snapshot(v, p.opKind, cur.keys, cur.buckets, ddl, p.uuid,
          cur.entries,
          statsCols = cur.statsCols,
          dirStats = cur.dirStats ++ p.stats, dirRows = cur.dirRows ++ p.rows,
          dirBytes = cur.dirBytes ++ p.bytes, txn = p.txn,
          dirFiles = cur.dirFiles ++ p.files,
          deltas = cur.deltas ++
            p.entries.map { case (b, d) => DeltaEntry(b, v, kind, d) },
          changeFeed = cur.changeFeed, cdc = p.cdc,
          dirLayout = cur.dirLayout,
          colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props)
      case other => sys.error(s"rebasing undefined for op $other")
    }
  }

  /** Publish `p` on top of `base`, rebasing onto newer heads up to
    * `retries` times when the version race is lost and the concurrent
    * commits are provably compatible (see the retry-loop notes above).
    * Returns the committed version — or, for a txn-stamped commit whose
    * (appId, version) a concurrent replica already landed, the head
    * version WITHOUT committing (exactly-once across racing writers). */
  private def commitRebasing(spark: SparkSession, root: String,
      fsys: FileSystem, rootP: Path, base: Snapshot, pending: Pending,
      retries: Int, line: Option[String] = None): Long = {
    require(retries >= 0, s"retries must be >= 0: $retries")
    var cur = base
    var p = pending
    var attempts = 0
    while (true) {
      val v = cur.version + 1
      p = restagedTo(fsys, rootP, p, v)
      try {
        publish(fsys, rootP, stamped(rebasedSnapshot(cur, v, p)), line)
        return v
      } catch {
        case e: ConcurrentCommitException =>
          if (attempts >= retries) throw e
          attempts += 1
          val cur2 = currentOn(spark, root, line)
          // no forward progress (lock starvation, not a newer head):
          // retrying the identical publish would spin — surface the loss
          if (cur2.version <= cur.version) throw e
          val replayed = p.txn.exists { case (app, n) =>
            // parse only the contested window (base, cur2]
            listManifests(fsys, rootP, line).versions
              .filter { case (sv, _) =>
                sv > base.version && sv <= cur2.version }
              .flatMap { case (sv, sp) => parseManifest(fsys, sp, sv).txn }
              .exists { case (a, m) => a == app && m >= n }
          }
          if (replayed) return cur2.version // the batch already landed
          // a concurrent REPLACE swapped the table's WHOLE definition —
          // possibly at the same bucket count, with empty colMap and
          // constraints on both sides, so none of the structural checks
          // below would see it. A batch staged against the old
          // definition (rows bucketed by the OLD keys, the OLD schema's
          // columns) must never rebase onto the replaced table: scan
          // the contested window's ops explicitly
          val contested = listManifests(fsys, rootP, line).versions
            .filter { case (sv, _) =>
              sv > cur.version && sv <= cur2.version }
          if (contested.exists { case (sv, sp) =>
              parseManifest(fsys, sp, sv).op == "replace" })
            throw new ConcurrentCommitException(
              s"${p.opKind} raced a concurrent CREATE OR REPLACE at " +
                s"$root — the table's definition changed; retry the " +
                "whole operation against the replaced table")
          // a concurrent column RENAME/DROP changed the logical view:
          // my pending ddl speaks the OLD logical names, and merging it
          // against the new head would re-add renamed columns as ghosts
          if (cur2.colMap != cur.colMap ||
              cur2.droppedPhys != cur.droppedPhys)
            throw new ConcurrentCommitException(
              s"${p.opKind} raced a concurrent column rename/drop at " +
                s"$root — rebase unsafe, retry the whole operation")
          // a constraint added mid-flight was never probed against this
          // batch: publishing would sneak unvalidated rows in
          if (cur2.constraints != cur.constraints)
            throw new ConcurrentCommitException(
              s"${p.opKind} raced a concurrent constraint change at " +
                s"$root — rebase unsafe, retry the whole operation")
          // a concurrent RESCALE (or a restore across one) changed the
          // current bucket layout: a blind append survives if its staged
          // layout still divides the head's (its dirs rebase as
          // historical-layout entries); anything that derived bucket ids
          // from the old layout (hit sets, delta events) must fail
          if (cur2.buckets != p.layoutBuckets) {
            val appendSafe = p.opKind == "append" &&
              p.layoutBuckets > 0 && cur2.buckets % p.layoutBuckets == 0
            if (!appendSafe)
              throw new ConcurrentCommitException(
                s"${p.opKind} staged under bucket layout " +
                  s"${p.layoutBuckets} but a concurrent commit moved the " +
                  s"table to ${cur2.buckets} buckets — rebase unsafe, " +
                  "retry the whole operation")
          }
          p.hit.foreach { h =>
            def hitLists(s: Snapshot) =
              (s.entries.filter(e => s.entryHit(e, h)).sorted,
                s.deltas.filter(d => h(d.bucket))
                  .sortBy(d => (d.bucket, d.seq, d.dir)))
            if (hitLists(base) != hitLists(cur2))
              throw new ConcurrentCommitException(
                s"${p.opKind} merged buckets ${h.toSeq.sorted.mkString(",")} " +
                  s"at version ${base.version}, but commit(s) " +
                  s"${base.version + 1}..${cur2.version} rewrote some of " +
                  "them — rebase unsafe, retry the whole operation")
          }
          cur = cur2
      }
    }
    sys.error("unreachable")
  }

  // ---- group-replacement commit (SQL row-level operations) ----
  //
  // The copy-on-write half of Spark's group-based row-level operation
  // protocol (UPDATE / MERGE INTO): executors stream replacement rows
  // straight to parquet under an uncommitted staging dir (the connector's
  // DataWriters — [[graft.sources.SnapshotRowLevelOperation]]), and ONE
  // manifest publish swaps the scanned dirs for the staged ones. The
  // granularity is the manifest entry (bucket dir): whatever subset of
  // dirs the operation's scan was pruned to — statically by pushed
  // predicates, dynamically by Spark's runtime group filter — is exactly
  // the subset replaced, so `UPDATE … WHERE key = x` rewrites 1/buckets
  // of a 100 TB table and an unpruned MERGE degrades to a full rewrite,
  // never to corruption.

  /** Naming recipe the row-level DataWriters stage files under:
    * `data/c{v}-{uuid}/_gb={b}/part-{partition}-{uuid}.parquet` — the
    * same commit-dir/bucket-dir shape [[writeCommitData]] produces, so
    * vacuum/compact/stats treat replaced commits identically. */
  private[sources] def stagingCommitDir(spark: SparkSession, root: String,
      version: Long, uuid: String): String = {
    val (_, rootP) = fs(spark, root)
    new Path(new Path(rootP, "data"), s"c$version-$uuid").toString
  }

  private[sources] def bucketDirName(b: Int): String = s"$BucketCol=$b"

  private[sources] def freshUuid(): String = newUuid()

  /** Publish one group-replacement commit: `removedDirs`' entries leave
    * the manifest, `stagedDirs` (bucket → already-written dir) join it,
    * everything else carries forward untouched. Optimistic concurrency:
    * the base the scan pinned must still be current — a commit that
    * landed in between fails this cleanly (the staged dirs stay
    * invisible; abort sweeps them). */
  private[sources] def commitReplace(spark: SparkSession, root: String,
      base: Snapshot, removedDirs: Set[String],
      stagedDirs: Seq[(Int, String)], spec: SnapshotWriteStats.Spec,
      written: Map[String, SnapshotWriteStats.Dir], op: String,
      uuid: String): Long = {
    val (fsys, rootP) = fs(spark, root)
    val cur = current(spark, root)
    if (cur.version != base.version)
      throw new ConcurrentCommitException(
        s"row-level $op read version ${base.version} but " +
          s"${cur.version} is now current at $root; retry the statement")
    val v = base.version + 1
    val kept = base.entries.filterNot(e => removedDirs(e._2))
    // row-level SQL writes stream on executors past the driver-side
    // batch probe — validate the staged parquet before it becomes
    // visible (one O(replacement) scan, only on constrained tables)
    val stagedF = dirFileLists(fsys, stagedDirs)
    if (base.constraints.nonEmpty)
      requireConstraints(readEntries(spark, base.schemaDdl, base.colMap,
        stagedDirs.map(_._2), base.existsDefaults, stagedF.files), base, op)
    val (st, rw) = commitStats(fsys, spec, written, stagedDirs)
    publish(fsys, rootP, stamped(Snapshot(v, op, base.keys, base.buckets,
      base.schemaDdl, uuid, kept ++ stagedDirs,
      statsCols = base.statsCols,
      dirStats = (base.dirStats -- removedDirs) ++ st,
      dirRows = (base.dirRows -- removedDirs) ++ rw,
      dirBytes = (base.dirBytes -- removedDirs) ++ stagedF.bytes,
      // the operation scan refuses delta-bearing snapshots, so this is
      // empty in practice — carried through so a future reader of this
      // code can't silently drop a layer
      deltas = base.deltas,
      // no change file: the replacement write streams on executors and
      // never materializes the per-row diff — CDF streams fail loudly on
      // these commits, the batch change feed diffs them ([[readChanges]])
      changeFeed = base.changeFeed,
      // kept old-layout dirs keep their tags; staged dirs are
      // current-layout (absent = default)
      dirLayout = base.dirLayout,
      colMap = base.colMap, droppedPhys = base.droppedPhys,
      constraints = base.constraints, partSpec = base.partSpec,
      colDefaults = base.colDefaults,
      existsDefaults = base.existsDefaults, props = base.props,
      dirFiles = (base.dirFiles -- removedDirs) ++ stagedF.files)))
    v
  }

  /** Publish one delta-based row-level commit ([[graft.sources
    * .SnapshotDeltaRowLevelOperation]], the merge-on-read twin of
    * [[commitReplace]]): `dataDirs` (replacement/insert rows, already
    * staged bucket-partitioned) join the manifest as ordinary entries;
    * `posDirs` join as per-bucket positional tombstone deltas stamped
    * with this commit's version. O(matched) bytes total — no existing
    * entry leaves the manifest. Optimistic concurrency: positions pin
    * the scanned snapshot's files, so the base must still be current.
    * Zero staged dirs (a DML that matched nothing) commits nothing. */
  private[sources] def commitWriteDelta(spark: SparkSession, root: String,
      base: Snapshot, dataDirs: Seq[(Int, String)],
      posDirs: Seq[(Int, String)], dataSpec: SnapshotWriteStats.Spec,
      posSpec: SnapshotWriteStats.Spec,
      written: Map[String, SnapshotWriteStats.Dir], op: String,
      uuid: String): Long = {
    val (fsys, rootP) = fs(spark, root)
    val cur = current(spark, root)
    if (cur.version != base.version)
      throw new ConcurrentCommitException(
        s"row-level $op read version ${base.version} but " +
          s"${cur.version} is now current at $root; retry the statement")
    if (dataDirs.isEmpty && posDirs.isEmpty) return cur.version
    val v = base.version + 1
    val dataF = dirFileLists(fsys, dataDirs)
    if (base.constraints.nonEmpty && dataDirs.nonEmpty)
      requireConstraints(readEntries(spark, base.schemaDdl, base.colMap,
        dataDirs.map(_._2), base.existsDefaults, dataF.files), base, op)
    val posF = dirFileLists(fsys, posDirs)
    val (st, rw) = commitStats(fsys, dataSpec, written, dataDirs)
    val (pst, prw) = commitStats(fsys, posSpec, written, posDirs)
    publish(fsys, rootP, stamped(Snapshot(v, op, base.keys, base.buckets,
      base.schemaDdl, uuid, base.entries ++ dataDirs,
      statsCols = base.statsCols,
      dirStats = base.dirStats ++ st ++ pst,
      dirRows = base.dirRows ++ rw ++ prw,
      dirBytes = base.dirBytes ++ dataF.bytes ++ posF.bytes,
      deltas = base.deltas ++
        posDirs.map { case (b, d) => DeltaEntry(b, v, "pos", d) },
      changeFeed = base.changeFeed,
      dirLayout = base.dirLayout,
      colMap = base.colMap, droppedPhys = base.droppedPhys,
      constraints = base.constraints, partSpec = base.partSpec,
      colDefaults = base.colDefaults,
      existsDefaults = base.existsDefaults, props = base.props,
      dirFiles = base.dirFiles ++ dataF.files ++ posF.files)))
    v
  }

  /** Fields compared name+type (nullability intentionally ignored:
    * parquet round-trips relax it). */
  private def requireSchema(df: DataFrame, ddl: String): Unit = {
    def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    require(shape(df.schema) == shape(StructType.fromDDL(ddl)),
      s"batch schema ${df.schema.toDDL} does not match table schema $ddl")
  }

  /** Schema for the commit being built. Strict mode (`mergeSchema =
    * false`) demands an exact match. Merge mode is ADD-COLUMN evolution
    * (the Delta `mergeSchema` semantics): the batch must carry every
    * existing column at its existing type, extra batch columns append to
    * the table schema as nullable fields, and earlier data files simply
    * lack them — the explicit-schema read backfills null, so no old file
    * is ever rewritten and time travel keeps each version's own schema.
    * Dropping or retyping a column is refused either way (that rewrite
    * is [[overwrite]]'s job, on a fresh table). */
  private def commitSchema(df: DataFrame, cur: Snapshot,
      mergeSchema: Boolean): String =
    if (!mergeSchema) { requireSchema(df, cur.schemaDdl); cur.schemaDdl }
    else {
      val curS = StructType.fromDDL(cur.schemaDdl)
      val dfTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
      curS.fields.foreach(f => require(dfTypes.get(f.name).contains(f.dataType),
        s"schema merge requires every existing column unchanged; " +
          s"'${f.name}: ${f.dataType.simpleString}' is missing or retyped " +
          s"in ${df.schema.toDDL}"))
      val extra = df.schema.fields
        .filterNot(f => curS.fieldNames.contains(f.name))
        .map(f => org.apache.spark.sql.types.StructField(
          f.name, f.dataType, nullable = true))
      // physical-name reservations: a new column whose name equals a
      // renamed column's file name (or a dropped column's) would read
      // the OLD files' bytes as its own — refused, pick another name
      extra.foreach(f => require(
        !cur.colMap.valuesIterator.contains(f.name) &&
          !cur.droppedPhys.contains(f.name),
        s"column name '${f.name}' is reserved by column mapping (it is " +
          "the physical name of a renamed or dropped column); choose a " +
          "different name"))
      StructType(curS.fields ++ extra).toDDL
    }

  /** Project `df` into `ddl`'s column order (writes must align with the
    * manifest schema the readers will apply). */
  private def aligned(df: DataFrame, ddl: String): DataFrame =
    df.select(StructType.fromDDL(ddl).fieldNames.map(col).toIndexedSeq: _*)

  private def requireCols(df: DataFrame, keys: Seq[String]): Unit = {
    require(!df.columns.contains(BucketCol) &&
      !df.columns.contains(ZSliceCol) &&
      !df.columns.contains(PosFileCol) && !df.columns.contains(PosPosCol) &&
      !df.columns.exists(_.matches(s"$PartPrefix\\d+")),
      s"column names $BucketCol/$ZSliceCol/$PosFileCol/$PosPosCol/" +
        s"$PartPrefix<N> are reserved by SnapshotTable")
    keys.foreach(k => require(df.columns.contains(k),
      s"key column $k missing from ${df.columns.mkString(",")}"))
  }

  /** Create the table as version 1. `keys` + `buckets` are fixed for the
    * table's life (stored in every manifest); `keys` may be empty for an
    * append/overwrite-only table ([[upsert]] then refuses). */
  def create(df: DataFrame, root: String, keys: Seq[String],
      buckets: Int = 16, statsCols: Option[Seq[String]] = None,
      txn: Option[(String, Long)] = None,
      changeFeed: Boolean = false,
      partitionBy: Seq[String] = Seq.empty,
      colDefaults: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty): Long = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    requireProps(props)
    requireCols(df, keys)
    validateDefaults(df.sparkSession, df.schema, colDefaults)
    // identity/date partition transforms, fixed for the table's life
    // (like keys/buckets); source columns become rename/drop-protected
    val pSpec = parsePartSpec(partitionBy)
    requirePartSpec(pSpec, df.schema)
    // data-skipping columns, fixed for the table's life: explicit list,
    // or (default) every stats-eligible atomic column; Some(Nil) disables
    val sc = statsCols.getOrElse(
      df.schema.fields.filter(statsEligible).map(_.name).toSeq)
    sc.foreach(c => require(
      df.schema.fields.exists(f => f.name == c && statsEligible(f)),
      s"stats column $c missing or not stats-eligible in ${df.schema.toDDL}"))
    val (fsys, rootP) = fs(df.sparkSession, root)
    require(!exists(df.sparkSession, root),
      s"snapshot table already exists at $root")
    val uuid = newUuid()
    val ddl = df.schema.toDDL
    val cd = writeCommitData(df, rootP, 1L, keys, buckets, uuid, fsys,
      partSpec = pSpec, statsCols = sc, bloom = true)
    publish(fsys, rootP, stamped(Snapshot(1L, "create", keys, buckets,
      ddl, uuid, cd.entries,
      statsCols = sc,
      dirStats = cd.stats, dirRows = cd.rows, dirBytes = cd.bytes,
      txn = txn, changeFeed = changeFeed, partSpec = pSpec,
      colDefaults = colDefaults, props = props,
      dirFiles = cd.files)))
    1L
  }

  /** ATOMIC, HISTORY-PRESERVING `CREATE OR REPLACE TABLE` (the Delta
    * REPLACE semantics — Spark's non-staging fallback would DROP the
    * table first, destroying its history non-atomically): one commit
    * (`op = "replace"`) swaps content AND definition wholesale — new
    * schema, keys, bucket count, partition spec, stats columns,
    * defaults, constraints-reset — while every prior version stays
    * time-travelable under its own definition (self-contained
    * manifests make a mid-history definition change safe: nothing
    * about version N is derived from version N−1). New data dirs land
    * before the manifest publish, so a crash leaves the old head
    * intact (orphan dirs reclaimed by vacuum); a lost publish race
    * fails cleanly. Merge-on-read layers, column mapping, and dir
    * layouts reset with the definition (no old dirs are carried).
    * Tail streams refuse a replace commit (its dirs replace existing
    * rows) and the change feed directs to the batch diff — the same
    * contract as overwrite. On an absent table this IS create.
    * Returns the committed version. */
  def replaceTable(df: DataFrame, root: String, keys: Seq[String],
      buckets: Int = 16, statsCols: Option[Seq[String]] = None,
      changeFeed: Boolean = false,
      partitionBy: Seq[String] = Seq.empty,
      colDefaults: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val cur = headOption(spark, root).getOrElse(
      return create(df, root, keys, buckets, statsCols,
        changeFeed = changeFeed, partitionBy = partitionBy,
        colDefaults = colDefaults, props = props))
    require(buckets > 0, s"buckets must be positive, got $buckets")
    requireProps(props)
    requireCols(df, keys)
    validateDefaults(spark, df.schema, colDefaults)
    val pSpec = parsePartSpec(partitionBy)
    requirePartSpec(pSpec, df.schema)
    val sc = statsCols.getOrElse(
      df.schema.fields.filter(statsEligible).map(_.name).toSeq)
    sc.foreach(c => require(
      df.schema.fields.exists(f => f.name == c && statsEligible(f)),
      s"stats column $c missing or not stats-eligible in ${df.schema.toDDL}"))
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    val uuid = newUuid()
    val ddl = df.schema.toDDL
    val cd = writeCommitData(df, rootP, v, keys, buckets, uuid, fsys,
      partSpec = pSpec, statsCols = sc, bloom = true)
    publish(fsys, rootP, stamped(Snapshot(v, "replace", keys, buckets,
      ddl, uuid, cd.entries,
      statsCols = sc,
      dirStats = cd.stats, dirRows = cd.rows, dirBytes = cd.bytes,
      changeFeed = changeFeed, partSpec = pSpec,
      colDefaults = colDefaults, props = props,
      dirFiles = cd.files)))
    v
  }

  /** Validate write-default expressions: each column exists, each
    * expression is deterministic and CONSTANT-FOLDABLE (a default is a
    * value, not a per-row computation — Spark's own DEFAULT
    * restriction), and casts to the column's type. Evaluated once here
    * so an expression that would throw at insert time fails at
    * declaration instead. */
  private def validateDefaults(spark: SparkSession, schema: StructType,
      defaults: Map[String, String]): Unit = defaults.foreach {
    case (c, d) =>
      val f = schema.fields.find(_.name == c).getOrElse(sys.error(
        s"DEFAULT for unknown column '$c' (schema: ${schema.toDDL})"))
      validateDefault(spark, f, d)
      ()
  }

  /** Validate ONE default expression against its column and return the
    * evaluated constant (Catalyst internal value) — shared by write-side
    * declaration ([[validateDefaults]]) and the ADD-COLUMN existence
    * freeze ([[addColumns]]). */
  private def validateDefault(spark: SparkSession,
      f: org.apache.spark.sql.types.StructField,
      d: String): Any = {
    val c = f.name
    // line-safety: the expression text is serialized verbatim into
    // the line-oriented manifest ('coldefault=col\t<expr>'); a raw
    // newline/tab — legal inside a multi-line string literal — would
    // silently truncate the stored expression (same guard as
    // addConstraint)
    require(!d.contains('\n') && !d.contains('\t'),
      s"DEFAULT for column '$c' must be line-safe (no raw newline/" +
        s"tab in the expression text; use \\n escapes): $d")
    val analyzed =
      try emptyDf(spark, StructType(Nil))
        .select(org.apache.spark.sql.functions.expr(d)
          .cast(f.dataType).as("d"))
        .queryExecution.analyzed.expressions.head
      catch {
        case scala.util.control.NonFatal(ex) => sys.error(
          s"DEFAULT for column '$c' does not resolve as a constant " +
            s"of ${f.dataType.sql}: $d (${ex.getMessage})")
      }
    val child = analyzed match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
    require(child.deterministic && child.foldable,
      s"DEFAULT for column '$c' must be a constant-foldable " +
        s"expression, got: $d")
    try child.eval()
    catch {
      case scala.util.control.NonFatal(ex) => sys.error(
        s"DEFAULT for column '$c' fails to evaluate: $d " +
          s"(${ex.getMessage})")
    }
  }

  /** Set or clear a column's write-side DEFAULT (the Delta
    * `ALTER COLUMN … SET/DROP DEFAULT` shape): ONE pure-metadata
    * commit. From then on, SQL INSERTs that omit the column get the
    * default — filled at ANALYSIS time by Spark's own resolver from
    * the catalog schema's `CURRENT_DEFAULT` field metadata
    * ([[SnapshotCatalog]] advertises
    * `SUPPORT_COLUMN_DEFAULT_VALUE` and attaches the metadata), so the
    * write path sees a complete row and nothing changes below the
    * analyzer. Existing rows are untouched (write-side only — exactly
    * Delta's surface; back-filling old files belongs to
    * `ADD COLUMN … DEFAULT`, [[addColumns]], whose fill is frozen at
    * add time). Object-API
    * writers keep their explicit-schema contract (missing columns are
    * an error / mergeSchema null-backfill, documented divergence).
    * Time travel serves each version's own defaults. Returns the
    * committed version. */
  /** Recognized sticky table properties and their legal values; other
    * keys are carried opaquely (forward compatibility) but must be
    * line-safe for the line-oriented manifest. */
  private[sources] val RowLevelModeProp = "rowlevelmode"
  private def requireProps(props: Map[String, String]): Unit = {
    props.foreach { case (k, v) =>
      require(!k.contains('\n') && !k.contains('\t') &&
        !v.contains('\n') && !v.contains('\t') && k.nonEmpty,
        s"table property '$k' -> '$v' is not line-safe")
    }
    props.get(RowLevelModeProp).foreach(v => require(
      v == "copy-on-write" || v == "merge-on-read",
      s"$RowLevelModeProp must be copy-on-write or merge-on-read: $v"))
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES` — one pure-metadata commit
    * (`op = "set-prop"`); `None` removes the key. Properties are sticky:
    * every subsequent commit carries them forward. */
  def setTableProperty(spark: SparkSession, root: String, key: String,
      value: Option[String]): Long = {
    val cur = current(spark, root)
    val next = value.fold(cur.props - key)(v => cur.props + (key -> v))
    requireProps(next)
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(cur.copy(version = v,
      op = "set-prop", uuid = newUuid(), txn = None, cdc = None,
      props = next)))
    v
  }

  def setColumnDefault(spark: SparkSession, root: String, column: String,
      default: Option[String]): Long = {
    val cur = current(spark, root)
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(schema.fieldNames.contains(column),
      s"no column '$column' in ${cur.schemaDdl}")
    default match {
      case Some(d) => validateDefaults(spark, schema, Map(column -> d))
      case None => require(cur.colDefaults.contains(column),
        s"no DEFAULT on column '$column' at $root to drop")
    }
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(cur.copy(version = v,
      op = "set-default", uuid = newUuid(), txn = None, cdc = None,
      colDefaults = default.fold(cur.colDefaults - column)(d =>
        cur.colDefaults + (column -> d)))))
    v
  }

  /** `ALTER TABLE … ADD COLUMNS`, with optional per-column DEFAULTs —
    * ONE pure-metadata commit (`op = "add-column"`), zero data files
    * touched (the Delta add-column-with-default shape):
    *
    *   - every default becomes the WRITE-side default (future INSERTs
    *     that omit the column fill it at analysis, like
    *     [[setColumnDefault]]), and
    *   - its value is FROZEN at add time into an existence default
    *     (`existsDefaults`, serialized as literal SQL): files written
    *     BEFORE the column existed read the frozen value instead of
    *     null, filled by the parquet reader from per-file footer truth
    *     (`EXISTS_DEFAULT` field metadata — a file physically lacking
    *     the column fills; a file carrying it, even with explicit
    *     nulls, reads verbatim). Per-file presence makes the fill
    *     sound under clone (foreign dirs keep their own footers) and
    *     under compaction (rewrites materialize the fill physically).
    *     Freezing (evaluate-then-store, e.g. `current_date()` becomes
    *     the add-day literal) keeps every future read of old files
    *     deterministic — Delta's EXISTS_DEFAULT semantics.
    *
    * Filters stay sound: the pushed parquet predicate on a filled
    * column can't evaluate against a file lacking it, so Spark's
    * residual evaluation above the scan judges the filled value.
    * Columns without a default keep the NULL contract for old files
    * (and a LATER `SET DEFAULT` does not backfill — write-side only).
    * Time travel serves each version's own schema and fills. Returns
    * the committed version. */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[(org.apache.spark.sql.types.StructField, Option[String])])
      : Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val cur = current(spark, root)
    val schema = StructType.fromDDL(cur.schemaDdl)
    val reserved = (cur.colMap.values ++ cur.droppedPhys).toSet
    require(cols.map(_._1.name).distinct.size == cols.size,
      s"duplicate column names in ADD COLUMNS: ${cols.map(_._1.name)}")
    val frozen = cols.map { case (f0, d) =>
      val f = f0.copy(nullable = true) // absent in old files ⇒ nullable
      require(!schema.fieldNames.contains(f.name),
        s"ADD COLUMN '${f.name}': column already exists")
      require(!reserved.contains(f.name),
        s"ADD COLUMN '${f.name}': name is reserved by column mapping")
      val exists = d.map { expr =>
        val v = validateDefault(spark, f, expr)
        val l = org.apache.spark.sql.catalyst.expressions
          .Literal(v, f.dataType).sql
        // the frozen literal rides the line-oriented manifest too: a
        // string VALUE containing a newline would truncate it even
        // when the source expression spelled it with escapes
        require(!l.contains('\n') && !l.contains('\t'),
          s"ADD COLUMN '${f.name}' DEFAULT evaluates to a value whose " +
            s"literal is not line-safe: $l")
        l
      }
      (f, d, exists)
    }
    val newDdl = StructType(schema.fields ++ frozen.map(_._1)).toDDL
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(cur.copy(version = v,
      op = "add-column", uuid = newUuid(), txn = None, cdc = None,
      schemaDdl = newDdl,
      colDefaults = cur.colDefaults ++ frozen.collect {
        case (f, Some(d), _) => f.name -> d },
      existsDefaults = cur.existsDefaults ++ frozen.collect {
        case (f, _, Some(l)) => f.name -> l })))
    v
  }

  /** Blind append: O(batch) data writes, prior entries re-listed
    * verbatim. No key dedup — append the same key twice and both rows
    * surface (use [[upsert]] for keyed semantics). `mergeSchema = true`
    * allows add-column evolution (see [[commitSchema]]). `retries`
    * rebases over concurrent commits instead of failing — an append has
    * no read-dependency, so it rebases over anything
    * ([[commitRebasing]]). */
  def append(df: DataFrame, root: String,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      retries: Int = 0,
      branch: Option[String] = None): Long = {
    val spark = df.sparkSession
    val cur = currentOn(spark, root, branch)
    requireCols(df, cur.keys)
    requireConstraints(df, cur, "append")
    val ddl = commitSchema(df, cur, mergeSchema)
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    val uuid = newUuid()
    val cd = writeCommitData(aligned(df, ddl), rootP, v, cur.keys,
      cur.buckets, uuid, fsys, cur.colMap, cur.partSpec, cur.statsCols,
      bloom = true)
    commitRebasing(spark, root, fsys, rootP, cur,
      Pending("append", ddl, uuid, v, cd.entries, cd.stats, cd.rows,
        cd.bytes, hit = None, txn = txn, files = cd.files,
        layoutBuckets = cur.buckets), retries, branch)
  }

  /** Replace the table's content wholesale (config and history are
    * kept — prior versions stay readable). */
  def overwrite(df: DataFrame, root: String,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      branch: Option[String] = None): Long =
    overwriteAs(df, root, "overwrite", mergeSchema, txn, branch)

  /** [[overwrite]] published under an explicit op label — full
    * [[compact]] goes through here as `"compact"` so content-neutral
    * maintenance rewrites stay distinguishable from real overwrites
    * (the change feed skips the former and refuses the latter). */
  private def overwriteAs(df: DataFrame, root: String, op: String,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      branch: Option[String] = None): Long = {
    val spark = df.sparkSession
    val cur = currentOn(spark, root, branch)
    requireCols(df, cur.keys)
    // compact re-publishes content that already passed — no re-probe
    if (op == "overwrite") requireConstraints(df, cur, op)
    val ddl = commitSchema(df, cur, mergeSchema)
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    val uuid = newUuid()
    val cd = writeCommitData(aligned(df, ddl), rootP, v, cur.keys,
      cur.buckets, uuid, fsys, cur.colMap, cur.partSpec, cur.statsCols,
      bloom = true)
    publish(fsys, rootP, stamped(Snapshot(v, op, cur.keys,
      cur.buckets, ddl, uuid, cd.entries,
      statsCols = cur.statsCols,
      dirStats = cd.stats, dirRows = cd.rows, dirBytes = cd.bytes,
      txn = txn, changeFeed = cur.changeFeed,
      colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cd.files)), branch)
    v
  }

  /** The hit-bucket set of a MATERIALIZED batch plus the sanity net: the
    * write must later produce only buckets in this set (checked by
    * [[requireSubset]]). */
  private def hitBuckets(batch: DataFrame): Set[Int] =
    batch.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet // O(buckets) driver list, never data

  private def requireSubset(produced: Seq[(Int, String)], hit: Set[Int],
      what: String): Unit = {
    val escaped = produced.map(_._1).filterNot(hit)
    require(escaped.isEmpty,
      s"$what wrote rows into buckets $escaped outside the pruned hit set " +
        s"$hit — the batch re-executed nondeterministically despite " +
        "materialization; refusing to publish a torn commit")
  }

  /** Keyed last-write-wins merge: batch rows replace current rows with
    * the same key tuple; unmatched batch rows insert. Two write paths,
    * same read-side semantics:
    *
    *   - MERGE-ON-WRITE (default): confined to the buckets the batch's
    *     keys hash into — hit buckets' files are read (RESOLVED, so
    *     pending merge-on-read deltas in them are consumed by this
    *     commit), merged, rewritten; untouched buckets' manifest lines
    *     (and their deltas) carry forward unread.
    *   - MERGE-ON-READ (`mergeOnRead = true`): writes ONLY the batch as
    *     a delta layer — O(batch) data, zero existing bytes read — and
    *     defers the merge to readers ([[resolvedRead]]) until
    *     [[compact]] folds it in. The high-commit-rate shape: write
    *     amplification is 1 instead of bucketBytes/batchBytes, at the
    *     price of a per-bucket replay on every read until compaction.
    *
    * The batch is materialized once (`mat`) before any of the guard
    * probe / hit-set derivation / merge write run, so all three see
    * identical rows even for nondeterministic inputs. The batch must be
    * unique per key (a multi-valued key has no deterministic winner);
    * the one-pass guard can be skipped with `checkDuplicates = false` on
    * high-rate commit paths that already guarantee uniqueness
    * upstream. */
  def upsert(df: DataFrame, root: String,
      mergeSchema: Boolean = false,
      checkDuplicates: Boolean = true,
      mat: Materialize = Materialize.Local,
      txn: Option[(String, Long)] = None,
      mergeOnRead: Boolean = false,
      retries: Int = 0,
      branch: Option[String] = None): Long = {
    val spark = df.sparkSession
    val cur = currentOn(spark, root, branch)
    require(cur.keys.nonEmpty,
      s"table at $root was created without keys; upsert undefined")
    requireCols(df, cur.keys)
    val ddl = commitSchema(df, cur, mergeSchema)
    val (fsys, rootP) = fs(spark, root)
    val keyCols = cur.keys.map(col)
    val batch = mat(df.withColumn(BucketCol, bucketOf(cur.keys, cur.buckets)))
    requireConstraints(batch, cur, "upsert")
    // merge-on-write fuses the duplicate-key guard into the hit-bucket
    // aggregation below (guide §1.2/§5: one action instead of two over
    // the same materialized batch); merge-on-read never derives a hit
    // set, so it keeps the standalone 1-row guard probe.
    def dupExample(): Unit = {
      val dupKeys = batch.groupBy(keyCols: _*).count()
        .filter(col("count") > 1).limit(1).collect() // 1-row guard probe
      require(dupKeys.isEmpty, "upsert batch has duplicate key tuples " +
        s"(e.g. ${dupKeys.headOption.getOrElse("")}); last-write-wins " +
        "needs one row per key — pre-dedup the batch")
    }
    if (checkDuplicates && mergeOnRead) dupExample()
    val v = cur.version + 1
    val uuid = newUuid()
    if (mergeOnRead) {
      // no bloom sidecars for DELTA dirs: reads never bloom-prune them
      // (their events shadow older rows), so the 16 KB filter would be
      // pure write amplification on the O(batch) commit path
      val cd = writeCommitData(aligned(batch.drop(BucketCol), ddl),
        rootP, v, cur.keys, cur.buckets, uuid, fsys, cur.colMap,
        statsCols = cur.statsCols)
      // a merge-on-read commit is an EVENT layer with no read-dependency:
      // it rebases over any concurrent commit (re-stamped to the new
      // version — "applied after the winner")
      return commitRebasing(spark, root, fsys, rootP, cur,
        Pending("upsert-mor", ddl, uuid, v, cd.entries, cd.stats, cd.rows,
          cd.bytes, hit = None, txn = txn, files = cd.files,
          layoutBuckets = cur.buckets), retries, branch)
    }
    // ONE aggregation job serves the dup guard AND the hit-bucket set
    // (previously two collects): per-(bucket, key) counts roll up to a
    // per-bucket max, so the collect still moves O(buckets) rows and
    // duplicate detection rides along for free. The example-row probe
    // (a second tiny job) is paid only on the failure path.
    val bucketMax = batch
      .groupBy((col(BucketCol) +: keyCols): _*).agg(count(lit(1)).as("c"))
      .groupBy(col(BucketCol)).agg(max(col("c")).as("mx"))
      .collect()
    if (checkDuplicates && bucketMax.exists(_.getLong(1) > 1L)) {
      dupExample()
      require(requirement = false, "upsert batch has duplicate key tuples; " +
        "last-write-wins needs one row per key — pre-dedup the batch")
    }
    // closure over historical layouts: hit old dirs are read WHOLE and
    // their rows migrate into current-layout dirs with this commit
    val hit = hitClosure(cur, bucketMax.map(_.getInt(0)).toSet)
    // prior files read under the COMMIT schema (on an evolving upsert
    // the old files lack the new columns and backfill null) and
    // RESOLVED: pending deltas in the hit buckets merge in here and
    // their manifest lines drop out below — merge-on-write doubles as
    // incremental delta compaction
    val priorHit = resolvedRead(spark, cur, Some(hit), ddl)
    // anti-join on the key: batch wins; both sides already bucket-pruned
    val merged = priorHit
      .join(batch.select(keyCols: _*), cur.keys, "left_anti")
      .unionByName(aligned(batch.drop(BucketCol), ddl))
    val cd = writeCommitData(merged, rootP, v, cur.keys,
      cur.buckets, uuid, fsys, cur.colMap, cur.partSpec, cur.statsCols,
      bloom = true)
    requireSubset(cd.entries, hit, "upsert")
    // commit-time change file (the Delta CDF shape): diff-exact rows —
    // inserts = batch minus identical displaced rows, deletes = displaced
    // minus identical batch rows — so the recorded feed equals what the
    // bucket-diff spelling of readChanges computes. Costs one extra pass
    // over the hit buckets per commit; gated by the table's changeFeed.
    val cdcDir =
      if (!cur.changeFeed) None
      else {
        val displaced = priorHit
          .join(batch.select(keyCols: _*), cur.keys, "left_semi")
        val batchA = aligned(batch.drop(BucketCol), ddl)
        // one aggregation instead of an exceptAll pair (same rows)
        Some(writeChangeData(symmetricDiff(batchA, displaced),
          rootP, v, uuid, cur.colMap))
      }
    val cdcF = cdcFiles(fsys, cdcDir)
    commitRebasing(spark, root, fsys, rootP, cur,
      Pending("upsert", ddl, uuid, v, cd.entries, cd.stats, cd.rows,
        cd.bytes ++ cdcF.bytes,
        hit = Some(hit), txn = txn,
        cdc = cdcDir, files = cd.files ++ cdcF.files,
        layoutBuckets = cur.buckets), retries, branch)
  }

  /** Keyed delete: rows whose key tuple appears in `keysDf` are removed;
    * absent keys are a no-op. Merge-on-write (default) is confined to
    * hit buckets exactly like [[upsert]] — read RESOLVED (consuming any
    * pending deltas there), rewritten without the keys; a bucket emptied
    * by the delete simply drops out of the manifest. MERGE-ON-READ
    * (`mergeOnRead = true`) writes only key-column TOMBSTONE dirs —
    * O(keys) data, zero existing bytes read — and readers drop the
    * tombstoned rows until [[compact]] folds the layer in (the Delta
    * deletion-vector cost shape, keyed instead of positional).
    * `keysDf` needs only the key columns (extras are ignored), is
    * deduplicated internally, and is materialized before the hit-set
    * derivation (same nondeterminism defense as upsert). */
  def delete(keysDf: DataFrame, root: String,
      mat: Materialize = Materialize.Local,
      mergeOnRead: Boolean = false,
      retries: Int = 0,
      branch: Option[String] = None): Long = {
    val spark = keysDf.sparkSession
    val cur = currentOn(spark, root, branch)
    require(cur.keys.nonEmpty,
      s"table at $root was created without keys; delete undefined")
    requireCols(keysDf.select(cur.keys.map(col): _*), cur.keys)
    val (fsys, rootP) = fs(spark, root)
    val keyCols = cur.keys.map(col)
    val batch = mat(keysDf.select(keyCols: _*).distinct()
      .withColumn(BucketCol, bucketOf(cur.keys, cur.buckets)))
    val v = cur.version + 1
    val uuid = newUuid()
    if (mergeOnRead) {
      val tombs = batch.drop(BucketCol)
      // tombstone dirs are events too: never bloom-pruned, no sidecar
      val cd = writeCommitData(tombs, rootP, v, cur.keys,
        cur.buckets, uuid, fsys, cur.colMap, statsCols = cur.statsCols)
      return commitRebasing(spark, root, fsys, rootP, cur,
        Pending("delete-mor", cur.schemaDdl, uuid, v, cd.entries,
          cd.stats, cd.rows,
          cd.bytes, hit = None, txn = None, files = cd.files,
          layoutBuckets = cur.buckets), retries, branch)
    }
    // closure over historical layouts: hit old dirs are read WHOLE and
    // their rows migrate into current-layout dirs with this commit
    val hit = hitClosure(cur, hitBuckets(batch))
    val priorHit = resolvedRead(spark, cur, Some(hit), cur.schemaDdl)
    val kept = priorHit.join(batch.drop(BucketCol), cur.keys, "left_anti")
    val cd = writeCommitData(kept, rootP, v, cur.keys,
      cur.buckets, uuid, fsys, cur.colMap, cur.partSpec, cur.statsCols,
      bloom = true)
    requireSubset(cd.entries, hit, "delete")
    val cdcDir =
      if (!cur.changeFeed) None
      else Some(writeChangeData(
        priorHit.join(batch.drop(BucketCol), cur.keys, "left_semi")
          .withColumn(ChangeTypeCol, lit("delete")),
        rootP, v, uuid, cur.colMap))
    val cdcF = cdcFiles(fsys, cdcDir)
    commitRebasing(spark, root, fsys, rootP, cur,
      Pending("delete", cur.schemaDdl, uuid, v, cd.entries, cd.stats,
        cd.rows, cd.bytes ++ cdcF.bytes,
        hit = Some(hit), txn = None,
        cdc = cdcDir, files = cd.files ++ cdcF.files,
        layoutBuckets = cur.buckets), retries, branch)
  }

  /** Predicate DELETE. Two commit shapes, same semantics (rows where
    * `condition` is TRUE go; FALSE or NULL stay — SQL three-valued
    * DELETE):
    *
    *   - COPY-ON-WRITE (default), PARTITION/STATS-PINNED: the predicate
    *     is classified per live dir against the manifest's guaranteed
    *     partition-derived bounds and recorded stats
    *     ([[Snapshot.statsFor]]). Dirs where it is provably TRUE for
    *     every row ([[statsCertain]]) are DROPPED as pure metadata —
    *     zero data bytes read or written; dirs where some conjunct is
    *     provably FALSE ([[statsSatisfiable]]) carry forward VERBATIM;
    *     only the boundary dirs are read and rewritten. A retention
    *     `DELETE WHERE ts < cutoff` on a `days(ts)`-partitioned table
    *     is O(entries) driver metadata + a rewrite of at most the one
    *     cutoff-straddling day — the 100 TB retention shape. With no
    *     stats power (untranslatable/nondeterministic predicate,
    *     pending merge-on-read deltas) it degrades to the full rewrite.
    *   - POSITIONAL MERGE-ON-READ (`mergeOnRead = true` — the
    *     deletion-vector shape, key-agnostic like Delta/Iceberg DVs):
    *     the live rows are read through the connector with their
    *     row identity (`_sdv_file`, `_sdv_pos`: file suffix and parquet
    *     row index, [[resolvedReadWithPos]]) — the one merge-on-read
    *     replay, so pending key events are resolved there — and the
    *     commit writes ONLY the matched rows' positions as a `pos` delta
    *     layer, keyed tables' tombstones carrying the key columns so
    *     they route to the matched keys' buckets. Readers drop the
    *     recorded positions as they stream the data files
    *     ([[SnapshotPosScan]], [[SnapshotMorScan]]) until [[compact]]
    *     folds the layer in; a tombstoned delta row keeps shadowing
    *     its key's older versions. O(matched) data written, zero
    *     existing bytes rewritten; zero matches commit nothing and
    *     return the current version.
    *
    * Change feed: the pinned copy-on-write commit records its deleted
    * rows as commit-time change data (reading only the dropped/boundary
    * dirs — O(deleted), never O(table)), so CDF stays exact. Positions
    * are matched against the RESOLVED current content, so a second
    * delete never re-records an already-dead position, and a duplicate
    * (file, pos) pair would be idempotent anyway. Copy-on-write
    * publishes FAIL-FAST (an overwrite-shaped commit has no safe
    * rebase) — `retries` is refused there rather than silently
    * ignored; merge-on-read honors it (positions pin this snapshot's
    * files; the hit-list guard pins the tombstones' buckets). */
  def deleteWhere(spark: SparkSession, root: String,
      condition: org.apache.spark.sql.Column,
      mergeOnRead: Boolean = false,
      retries: Int = 0,
      branch: Option[String] = None): Long = {
    val cur = currentOn(spark, root, branch)
    if (!mergeOnRead) {
      require(retries == 0,
        "copy-on-write deleteWhere publishes fail-fast (an overwrite-" +
          "shaped commit has no safe rebase); retries is only " +
          "meaningful with mergeOnRead = true")
      return deleteWhereCow(spark, root, cur, condition, branch)
    }
    // `condition` may be nondeterministic: pin the matched rows once,
    // before the tombstones and the change rows read them
    val matched = Materialize.Local(
      resolvedReadWithPos(spark, cur)
        .filter(coalesce(condition, lit(false))))
    if (matched.isEmpty) return cur.version
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    val uuid = newUuid()
    // key columns ride in the tombstone files solely to bucket-route
    // them ([[writeCommitData]]'s hash); readers project (file, pos)
    val cd = writeCommitData(
      matched.select((cur.keys :+ PosFileCol :+ PosPosCol).map(col): _*),
      rootP, v, cur.keys, cur.buckets, uuid, fsys)
    val cdcDir =
      if (!cur.changeFeed) None
      else Some(writeChangeData(
        matched.drop(PosFileCol, PosPosCol)
          .withColumn(ChangeTypeCol, lit("delete")),
        rootP, v, uuid, cur.colMap))
    val cdcF = cdcFiles(fsys, cdcDir)
    commitRebasing(spark, root, fsys, rootP, cur,
      Pending("delete-pos", cur.schemaDdl, uuid, v, cd.entries, cd.stats,
        cd.rows, cd.bytes ++ cdcF.bytes,
        hit = Some(cd.entries.map(_._1).toSet), txn = None,
        cdc = cdcDir, files = cd.files ++ cdcF.files,
        layoutBuckets = cur.buckets), retries, branch)
  }

  /** Copy-on-write predicate DELETE, partition/stats-pinned (see
    * [[deleteWhere]]). One commit, three dir classes: dropped (pure
    * metadata), kept (verbatim manifest lines), rewritten (read +
    * filter + write, boundary dirs only). */
  private def deleteWhereCow(spark: SparkSession, root: String,
      cur: Snapshot, condition: org.apache.spark.sql.Column,
      branch: Option[String]): Long = {
    val (fsys, rootP) = fs(spark, root)
    val (dropped, kept, rewrite) = deleteClassify(spark, cur, condition)
    if (dropped.isEmpty && kept.isEmpty)
      // no stats power: the plain full copy-on-write (also the only
      // path that must CONSUME pending merge-on-read deltas)
      return overwrite(
        resolvedRead(spark, cur, None, cur.schemaDdl)
          .filter(not(coalesce(condition, lit(false)))),
        root, branch = branch)
    val v = cur.version + 1
    val uuid = newUuid()
    val rewriteDirs = rewrite.map(_._2)
    // deltas are empty by classification's precondition, so a plain
    // dir read IS the resolved content of the boundary dirs
    val cd =
      if (rewrite.isEmpty) CommitFiles.empty
      else writeCommitData(
        readEntries(spark, cur.schemaDdl, cur.colMap, rewriteDirs,
          cur.existsDefaults, cur.dirFiles)
          .filter(not(coalesce(condition, lit(false)))),
        rootP, v, cur.keys, cur.buckets, uuid, fsys, cur.colMap,
        cur.partSpec, cur.statsCols, bloom = true)
    // commit-time change data from the DROPPED + boundary dirs only —
    // O(deleted rows), never O(table); classification guarantees the
    // predicate is deterministic, so this re-evaluation matches the
    // survivor filter exactly
    val cdcDir =
      if (!cur.changeFeed) None
      else {
        val deadDirs = dropped.map(_._2) ++ rewriteDirs
        val dead = readEntries(spark, cur.schemaDdl, cur.colMap, deadDirs,
          cur.existsDefaults, cur.dirFiles)
          .filter(
            if (rewrite.isEmpty) lit(true) // dropped dirs die wholesale
            else coalesce(condition, lit(false)))
        Some(writeChangeData(
          dead.withColumn(ChangeTypeCol, lit("delete")),
          rootP, v, uuid, cur.colMap))
      }
    val cdcF = cdcFiles(fsys, cdcDir)
    publish(fsys, rootP, stamped(Snapshot(v, "delete", cur.keys,
      cur.buckets, cur.schemaDdl, uuid,
      kept ++ cd.entries,
      statsCols = cur.statsCols,
      dirStats = cur.dirStats ++ cd.stats, dirRows = cur.dirRows ++ cd.rows,
      dirBytes = cur.dirBytes ++ cd.bytes ++ cdcF.bytes,
      deltas = Seq.empty, changeFeed = cur.changeFeed, cdc = cdcDir,
      dirLayout = cur.dirLayout, colMap = cur.colMap,
      droppedPhys = cur.droppedPhys, constraints = cur.constraints,
      partSpec = cur.partSpec, colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cur.dirFiles ++ cd.files ++ cdcF.files)), branch)
    v
  }

  /** Classify `cur`'s live entries under DELETE predicate `condition`:
    * (provably-all-match → droppable, provably-none-match → keep
    * verbatim, boundary → rewrite), in original entry order. Returns
    * (Nil, Nil, entries) — "no power, full rewrite" — when pending
    * deltas shadow the base dirs, the predicate is nondeterministic,
    * or no conjunct translates to a stats-reasoning shape. Dropping
    * requires EVERY conjunct translated (an untranslatable conjunct
    * could be FALSE on a row the translated ones accept); keeping only
    * needs ONE translated conjunct provably unsatisfiable. */
  private def deleteClassify(spark: SparkSession, cur: Snapshot,
      condition: org.apache.spark.sql.Column)
      : (Seq[(Int, String)], Seq[(Int, String)], Seq[(Int, String)]) = {
    import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, Expression, Literal}
    val noPower = (Seq.empty[(Int, String)], Seq.empty[(Int, String)],
      cur.entries)
    if (cur.deltas.nonEmpty) return noPower
    val schema = StructType.fromDDL(cur.schemaDdl)
    // resolve the predicate against the table schema through a real
    // plan (names→attributes, implicit casts), then fold constant
    // subtrees so cast('2024-01-10' as timestamp)-style literals
    // translate
    val condExpr = emptyDf(spark, schema).filter(condition)
      .queryExecution.analyzed match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
        case _ => return noPower
      }
    if (!condExpr.deterministic) return noPower
    val folded = condExpr.transformUp {
      case e: Expression if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(), e.dataType)
    }
    def split(e: Expression): Seq[Expression] = e match {
      case CatAnd(a, b) => split(a) ++ split(b)
      case o => Seq(o)
    }
    val translated = split(folded)
      .map(org.apache.spark.sql.GraftParquetBridge.translateFilter)
    val filters = translated.flatten
    if (filters.isEmpty) return noPower
    val fullTranslation = translated.forall(_.isDefined)
    val types = statsTypes(cur.schemaDdl)
    val toLogical = cur.logicalOf
    val classes = cur.entries.map { e =>
      val st0 = cur.statsFor(e._2)
      val st = if (toLogical.isEmpty) st0
        else st0.map { case (c, v) => toLogical.getOrElse(c, c) -> v }
      if (st.isEmpty) "rewrite"
      else if (fullTranslation &&
          filters.forall(f => statsCertain(st, types, f))) "drop"
      else if (filters.exists(f => !statsSatisfiable(st, types, f))) "keep"
      else "rewrite"
    }
    val z = cur.entries.zip(classes)
    (z.collect { case (e, "drop") => e },
      z.collect { case (e, "keep") => e },
      z.collect { case (e, "rewrite") => e })
  }

  /** Newest transaction version committed under `appId` (the Delta
    * `SetTransaction` idempotency shape): write ops take an optional
    * `txn = (appId, version)` stamped into the SAME manifest as the
    * data, so "has batch N landed?" is answered by the commit log
    * itself and a replayed batch can be skipped exactly-once.
    *
    * O(1)-class parse budget: the consolidated checkpoint carries the
    * per-app watermark for everything at or below its coverage; only
    * the ≤ [[CheckpointInterval]] manifests past it are parsed. That
    * also means checkpointed watermarks SURVIVE history expiry —
    * vacuuming below a replayable batch forfeits its dedup (the
    * documented Delta caveat) only on the not-yet-checkpointed tail. */
  def lastTxn(spark: SparkSession, root: String,
      appId: String): Option[Long] = {
    val (fsys, rootP) = fs(spark, root)
    val listed = listManifests(fsys, rootP, None)
    val ck = newestCheckpoint(fsys, listed)
    val after = ck.map(_.version).getOrElse(0L)
    val tail = listed.versions.filter(_._1 > after)
      .flatMap { case (v, p) => parseManifest(fsys, p, v).txn }
      .collect { case (a, n) if a == appId => n }
    (ck.flatMap(_.txns.get(appId)).toSeq ++ tail).maxOption
  }

  /** Roll the table back to `version` (or a `tag`) AS A NEW COMMIT — the
    * Delta `RESTORE` shape: data, schema, and pending merge-on-read
    * layers all return to the target's state, but history only moves
    * FORWARD (the bad commits stay time-travel-readable for the
    * post-mortem; nothing is deleted — vacuum reclaims them later).
    * Pure metadata: the commit re-lists the target's dirs, moving zero
    * data bytes — rolling a 100 TB table back is an O(entries) driver
    * write. Every target dir must still exist (a target older than the
    * last vacuum's horizon is gone — refused loudly, never a
    * half-restored table); the kept restore manifest then re-pins those
    * dirs live for future vacuums. */
  def restore(spark: SparkSession, root: String,
      version: Option[Long] = None, tag: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    require(version.isDefined || tag.isDefined,
      "restore needs a target: pass version or tag")
    val target = resolve(spark, root, version, None, tag)
    val cur = current(spark, root)
    val (fsys, rootP) = fs(spark, root)
    val missing = (target.entries.map(_._2) ++ target.deltas.map(_.dir))
      .filterNot(d => fsys.exists(new Path(d)))
    require(missing.isEmpty,
      s"cannot restore $root to version ${target.version}: " +
        s"${missing.size} data dir(s) no longer exist (vacuumed?) — " +
        s"e.g. ${missing.headOption.getOrElse("")}")
    val v = cur.version + 1
    // the restore takes the target's BUCKET LAYOUT back too (data,
    // schema, pending deltas and layout all return to the target's
    // state): keeping the rescaled layout would leave delta bucket ids
    // and entry tags in the wrong space, and the re-shrunk layout stays
    // inside the grow-only divisibility chain for future rescales
    publish(fsys, rootP, stamped(Snapshot(v, "restore", cur.keys,
      target.buckets, target.schemaDdl, newUuid(), target.entries,
      statsCols = target.statsCols,
      dirStats = target.dirStats, dirRows = target.dirRows,
      dirBytes = target.dirBytes,
      txn = txn,
      deltas = target.deltas,
      changeFeed = cur.changeFeed,
      dirLayout = target.dirLayout,
      colMap = target.colMap, droppedPhys = target.droppedPhys,
      // the target's spec registry covers every dir it re-lists (specs
      // only ever grow), so the restore serves the target's partition
      // shape exactly — previously dropped, which silently unpartitioned
      // the table's future writes
      constraints = target.constraints, partSpec = target.partSpec,
      colDefaults = target.colDefaults,
      existsDefaults = target.existsDefaults, props = target.props,
      dirFiles = target.dirFiles)))
    v
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE … SHALLOW CLONE` shape): a
    * new, independent snapshot table at `dstRoot` whose version 1
    * re-lists the SOURCE snapshot's data dirs BY REFERENCE — zero data
    * bytes move, ONE metadata commit, O(entries) driver work. Forking a
    * 100 TB table for a dev/test/what-if sandbox costs the same as a
    * tag; the `version`/`tag` arguments clone any point of the source's
    * history.
    *
    * Everything that makes the listing serveable travels with it: keys
    * and bucket count (key-pruned reads, storage-partitioned joins),
    * per-dir stats/rows/bytes (data skipping, exact planner stats,
    * metadata-only `count(*)`), unresolved merge-on-read layers,
    * historical bucket layouts mid-rescale, column mapping, CHECK
    * constraints, and the partition-spec registry. History does NOT
    * travel: the clone's history begins at its clone commit (time
    * travel into the source's past belongs to the source), and the
    * source's tags/branches stay behind.
    *
    * Clone and source then diverge freely — each root's writes land
    * under that root. The clone's [[vacuum]] only ever sweeps
    * `dstRoot/data`, so referenced SOURCE dirs are structurally
    * untouchable from the clone side. The reverse hazard — vacuuming
    * the SOURCE out from under a clone, Delta's documented data-loss
    * caveat — is a REFUSAL here: the clone registers itself at the
    * source (`_refs/clones/`, best-effort — a read-only source still
    * clones, with the caveat logged), and the source's [[vacuum]]
    * refuses to expire a registered clone's pinned version until the
    * registration is dropped ([[unregisterClone]]) or explicitly
    * overridden.
    *
    * Returns the clone's head version (always 1). */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Long] = None, tag: Option[String] = None): Long = {
    val src = resolve(spark, srcRoot, version, None, tag)
    require(!exists(spark, dstRoot),
      s"snapshot table already exists at $dstRoot")
    val (sfs, srcP) = fs(spark, srcRoot)
    val missing = (src.entries.map(_._2) ++ src.deltas.map(_.dir))
      .filterNot(d => sfs.exists(new Path(d)))
    require(missing.isEmpty,
      s"cannot clone $srcRoot v${src.version}: ${missing.size} data " +
        "dir(s) no longer exist (vacuumed?) — e.g. " +
        missing.headOption.getOrElse(""))
    val (fsys, rootP) = fs(spark, dstRoot)
    publish(fsys, rootP, stamped(Snapshot(1L, "clone", src.keys,
      src.buckets, src.schemaDdl, newUuid(), src.entries,
      statsCols = src.statsCols,
      dirStats = src.dirStats, dirRows = src.dirRows,
      dirBytes = src.dirBytes,
      deltas = src.deltas,
      changeFeed = src.changeFeed,
      dirLayout = src.dirLayout,
      colMap = src.colMap, droppedPhys = src.droppedPhys,
      constraints = src.constraints, partSpec = src.partSpec,
      colDefaults = src.colDefaults,
      existsDefaults = src.existsDefaults, props = src.props,
      dirFiles = src.dirFiles)))
    // best-effort registration AT THE SOURCE, after the clone is
    // published (an unregistered-but-published clone degrades to the
    // Delta caveat; a registered-but-unpublished one would pin garbage)
    try {
      val body = s"$CloneRefHeader\ndst=${fsys.makeQualified(rootP)}\n" +
        s"version=${src.version}\n"
      val p = cloneRefPath(srcP, newUuid())
      val out = sfs.create(p, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    } catch {
      case scala.util.control.NonFatal(e) => System.err.println(
        s"[snapshot] clone registration at $srcRoot failed ($e) — the " +
          "source's vacuum cannot see this clone; tag the cloned " +
          "version there to protect it")
    }
    1L
  }

  private val CloneRefHeader = "graft-clone-ref-v1"
  private def clonesDir(root: Path) = new Path(refsDir(root), "clones")
  private def cloneRefPath(root: Path, id: String) =
    new Path(clonesDir(root), s"$id.txt")

  /** Registered clones of this table: (registry file name, clone root,
    * pinned source version). Unreadable entries are skipped (a stray
    * file must not wedge vacuum — an unparseable registration can't
    * name a version to protect anyway). */
  private[sources] def registeredClones(fsys: FileSystem,
      rootP: Path): Seq[(String, String, Long)] = {
    val dir = clonesDir(rootP)
    if (!fsys.exists(dir)) return Seq.empty
    fsys.listStatus(dir).toSeq.filter(_.isFile).flatMap { st =>
      try {
        val lines = readText(fsys, st.getPath).split("\n").toSeq
        if (!lines.headOption.contains(CloneRefHeader)) None
        else for {
          d <- lines.collectFirst { case l if l.startsWith("dst=") =>
            l.drop(4) }
          v <- lines.collectFirst { case l if l.startsWith("version=") =>
            l.drop(8).toLong }
        } yield (st.getPath.getName, d, v)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Drop `dstRoot`'s clone registration(s) at `srcRoot` — run this
    * after retiring a clone so the source's [[vacuum]] stops protecting
    * its pinned version. Returns how many registrations were removed. */
  def unregisterClone(spark: SparkSession, srcRoot: String,
      dstRoot: String): Int = {
    val (fsys, rootP) = fs(spark, srcRoot)
    val dstQ = fs(spark, dstRoot) match { case (f, p) =>
      f.makeQualified(p).toString }
    val hits = registeredClones(fsys, rootP).filter(_._2 == dstQ)
    hits.foreach { case (name, _, _) =>
      fsys.delete(cloneRefPath(rootP, name.stripSuffix(".txt")), false) }
    hits.size
  }

  /** Z-order clustering rewrite (Delta's `OPTIMIZE ZORDER BY` shape,
    * Armbrust VLDB'20 §4.2): content-identical like [[compact]], but
    * each key-hash bucket's rows are split into up to `slicesPerBucket`
    * dirs by the Morton-interleaved rank of the k `cols`
    * ([[graft.ops.ZOrder.zKeyN]], every dimension min/max-normalized to
    * `bits` bits — auto-narrowed so bits·k ≤ 62 — in one O(table) agg
    * pass), and sorted by z-key within each slice. Real curation
    * tables cluster on (domain, lang, date) at least, so k is 2..15,
    * not just 2.
    *
    * Why slices: the manifest's data-skipping stats are PER DIR, so a
    * single compacted dir per bucket has bucket-wide min/max on every
    * column — a 2-D box predicate reads everything. Z-sliced dirs have
    * min/max envelopes that are tight boxes in BOTH dimensions at once,
    * so the same pushed range conjuncts ([[statsSatisfiable]]) skip
    * most slices; within a slice the z-sort tightens parquet row-group
    * stats the same way. Key-hash bucketing is untouched (the slice
    * split nests INSIDE buckets), so key-equality pruning composes:
    * `key = k AND x BETWEEN … AND y BETWEEN …` prunes by bucket AND
    * slice.
    *
    * 100 TB framing: one rewrite pass (the compaction cadence), after
    * which every 2-D range scan over the clustered dims reads
    * ~matching-box/table of the bytes. A z-order commit replaces every
    * bucket's dir list, so it diffs as EMPTY in [[readChanges]] (at
    * full-compare cost — feed CDC from append/upsert ranges instead)
    * and fail-fasts a running [[SnapshotMicroBatchStream]] like any
    * rewrite.
    *
    * Returns the committed version. Both `cols` must be recorded in
    * the table's `statsCols` (otherwise no read ever prunes on them —
    * refused loudly rather than silently useless). */
  def zorder(spark: SparkSession, root: String, cols: Seq[String],
      slicesPerBucket: Int = 8, bits: Int = 16): Long = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"z-order needs >= 2 distinct columns, got $cols")
    require(slicesPerBucket >= 2 && slicesPerBucket <= 4096,
      s"slicesPerBucket must be in [2,4096]: $slicesPerBucket")
    // bits·k must fit a non-negative long; k=3 at the default 16 bits is
    // a 48-bit key (65k quantization steps per dim — far finer than any
    // row-group envelope), and even k=6 still gets 10 bits per dim
    require(bits >= 4 && bits <= 21, s"bits must be in [4,21]: $bits")
    val kBits = math.min(bits, 62 / cols.size)
    require(kBits >= 4,
      s"${cols.size} dims leave ${62 / cols.size} bits/dim (< 4) — " +
        "too many z-order columns to quantize usefully; pass <= 15")
    val cur = current(spark, root)
    val schema = StructType.fromDDL(cur.schemaDdl)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"z-order column $c missing from ${cur.schemaDdl}"))
    cols.foreach(c => require(cur.statsCols.contains(cur.physicalOf(c)),
      s"z-order column $c is not in statsCols=${cur.statsCols} — no read " +
        "would ever prune on it; recreate the table with it in statsCols"))
    val data = read(spark, root)
    // ONE O(table) agg pass for every dimension's min/max, over FINITE
    // values only: a NaN or ±Infinity bound would scale every row to a
    // non-finite double, whose cast to BIGINT fails under ANSI. Spark
    // orders NaN above +Infinity, so both comparisons exclude it.
    def dbl(c: String) = col(c).cast("double")
    def finite(c: String) = when(dbl(c) > Double.NegativeInfinity &&
      dbl(c) < Double.PositiveInfinity, dbl(c))
    val minMax = cols.flatMap(c => Seq(min(finite(c)), max(finite(c))))
    val b = data.agg(minMax.head, minMax.tail: _*).head()
    if (cols.indices.exists(d => b.isNullAt(2 * d)))
      return cur.version // empty table or a dimension with no finite value
    val maxV = (1L << kBits) - 1
    // +Infinity and NaN take the top rank, -Infinity the bottom one
    def norm(c: String, lo: Double, hi: Double) =
      when(dbl(c) >= Double.PositiveInfinity, lit(maxV))
        .when(dbl(c) <= Double.NegativeInfinity, lit(0L))
        .otherwise(
          if (hi <= lo) lit(0L)
          else least(lit(maxV), greatest(lit(0L),
            ((dbl(c) - lo) / (hi - lo) * maxV).cast("long"))))
    val zk = graft.ops.ZOrder.zKeyN(
      cols.zipWithIndex.map { case (c, d) =>
        norm(c, b.getDouble(2 * d), b.getDouble(2 * d + 1)) },
      kBits)
    // fixed-width z-range slices via exact bit shifts (slice count
    // rounds UP to a power of two — `/` on Columns is double division,
    // whose rounding could misplace boundary rows): the slice is the
    // top log2(slices) bits of the z-key
    val log2Slices = 64 - java.lang.Long
      .numberOfLeadingZeros(math.max(1L, slicesPerBucket.toLong - 1))
    val shift = math.max(0, cols.size * kBits - log2Slices.toInt)
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    val uuid = newUuid()
    val commitDir = new Path(new Path(rootP, "data"), s"c$v-$uuid")
    val out0 = data.withColumn(BucketCol, bucketOf(cur.keys, cur.buckets))
      .withColumn(ZSliceCol,
        coalesce(shiftrightunsigned(zk, shift).cast("int"),
          lit(0))) // null dims → slice 0
      .withColumn("__zk", zk)
      .repartition(col(BucketCol), col(ZSliceCol))
      .sortWithinPartitions(col(BucketCol), col(ZSliceCol), col("__zk"))
      .drop("__zk")
    // files land under PHYSICAL names (column mapping); the partition
    // columns are reserved and never mapped
    val out1 = if (cur.colMap.isEmpty) out0
      else out0.select(out0.columns.map(c =>
        col(c).as(cur.colMap.getOrElse(c, c))).toIndexedSeq: _*)
    // on a partitioned table the value dirs keep their place between
    // the bucket and the z-slice: `_gb=b/_pt0=v/_zs=k` — partition
    // pruning and z-range pruning compose on the clustered layout
    val zAct = activeSpec(cur.partSpec)
    val ptNames = zAct.map(f => s"$PartPrefix${f.idx}")
    val out = zAct.foldLeft(out1) { case (d, f) =>
      d.withColumn(s"$PartPrefix${f.idx}",
        partValueCol(f, out1.schema(f.col).dataType))
    }
    val cd = writeCommitDir(out, BucketCol +: ptNames :+ ZSliceCol,
      commitDir, cur.buckets, fsys, cur.statsCols, cur.keys)
    publish(fsys, rootP, stamped(Snapshot(v, "zorder", cur.keys,
      cur.buckets, cur.schemaDdl, uuid, cd.entries,
      statsCols = cur.statsCols,
      dirStats = cd.stats, dirRows = cd.rows, dirBytes = cd.bytes,
      changeFeed = cur.changeFeed,
      colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cd.files)))
    v
  }

  /** Move the table root: ONE directory rename, ZERO data files moved.
    * Manifests record the dirs under the root relative to it
    * ([[SnapshotManifest]]) and a shallow clone's source dirs as
    * absolute paths, so every manifest stays valid at the new root
    * byte for byte. Manifests written before relative dirs
    * (`graft-snapshot-v1`: absolute paths only) are first re-encoded in
    * place at the old root, each to the same snapshot (tmp + rename per
    * file), so a crash at any point leaves a valid table at the old or
    * the new path.
    *
    * A renamed clone's registration at its source ([[cloneTable]])
    * keeps naming the clone's OLD root: the source's vacuum still
    * protects the pinned version, and [[unregisterClone]] takes the old
    * root to drop it.
    *
    * Single-writer operation: a commit racing the rename loses its
    * table out from under it (its writes land at the dead old root and
    * are never published into the moved catalog) — run it in a quiet
    * window, like vacuum. */
  def rename(spark: SparkSession, oldRoot: String, newRoot: String): Unit = {
    val (fsys, oldP) = fs(spark, oldRoot)
    val (_, newP) = fs(spark, newRoot)
    require(exists(spark, oldRoot), s"no snapshot table at $oldRoot")
    require(!fsys.exists(newP), s"rename target $newRoot already exists")
    // main AND branch manifests; the v1 ones hold absolute dirs
    val V = """(?:b\.[A-Za-z0-9][A-Za-z0-9._-]{0,127}\.)?v(\d{8,})\.txt""".r
    val dir = manifestDir(oldP)
    fsys.listStatus(dir).map(_.getPath.getName).foreach {
      case name @ V(v) =>
        val (p, tmp) = (new Path(dir, name), new Path(dir, s".tmp-$name"))
        val text = readText(fsys, p)
        val v2 = SnapshotManifest.encode(SnapshotManifest.decode(
          text, oldP.toString, p.toString, v.toLong), oldP.toString)
        if (v2 != text) {
          val out = fsys.create(tmp, true)
          try out.write(v2.getBytes("UTF-8")) finally out.close()
          // POSIX rename replaces the target atomically; a store whose
          // rename refuses an existing target takes delete + rename
          require(fsys.rename(tmp, p) ||
            fsys.delete(p, false) && fsys.rename(tmp, p),
            s"manifest rewrite failed for $p")
        }
      case _ => () // checkpoints, locks, strays
    }
    Option(newP.getParent).foreach(fsys.mkdirs)
    require(fsys.rename(oldP, newP),
      s"filesystem rename $oldRoot -> $newRoot failed")
  }

  /** Grow the table's bucket count WITHOUT rewriting a byte — the
    * partition-evolution move (Iceberg spec "partition evolution";
    * extendible hashing's directory doubling): a pure-metadata commit
    * re-publishes the current entries tagged with their HISTORICAL
    * layout and sets `buckets = newBuckets` for everything that follows.
    *
    * Why grow-only multiples: for `L | B`, a key's old bucket is its new
    * bucket mod L (`hash mod L == (hash mod B) mod L`), so an old dir's
    * key range stays exactly reconstructible — reads prune old dirs at
    * 1/L and fresh dirs at 1/B, writes close their hit sets over the old
    * dirs they touch ([[hitClosure]]) and MIGRATE them incrementally:
    * every upsert/delete/targeted-compact that touches an old dir
    * rewrites it under the new layout, so migration amortizes into the
    * writes the table was doing anyway and [[compact]]/[[zorder]] finish
    * it in one pass. Shrinking or a non-multiple would break that
    * identity — refused; spell those as an explicit rewrite into a
    * fresh table.
    *
    * The 100 TB story this closes: bucket count is no longer fixed at
    * create. A table sized at B buckets that grows 100× doubles its
    * layout in O(entries) driver metadata k times, keeping one bucket ≈
    * one comfortable rewrite unit forever, with zero stop-the-world
    * rewrite.
    *
    * Refused on tables with unresolved merge-on-read deltas (their
    * event bucket ids live in the old space — compact first) and on
    * keyless tables (no hash layout to grow). Returns the committed
    * version. */
  def rescaleBuckets(spark: SparkSession, root: String,
      newBuckets: Int): Long = {
    val cur = current(spark, root)
    require(cur.keys.nonEmpty,
      s"table at $root is keyless (single bucket 0); rescale undefined")
    require(newBuckets > cur.buckets && newBuckets % cur.buckets == 0,
      s"rescaleBuckets grows by integer multiples only: " +
        s"${cur.buckets} -> $newBuckets (shrink/reshape = rewrite into " +
        "a fresh table)")
    require(cur.deltas.isEmpty,
      s"table at $root has ${cur.deltas.size} unresolved merge-on-read " +
        "delta dirs whose bucket ids live in the old layout — compact " +
        "first")
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(Snapshot(v, "rescale", cur.keys,
      newBuckets, cur.schemaDdl, newUuid(), cur.entries,
      statsCols = cur.statsCols,
      dirStats = cur.dirStats, dirRows = cur.dirRows,
      dirBytes = cur.dirBytes,
      changeFeed = cur.changeFeed,
      // every carried dir gets an explicit tag at ITS OWN layout (the
      // old current-layout dirs become historical; already-historical
      // tags carry through unchanged)
      dirLayout = cur.entries.map(e => e._2 -> cur.layoutOf(e._2)).toMap,
      colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cur.dirFiles)))
    v
  }

  /** Evolve the partition SPEC as a pure-metadata commit — the Iceberg
    * partition-evolution shape, re-derived for the registry
    * representation ([[PartField]]): new writes partition by
    * `partitionBy`; every EXISTING dir keeps the spec that wrote it,
    * self-described through its permanent `_pt<idx>=` segment numbers,
    * so old dirs keep their full guaranteed derived-bound pruning and
    * time travel serves each version's own spec. Zero data moved or
    * read — O(spec) manifest arithmetic.
    *
    * Index discipline: a field identical to one ever registered
    * (same transform + source) RE-ACTIVATES under its original number
    * (returning to an old spec restores the old dir shape exactly);
    * brand-new fields take the next free number; numbers are never
    * reused for a different field. Retired fields stay in the registry
    * inactive — their source columns remain rename/drop/widen-frozen
    * (old dirs' derived bounds must keep describing them; a re-added
    * same-name column would otherwise prune unsoundly against stale
    * dir values). Same validation as [[create]]'s `partitionBy`;
    * refused when nothing changes. `partitionBy = Seq.empty` retires
    * every field (new writes land unpartitioned). */
  def repartitionSpec(spark: SparkSession, root: String,
      partitionBy: Seq[String], branch: Option[String] = None): Long = {
    val cur = currentOn(spark, root, branch)
    val wanted = parsePartSpec(partitionBy)
    requirePartSpec(wanted, StructType.fromDDL(cur.schemaDdl))
    var free = (cur.partSpec.map(_.idx) :+ -1).max + 1
    val act = wanted.map { f =>
      cur.partSpec.find(r =>
          r.transform == f.transform && r.col == f.col) match {
        case Some(r) => r.copy(active = true)
        case None =>
          val assigned = f.copy(idx = free, active = true)
          free += 1
          assigned
      }
    }
    val retired = cur.partSpec
      .filterNot(r => act.exists(_.idx == r.idx))
      .map(_.copy(active = false))
      .sortBy(_.idx)
    val newSpec = act ++ retired
    require(newSpec != cur.partSpec,
      s"partition spec at $root is already " +
        s"(${activeSpec(cur.partSpec).mkString(",")})")
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(Snapshot(v, "repartition-spec",
      cur.keys, cur.buckets, cur.schemaDdl, newUuid(), cur.entries,
      statsCols = cur.statsCols,
      dirStats = cur.dirStats, dirRows = cur.dirRows,
      dirBytes = cur.dirBytes, deltas = cur.deltas,
      changeFeed = cur.changeFeed, dirLayout = cur.dirLayout,
      colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = newSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cur.dirFiles)), branch)
    v
  }

  /** Rename a column WITHOUT rewriting a byte — column mapping (the
    * Delta column-mapping `name` mode, re-derived): data files keep the
    * column's PHYSICAL name (the name it was first written under,
    * immutable for the column's life); this pure-metadata commit
    * repoints the LOGICAL name and records `logical -> physical` in the
    * manifest. Reads relabel at scan (positional, zero copy); later
    * writes land under the physical name; manifest stats stay keyed
    * physical and pruning translates. Time travel serves each version
    * under ITS OWN logical names.
    *
    * Refused for KEY columns (the bucket hash, merge joins, tombstone
    * schemas and connector pushdown all speak key names — renaming one
    * would ripple through every keyed surface for no modeling win;
    * spell that as an explicit rewrite into a fresh table). The new
    * name must be free as a logical name AND as a physical one (a
    * logical name that shadowed some other column's file name would
    * read that column's bytes). Returns the committed version. */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String): Long = {
    val cur = current(spark, root)
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(schema.fieldNames.contains(oldName),
      s"no column '$oldName' in ${cur.schemaDdl}")
    require(!cur.keys.contains(oldName),
      s"'$oldName' is a key column; keys are not renameable")
    require(!cur.partSpec.exists(_.col == oldName),
      s"'$oldName' is a partition source column " +
        s"(${cur.partSpec.mkString(",")}); partition sources are not " +
        "renameable")
    require(oldName != newName && !schema.fieldNames.contains(newName),
      s"column '$newName' already exists in ${cur.schemaDdl}")
    constraintRefsGuard(spark, cur, oldName, "rename")
    val phys = cur.physicalOf(oldName)
    // renaming a column BACK to its own physical (original) name is
    // fine; any OTHER reserved physical name would shadow file data
    require(newName == phys ||
      (!cur.colMap.valuesIterator.contains(newName) &&
        !cur.droppedPhys.contains(newName)),
      s"column name '$newName' is reserved by column mapping (another " +
        "column's physical name); choose a different name")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // renaming BACK to the physical name drops the mapping entry
    val newMap = (cur.colMap - oldName) ++
      (if (newName == phys) Map.empty else Map(newName -> phys))
    alterCommit(spark, root, cur, "rename-column", newSchema.toDDL,
      newMap, cur.droppedPhys,
      // the column's write-default follows its new logical name; any
      // default whose EXPRESSION references the column stays valid
      // because defaults are constant-foldable by construction
      newDefaults = Some(cur.colDefaults.map { case (c, d) =>
        (if (c == oldName) newName else c) -> d
      }),
      newExists = Some(cur.existsDefaults.map { case (c, d) =>
        (if (c == oldName) newName else c) -> d
      }))
  }

  /** Drop a column WITHOUT rewriting a byte: the logical schema loses
    * the field, data files keep their (now unreadable) column, and the
    * column's physical name is RESERVED forever — re-adding it would
    * resurrect the old files' values under the new column. Pure
    * metadata; prior versions keep serving the column through time
    * travel. Key columns are not droppable. Returns the committed
    * version. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val cur = current(spark, root)
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(schema.fieldNames.contains(name),
      s"no column '$name' in ${cur.schemaDdl}")
    require(!cur.keys.contains(name),
      s"'$name' is a key column; keys are not droppable")
    require(!cur.partSpec.exists(_.col == name),
      s"'$name' is a partition source column " +
        s"(${cur.partSpec.mkString(",")}); partition sources are not " +
        "droppable")
    require(schema.fields.length > 1,
      s"cannot drop the only column of $root")
    constraintRefsGuard(spark, cur, name, "drop")
    val phys = cur.physicalOf(name)
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    alterCommit(spark, root, cur, "drop-column", newSchema.toDDL,
      cur.colMap - name, cur.droppedPhys :+ phys,
      newDefaults = Some(cur.colDefaults - name),
      newExists = Some(cur.existsDefaults - name))
  }

  /** Widen a column's type WITHOUT rewriting a byte — type-widening
    * schema evolution (the Delta type-widening / Iceberg primitive-
    * promotion shape): a pure-metadata commit swaps the manifest
    * schema's field type; existing files keep their narrow physical
    * encoding and the parquet vectorized reader promotes at scan
    * (INT32→INT64, FLOAT→DOUBLE — native in Spark 4's reader, no
    * per-dir cast plan needed). Supported: the integral chain
    * byte→short→int→long and float→double; narrowing and kind changes
    * are refused (spell those as an explicit rewrite). Recorded
    * data-skipping stats stay valid as-is: the normalized stats space
    * ([[normalizeStatsValue]]) already collapses all integrals to Long
    * and all floats to Double, so old dirs' bounds compare exactly
    * against literals of the widened type. Time travel serves each
    * version under its OWN type; later writes must speak the widened
    * type ([[commitSchema]] refuses the stale one). KEY columns are
    * refused (the bucket hash is byte-exact per type — widening one
    * would silently re-map every bucket), as are partition sources
    * (their dir-name encoding is type-determined). Returns the
    * committed version. */
  def widenColumn(spark: SparkSession, root: String, name: String,
      newType: String): Long = {
    import org.apache.spark.sql.types._
    val cur = current(spark, root)
    val schema = StructType.fromDDL(cur.schemaDdl)
    require(schema.fieldNames.contains(name),
      s"no column '$name' in ${cur.schemaDdl}")
    require(!cur.keys.contains(name),
      s"'$name' is a key column; the bucket hash is type-exact, so key " +
        "types are frozen at create")
    require(!cur.partSpec.exists(_.col == name),
      s"'$name' is a partition source column " +
        s"(${cur.partSpec.mkString(",")}); partition value encodings " +
        "are type-determined, so their types are frozen at create")
    val to = DataType.fromDDL(newType)
    val from = schema(name).dataType
    require(typeWidens(from, to),
      s"unsupported widening ${from.sql} -> ${to.sql} for '$name' " +
        "(have byte->short->int->long and float->double; narrowing and " +
        "kind changes are explicit rewrites into a fresh table)")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    alterCommit(spark, root, cur, "widen-column", newSchema.toDDL,
      cur.colMap, cur.droppedPhys)
  }

  /** Is `from` → `to` a lossless widening the parquet reader promotes
    * natively? */
  private[sources] def typeWidens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Column names a constraint expression references (top-level
    * attributes of the parsed SQL expression). */
  private[sources] def constraintRefs(spark: SparkSession, expr: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(expr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet

  private def constraintRefsGuard(spark: SparkSession, cur: Snapshot,
      column: String, what: String): Unit =
    cur.constraints.foreach { case (n, e) =>
      require(!constraintRefs(spark, e).contains(column),
        s"cannot $what column '$column': CHECK constraint '$n' ($e) " +
          "references it — drop the constraint first")
    }

  /** The rows of `df` violating any constraint — SQL CHECK semantics:
    * a constraint passes on TRUE or NULL, violates only on FALSE. */
  private def violations(df: DataFrame,
      constraints: Map[String, String]): DataFrame =
    df.filter(constraints.values.map(e =>
      not(coalesce(expr(e), lit(true)))).reduce(_ || _))

  /** Refuse a batch that violates any table constraint — one
    * short-circuiting probe job over the (materialized) batch, the
    * Delta invariant-enforcement shape. O(batch), runs BEFORE any data
    * is staged. */
  private def requireConstraints(df: DataFrame, cur: Snapshot,
      what: String): Unit = {
    if (cur.constraints.isEmpty) return
    val bad = violations(df, cur.constraints).limit(1).collect()
    require(bad.isEmpty,
      s"$what batch violates CHECK constraint(s) " +
        s"${cur.constraints.map { case (n, e) => s"$n: $e" }.mkString("; ")} " +
        s"— e.g. ${bad.headOption.getOrElse("")}")
  }

  /** ADD a named CHECK constraint (the Delta `ADD CONSTRAINT` shape):
    * the EXISTING content is validated first (one full-scan probe — a
    * constraint that doesn't hold today is refused, never recorded),
    * then a pure-metadata commit stores the expression and every later
    * write batch is validated against it (O(batch) probe per commit).
    * Expressions are SQL over the LOGICAL columns; `c IS NOT NULL`
    * spells a NOT NULL invariant. Columns referenced by a constraint
    * can't be renamed or dropped until it is dropped. */
  def addConstraint(spark: SparkSession, root: String, name: String,
      expression: String): Long = {
    require(TagName.matches(name),
      s"constraint name '$name' must match ${TagName.regex}")
    require(!expression.contains('\n') && !expression.contains('\t'),
      "constraint expression must be line-safe")
    val cur = current(spark, root)
    require(!cur.constraints.contains(name),
      s"constraint '$name' already exists at $root " +
        s"(${cur.constraints(name)}); dropConstraint first")
    // parse + reference check up front (fails loudly on typos), then
    // validate the live content
    val refs = constraintRefs(spark, expression)
    val schema = StructType.fromDDL(cur.schemaDdl)
    refs.foreach(c => require(schema.fieldNames.contains(c),
      s"constraint '$name' references unknown column '$c' " +
        s"(schema: ${cur.schemaDdl})"))
    val bad = violations(read(spark, root), Map(name -> expression))
      .limit(1).collect()
    require(bad.isEmpty,
      s"cannot add constraint '$name' ($expression): existing rows " +
        s"violate it — e.g. ${bad.headOption.getOrElse("")}")
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(cur.copy(version = v,
      op = "set-constraint", uuid = newUuid(), txn = None, cdc = None,
      constraints = cur.constraints + (name -> expression))))
    v
  }

  /** Drop a CHECK constraint; later writes stop validating it. */
  def dropConstraint(spark: SparkSession, root: String,
      name: String): Long = {
    val cur = current(spark, root)
    require(cur.constraints.contains(name),
      s"no constraint '$name' at $root " +
        s"(have ${cur.constraints.keys.toSeq.sorted.mkString(",")})")
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(cur.copy(version = v,
      op = "drop-constraint", uuid = newUuid(), txn = None, cdc = None,
      constraints = cur.constraints - name)))
    v
  }

  /** One pure-metadata schema-alter commit: entries, layout, deltas and
    * stats all carry forward verbatim; only the logical view moves. */
  private def alterCommit(spark: SparkSession, root: String,
      cur: Snapshot, op: String, newDdl: String,
      newMap: Map[String, String], newDropped: Seq[String],
      newDefaults: Option[Map[String, String]] = None,
      newExists: Option[Map[String, String]] = None): Long = {
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    publish(fsys, rootP, stamped(Snapshot(v, op, cur.keys, cur.buckets,
      newDdl, newUuid(), cur.entries,
      statsCols = cur.statsCols,
      dirStats = cur.dirStats, dirRows = cur.dirRows,
      dirBytes = cur.dirBytes,
      deltas = cur.deltas,
      changeFeed = cur.changeFeed,
      dirLayout = cur.dirLayout,
      colMap = newMap, droppedPhys = newDropped,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = newDefaults.getOrElse(cur.colDefaults),
      existsDefaults = newExists.getOrElse(cur.existsDefaults),
      props = cur.props)))
    v
  }

  /** Full compaction: rewrite every bucket to one fresh dir each,
    * collapsing the per-bucket dir lists appends accumulate. Content is
    * unchanged (it is `overwrite(read(latest))` with the plan reading
    * the version being replaced — safe, since that version's files are
    * immutable and stay addressable afterwards). A mixed-layout table
    * ([[rescaleBuckets]]) comes out fully migrated to the current
    * layout. */
  def compact(spark: SparkSession, root: String): Long =
    overwriteAs(read(spark, root), root, "compact")

  /** Bucket-TARGETED compaction — the scale-safe shape: rewrite only
    * buckets whose manifest dir count exceeds `maxDirsPerBucket`, carry
    * every other bucket's lines forward byte-identical. Cost is
    * proportional to the data in the over-fragmented buckets, not the
    * table (full [[compact]] on a 100 TB table is a 100 TB rewrite; the
    * targeted pass after a burst of appends touches only what the burst
    * fragmented). Content is unchanged; returns the committed version,
    * or the current one when nothing exceeds the threshold (no empty
    * commit). */
  def compact(spark: SparkSession, root: String,
      maxDirsPerBucket: Int): Long = {
    require(maxDirsPerBucket >= 1,
      s"maxDirsPerBucket must be >= 1: $maxDirsPerBucket")
    val cur = current(spark, root)
    // fragmentation per CURRENT bucket: delta dirs count (each is an
    // extra read + resolution input) and a historical-layout dir counts
    // toward EVERY bucket it covers (it is an extra read input for each).
    // A targeted rewrite RESOLVES its buckets — delta lines fold away —
    // and MIGRATES any old-layout dir it touches to the current layout.
    val frag = scala.collection.mutable.Map.empty[Int, Int]
      .withDefaultValue(0)
    cur.entries.foreach(e => cur.coveredBuckets(e).foreach(b =>
      frag(b) += 1))
    cur.deltas.foreach(d => frag(d.bucket) += 1)
    val over = frag.filter(_._2 > maxDirsPerBucket).keys.toSet
    if (over.isEmpty) return cur.version
    val target = hitClosure(cur, over)
    val (fsys, rootP) = fs(spark, root)
    val rows = resolvedRead(spark, cur, Some(target), cur.schemaDdl)
    val v = cur.version + 1
    val uuid = newUuid()
    val cd = writeCommitData(rows, rootP, v, cur.keys,
      cur.buckets, uuid, fsys, cur.colMap, cur.partSpec, cur.statsCols,
      bloom = true)
    // committed parquet is deterministic input: rows rehash to exactly
    // their original buckets, so the produced set must stay inside target
    requireSubset(cd.entries, target, "compact")
    publish(fsys, rootP, stamped(Snapshot(v, "compact", cur.keys,
      cur.buckets, cur.schemaDdl, uuid,
      cur.entries.filterNot(e => cur.entryHit(e, target)) ++ cd.entries,
      statsCols = cur.statsCols,
      dirStats = cur.dirStats ++ cd.stats, dirRows = cur.dirRows ++ cd.rows,
      dirBytes = cur.dirBytes ++ cd.bytes,
      deltas = cur.deltas.filterNot(d => target(d.bucket)),
      changeFeed = cur.changeFeed,
      dirLayout = cur.dirLayout,
      colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cur.dirFiles ++ cd.files)))
    v
  }

  /** PARTITION-SCOPED compaction — the maintenance companion to the
    * partition-pinned retention DELETE: consolidate ONLY the dirs whose
    * rows provably ALL satisfy `predicate` (partition-derived bounds +
    * recorded stats — the same [[deleteClassify]] certainty pass), one
    * fresh dir per bucket(×partition leaf). "Compact yesterday's
    * ingest" costs O(yesterday's bytes), not O(table) — the cadence a
    * streaming table actually needs, since the hot write region is
    * where small dirs accumulate. Dirs not PROVABLY inside the region
    * (boundary dirs, stats-less dirs) carry verbatim — conservative:
    * skipped, never half-compacted; old-layout dirs it does touch
    * migrate to the current bucket layout like any compact.
    * Content-neutral, so clean tailing streams skip the commit (the
    * dataChange=false discipline). Returns the committed version — or
    * the current one (no empty commit) when fewer than `minDirs` dirs
    * qualify, or when the table carries unresolved merge-on-read
    * deltas (rewritten rows would outrank their shadowing events in
    * replay order — run the full [[compact]] instead). */
  def compactWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      minDirs: Int = 2): Long = {
    require(minDirs >= 1, s"minDirs must be >= 1: $minDirs")
    val cur = current(spark, root)
    val (target, _, _) = deleteClassify(spark, cur, predicate)
    if (target.size < minDirs) return cur.version
    val (fsys, rootP) = fs(spark, root)
    val v = cur.version + 1
    val uuid = newUuid()
    val rows = readEntries(spark, cur.schemaDdl, cur.colMap,
      target.map(_._2), cur.existsDefaults, cur.dirFiles)
    val cd = writeCommitData(rows, rootP, v, cur.keys, cur.buckets,
      uuid, fsys, cur.colMap, cur.partSpec, cur.statsCols, bloom = true)
    val targetDirs = target.map(_._2).toSet
    publish(fsys, rootP, stamped(Snapshot(v, "compact", cur.keys,
      cur.buckets, cur.schemaDdl, uuid,
      cur.entries.filterNot(e => targetDirs(e._2)) ++ cd.entries,
      statsCols = cur.statsCols,
      dirStats = cur.dirStats ++ cd.stats, dirRows = cur.dirRows ++ cd.rows,
      dirBytes = cur.dirBytes ++ cd.bytes,
      deltas = cur.deltas, // empty: classification refuses delta tables
      changeFeed = cur.changeFeed,
      dirLayout = cur.dirLayout, // rewritten dirs are current-layout
      colMap = cur.colMap, droppedPhys = cur.droppedPhys,
      constraints = cur.constraints, partSpec = cur.partSpec,
      colDefaults = cur.colDefaults,
      existsDefaults = cur.existsDefaults, props = cur.props,
      dirFiles = cur.dirFiles ++ cd.files)))
    v
  }

  /** Expire history — the VACUUM of this format: keep the newest
    * `keepVersions` manifests plus every TAGGED version ([[createTag]] —
    * a release label pins its snapshot until dropped), delete the
    * expired manifests FIRST (so no new reader can resolve an expired
    * version), then delete every bucket data dir no kept manifest
    * references — which also reclaims orphan dirs from crashed
    * pre-publish commits. Kept versions are untouched (their file lists
    * stay fully present); a reader mid-scan ON an expired version can
    * fail, the documented tradeoff every manifest-format VACUUM carries.
    *
    * Concurrent-writer safety is exact, not time-based: only dirs whose
    * encoded commit version is ≤ the newest KEPT version are deletion
    * candidates. An in-flight writer's data dir always carries version
    * current+1, so it can never be swept out from under its publish —
    * no retention-window heuristic needed.
    *
    * Returns (expired manifest count, deleted data dir count). Driver
    * cost is O(versions + data dirs) metadata listings; deletes are
    * FS-side. */
  def vacuum(spark: SparkSession, root: String,
      keepVersions: Int = 1, ignoreClones: Boolean = false): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val (fsys, rootP) = fs(spark, root)
    val snaps = versions(spark, root)
    require(snaps.nonEmpty, s"no snapshot table at $root")
    // tagged versions AND branch bases are pinned (a fresh branch with
    // no commits reads its base's main manifest); live branch commits'
    // dirs are protected through `referenced` below. An IN-FLIGHT
    // branch commit's staging dir can carry a version below main's
    // kept head, so vacuum remains a quiet-window operation on tables
    // with active branch writers (same caveat as rename).
    val pinned = tags(spark, root).map(_._2).toSet ++
      branchList(spark, root).map(_._2).toSet
    val recent = snaps.drop(math.max(0, snaps.size - keepVersions))
      .map(_.version).toSet
    val (keep, expire) =
      snaps.partition(s => recent(s.version) || pinned(s.version))
    // registered shallow clones ([[cloneTable]]) pin their source
    // version: expiring it would delete data dirs the clone's manifest
    // still lists — silent data loss AT THE CLONE. Refuse instead of
    // inherit Delta's footgun; `ignoreClones = true` (after
    // [[unregisterClone]], or knowingly) restores the old behavior.
    if (!ignoreClones) {
      val expiring = expire.map(_.version).toSet
      registeredClones(fsys, rootP)
        .filter { case (_, _, v) => expiring(v) }
        .foreach { case (_, dst, v) => sys.error(
          s"vacuum at $root would expire version $v, which the clone " +
            s"at $dst still references — its reads would lose data " +
            "dirs. Keep more versions, tag the version, drop the " +
            "registration (SnapshotTable.unregisterClone) once the " +
            "clone is retired, or pass ignoreClones=true to accept " +
            "the breakage") }
    }
    expire.foreach(s => fsys.delete(manifestPath(rootP, s.version), false))
    // checkpoint hygiene: readers only ever open the NEWEST checkpoint,
    // so older ones are dead weight — drop them here (stale ts/uuid/txn
    // entries for expired versions in the kept one are harmless: ts
    // lookups filter against listed names, txn watermarks deliberately
    // survive expiry)
    listManifests(fsys, rootP, None).ckpts.dropRight(1)
      .foreach { case (_, p) => fsys.delete(p, false) }
    val maxKept = keep.map(_.version).max
    val branchSnaps = branchList(spark, root)
      .flatMap(b => versionsOn(spark, root, Some(b._1)))
    // decoded dirs under the root are spelled from `rootP`, like the
    // candidates below
    val referenced = (keep ++ branchSnaps)
      .flatMap(s => s.entries.map(_._2) ++ s.deltas.map(_.dir) ++ s.cdc)
      .toSet
    // a bucket dir is live if IT or any DESCENDANT is referenced —
    // z-order commits reference `_gb=b/_zs=k` slice dirs, so the
    // `_gb=b` parent must survive even though it is not itself an entry
    val liveOrAncestor: Set[String] = referenced.flatMap { d =>
      Iterator.iterate(new Path(d))(_.getParent).takeWhile(_ != null)
        .map(_.toString).takeWhile(_.length >= rootP.toString.length)
    }
    val CommitV = """c(\d+)-.*""".r
    val dataRoot = new Path(rootP, "data")
    var removedDirs = 0
    if (fsys.exists(dataRoot)) fsys.listStatus(dataRoot).foreach { cs =>
      val c = new Path(dataRoot, cs.getPath.getName)
      val sweepable = c.getName match {
        case CommitV(v) => v.toLong <= maxKept // never an in-flight commit
        case _ => false
      }
      if (sweepable) {
        fsys.listStatus(c).filter(_.isDirectory).foreach { bs =>
          val b = new Path(c, bs.getPath.getName)
          if (!liveOrAncestor(b.toString)) {
            fsys.delete(b, true)
            removedDirs += 1
          }
        }
        // husk check on SUBDIRECTORIES: parquet job commits leave a
        // _SUCCESS marker file in every commit dir, so "no files at all"
        // never triggers — the dir is spent once no bucket dir remains
        if (!fsys.listStatus(c).exists(_.isDirectory)) fsys.delete(c, true)
      }
    }
    (expire.size, removedDirs)
  }
}
