package graft.sources

import org.apache.hadoop.fs.Path

import SnapshotTable.{DeltaEntry, PartField, Snapshot}

/** The snapshot manifest codec: one [[SnapshotTable.Snapshot]] ↔ one
  * `v<N>.txt` body — the single action codec of the Delta log design
  * (Armbrust et al., VLDB'20), here one line-oriented text file per
  * version. Pure: no filesystem, no Spark session.
  *
  * Grammar: a `graft-snapshot-v2` header, then one `key=value` line per
  * field. Single-valued keys (`op`, `keys`, `buckets`, `schema`, `uuid`,
  * `ts`, `statscols`, `partspec`, `changefeed`, `cdc`, `txn`, `dropped`)
  * take their first occurrence; repeated keys carry one element each —
  * `entry=<bucket>\t<dir>` and `delta=<bucket>\t<seq>\t<kind>\t<dir>` in
  * order, and the per-dir or per-name maps `stats`/`rows`/`bytes`/
  * `files`/`layout` (keyed by data dir) and `colmap`/`constraint`/
  * `coldefault`/`existsdefault`/`prop` (keyed by name). A missing
  * header or required field fails the decode; unknown keys are ignored
  * (forward tolerance), and a malformed `files=` line drops only its
  * dir's list, since file lists are an optimization layer
  * ([[SnapshotTable.filesOf]] lists such a dir instead).
  *
  * Dirs: Delta's `add.path` rule — a dir under the table root is
  * recorded relative to it (`data/c3-…/_gb=0`), so moving the root
  * moves the table; a dir outside it (a shallow clone's source dirs)
  * stays absolute. In memory every dir under the root is spelled
  * `<root>/<relative>` with the root as the reader passed it. v1
  * manifests recorded absolute dirs only, in two spellings (bare as the
  * root was given, scheme-qualified as listings return them); decode
  * still reads them. [[below]] is the only code that compares dir
  * spellings. */
private[graft] object SnapshotManifest {

  val Header = "graft-snapshot-v2"
  /** Absolute-dir manifests, still read (see the object doc). */
  private val HeaderV1 = "graft-snapshot-v1"

  /** The manifest body of `snap`, a table at `root`. Optional lines are
    * written only when they carry information, so tables that never
    * used a feature serialize byte-identically to manifests from before
    * it. */
  def encode(snap: Snapshot, root: String): String = {
    val rel = recorded(root, _: String)
    val body = new StringBuilder
    def line(k: String, v: String): Unit = body ++= k += '=' ++= v += '\n'
    def sorted[V](m: Map[String, V]) = m.toSeq.sortBy(_._1)
    body ++= Header += '\n'
    line("op", snap.op)
    line("keys", snap.keys.mkString(","))
    line("buckets", snap.buckets.toString)
    line("schema", snap.schemaDdl)
    line("uuid", snap.uuid)
    line("ts", snap.ts.toString)
    line("statscols", snap.statsCols.mkString(","))
    // legacy positional form until the first evolution; explicit
    // @idx[!] entries afterwards
    if (snap.partSpec.nonEmpty) line("partspec",
      if (legacySpecShape(snap.partSpec)) snap.partSpec.mkString(",")
      else snap.partSpec.map(_.serialized).mkString(","))
    if (snap.changeFeed) line("changefeed", "true")
    sorted(snap.props).foreach { case (k, v) => line("prop", s"$k\t$v") }
    snap.cdc.foreach(d => line("cdc", rel(d)))
    snap.txn.foreach { case (app, ver) =>
      require(!app.contains('\n') && !app.contains('\t'),
        s"txn app id must be line-safe: $app")
      line("txn", s"$app:$ver")
    }
    snap.entries.foreach { case (b, d) => line("entry", s"$b\t${rel(d)}") }
    // layout lines only for entries written under a historical bucket
    // count (absent = current layout)
    snap.entries.foreach { case (_, d) =>
      val l = snap.layoutOf(d)
      if (l != snap.buckets) line("layout", s"${rel(d)}\t$l")
    }
    // column mapping for renamed columns; dropped physical names are
    // reserved forever (re-adding one would resurrect old file data)
    sorted(snap.colMap).foreach { case (lg, ph) => line("colmap", s"$lg\t$ph") }
    sorted(snap.constraints).foreach { case (n, e) =>
      line("constraint", s"$n\t$e") }
    // write-side DEFAULTs, and the frozen existence DEFAULTs of ADD
    // COLUMN … DEFAULT that files lacking the column read at scan
    sorted(snap.colDefaults).foreach { case (c, d) =>
      line("coldefault", s"$c\t$d") }
    sorted(snap.existsDefaults).foreach { case (c, d) =>
      line("existsdefault", s"$c\t$d") }
    if (snap.droppedPhys.nonEmpty) line("dropped", snap.droppedPhys.mkString(","))
    snap.deltas.foreach { d =>
      line("delta", s"${d.bucket}\t${d.seq}\t${d.kind}\t${rel(d.dir)}") }
    // per-dir metadata only for live dirs: carried-forward dirs keep
    // theirs, dropped dirs' metadata goes with them. The commit's own
    // cdc dir is live too (its recorded bytes feed CDF admission).
    // Sorted by the recorded spelling, which a root move leaves as is.
    val live = snap.entries.map(_._2).toSet ++ snap.deltas.map(_.dir) ++
      snap.cdc
    def perDir[V](k: String, m: Map[String, V])(v: V => String): Unit =
      sorted(m.collect { case (d, x) if live(d) => rel(d) -> x })
        .foreach { case (d, x) => line(k, s"$d\t${v(x)}") }
    perDir("stats", snap.dirStats)(SnapshotTable.statsToJson)
    perDir("rows", snap.dirRows)(_.toString)
    perDir("bytes", snap.dirBytes)(_.toString)
    perDir("files", snap.dirFiles)(_.map { case (n, len) => s"$n:$len" }
      .mkString(","))
    body.toString
  }

  /** The snapshot a manifest body of the table at `root` describes, as
    * version `v`; `where` names the source in errors. One pass over the
    * lines, dispatching on the key. */
  def decode(text: String, root: String, where: String, v: Long): Snapshot = {
    val lines = text.split("\n").iterator.filter(_.nonEmpty)
    val header = lines.nextOption()
    require(header.exists(h => h == Header || h == HeaderV1),
      s"$where is not a graft-snapshot-v1/v2 manifest (header: $header)")
    val dir = resolved(root, header.contains(HeaderV1), _: String)
    val one = scala.collection.mutable.Map.empty[String, String]
    val entries = Vector.newBuilder[(Int, String)]
    val deltas = Vector.newBuilder[DeltaEntry]
    val stats = Vector.newBuilder[(String, String)]
    val maps = scala.collection.mutable.Map.empty[String, Map[String, String]]
      .withDefaultValue(Map.empty)
    val files = Map.newBuilder[String, Seq[(String, Long)]]
    def split(k: String, body: String, n: Int): Array[String] = {
      val parts = body.split("\t", n)
      require(parts.length == n, s"manifest $where has a malformed $k line")
      parts
    }
    lines.foreach { l =>
      val i = l.indexOf('=')
      val k = if (i > 0) l.substring(0, i) else ""
      val body = l.substring(i + 1)
      k match {
        case "entry" =>
          val Array(b, d) = split(k, body, 2)
          entries += b.toInt -> dir(d)
        case "delta" =>
          val Array(b, seq, kind, d) = split(k, body, 4)
          require(kind == "rows" || kind == "tomb" || kind == "pos",
            s"manifest $where has unknown delta kind '$kind'")
          deltas += DeltaEntry(b.toInt, seq.toLong, kind, dir(d))
        case "stats" =>
          val Array(d, json) = split(k, body, 2)
          stats += dir(d) -> json
        case "rows" | "bytes" | "layout" | "colmap" | "constraint" |
            "coldefault" | "existsdefault" | "prop" =>
          val Array(a, b) = split(k, body, 2)
          maps(k) = maps(k).updated(a, b)
        case "files" => fileList(body).foreach(f => files += dir(f._1) -> f._2)
        case "op" | "keys" | "buckets" | "schema" | "uuid" | "ts" |
            "statscols" | "partspec" | "changefeed" | "cdc" | "txn" |
            "dropped" =>
          if (!one.contains(k)) one(k) = body
        case _ => () // no key, or a key this reader does not know
      }
    }
    def field(k: String): String =
      one.getOrElse(k, sys.error(s"manifest $where missing field $k"))
    def csv(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)
    def csvOpt(k: String): Seq[String] = one.get(k).fold(Seq.empty[String])(csv)
    val schemaDdl = field("schema")
    val types = SnapshotTable.statsTypes(schemaDdl)
    Snapshot(v, field("op"), csv(field("keys")), field("buckets").toInt,
      schemaDdl, field("uuid"), entries.result(),
      // absent in pre-timestamp manifests: 0 sorts before any real clock
      ts = one.get("ts").fold(0L)(_.toLong),
      statsCols = csvOpt("statscols"),
      dirStats = stats.result().map { case (d, json) =>
        d -> SnapshotTable.statsFromJson(json, types) }.toMap,
      // split on the LAST colon: the app id is caller-chosen free text
      txn = one.get("txn").map { t =>
        val i = t.lastIndexOf(':')
        require(i > 0, s"manifest $where has malformed txn field: $t")
        (t.take(i), t.drop(i + 1).toLong)
      },
      dirRows = maps("rows").map { case (d, n) => dir(d) -> n.toLong },
      dirBytes = maps("bytes").map { case (d, n) => dir(d) -> n.toLong },
      deltas = deltas.result(),
      changeFeed = one.get("changefeed").exists(_.toBoolean),
      cdc = one.get("cdc").map(dir),
      dirLayout = maps("layout").map { case (d, n) => dir(d) -> n.toInt },
      colMap = maps("colmap"),
      droppedPhys = csvOpt("dropped"),
      constraints = maps("constraint"),
      partSpec = SnapshotTable.parsePartSpec(csvOpt("partspec")),
      colDefaults = maps("coldefault"),
      existsDefaults = maps("existsdefault"),
      props = maps("prop"),
      dirFiles = files.result())
  }

  /** `dir` as a manifest records it: relative to `root` when it lies
    * under the root, else absolute. */
  private def recorded(root: String, dir: String): String =
    below(root, dir).getOrElse(dir)

  /** A recorded dir in its in-memory spelling: a relative v2 dir, and a
    * dir under the root in either spelling, become `<root>/<relative>`;
    * a dir outside the root stays as recorded. A v1 dir is never
    * root-relative: it was spelled from the writer's root string. */
  private def resolved(root: String, v1: Boolean, dir: String): String =
    if (v1 || dir.startsWith("/") || hasScheme(dir))
      below(root, dir).fold(dir)(r => s"$root/$r")
    else s"$root/$dir"

  /** The part of `dir` below `root`, if it lies there. When
    * exactly one of the two is scheme-qualified (`file:/t/…` against
    * `/t`, or the reverse) their URI paths are compared; two different
    * schemes never match. A relative root is also compared in its
    * absolute form against the working directory, as the local
    * filesystem resolves it: v1 recorded the partition leaves of a
    * table written through a relative root as `file:/<cwd>/<root>/…`. */
  private def below(root: String, dir: String): Option[String] = {
    def path(p: String) = if (hasScheme(p)) new Path(p).toUri.getPath else p
    def under(root: String) = {
      val (r, d) = if (hasScheme(root) == hasScheme(dir)) (root, dir)
        else (path(root), path(dir))
      Option.when(d.startsWith(r + "/"))(d.substring(r.length + 1))
    }
    under(root).orElse {
      val relative = !root.startsWith("/") && !hasScheme(root)
      Option.when(relative)(java.nio.file.Paths.get(root).toAbsolutePath
        .normalize.toString).flatMap(under)
    }
  }

  /** Does `p` start with a URI scheme (`file:`, `hdfs:`)? */
  private def hasScheme(p: String): Boolean = {
    val c = p.indexOf(':')
    c > 0 && p.lastIndexOf('/', c) < 0
  }

  /** One `files=<dir>\t<name>:<bytes>,…` body, or None when any part is
    * malformed. */
  private def fileList(body: String): Option[(String, Seq[(String, Long)])] =
    body.split("\t", 2) match {
      case Array(dir, fl) =>
        val ents = fl.split(",").toSeq.filter(_.nonEmpty).map { ent =>
          val i = ent.lastIndexOf(':')
          if (i <= 0) None
          else ent.drop(i + 1).toLongOption.filter(_ >= 0).map(ent.take(i) -> _)
        }
        if (ents.forall(_.isDefined)) Some(dir -> ents.flatten) else None
      case _ => None
    }

  /** Does `spec` serialize in the legacy positional form? True until
    * the first evolution (all active, idx == position). */
  private def legacySpecShape(spec: Seq[PartField]): Boolean =
    spec.zipWithIndex.forall { case (f, i) => f.active && f.idx == i }
}
