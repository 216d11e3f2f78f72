package graft.catalog

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Column definition. `computedExpr` is a Spark SQL expression over other
  * columns of the table (the reference's computed columns,
  * `/root/reference/pixeltable/catalog/column.py:73,110-124`).
  * `stored=false` columns are inlined into reads instead of materialized
  * (reference `exprs/expr.py:259` resolve_computed_cols).
  */
final case class ColumnDef(
    name: String,
    dataType: String,
    computedExpr: Option[String] = None,
    stored: Boolean = true,
    addedVersion: Long = 0L,
    droppedVersion: Long = Long.MaxValue, // MaxValue = live
    physicalName: String = "", // "" = same as name; set on rename (Delta-style column mapping)
    // reference Column special properties (catalog/model.py Column(...):
    // comment, custom_metadata, media_validation) — carried through the
    // table model and round-tripped by tableMetadata
    comment: Option[String] = None,
    customMetadata: Map[String, String] = Map.empty,
    mediaValidation: Option[String] = None, // "on_read" | "on_write"
) {
  /** name under which the column is stored in parquet files — stable across
    * renames, so rename is metadata-only (no 100 TB rewrite).
    */
  def storeName: String = if (physicalName.isEmpty) name else physicalName

  def liveAt(version: Long): Boolean =
    addedVersion <= version && version < droppedVersion
}

object ColumnDef {
  /** Column names referenced by a computed expression, via the real SQL
    * parser (NOT a regex word-match: a name inside a string literal is not a
    * dependency, and a backticked reference is). Struct-field access `s.f`
    * parses to a multi-part attribute whose head is the column.
    */
  def exprReferences(exprSql: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(exprSql)
      .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
      }.toSet
}

/** One entry of the table's version log, tracking individual parquet files
  * (Delta-style add/remove). File granularity is what makes copy-on-write
  * writes proportional to the files actually touched, not the table.
  * `revert` truncates the log, leaving later files orphaned (exact
  * reference revert semantics, `/root/reference/pixeltable/store.py:514-610`).
  * `schema` is the Spark schema (JSON) of the `added` files, logged from the
  * frame the writer wrote, so reads know the files' schema without opening
  * them. None for entries logged before the field existed: their schema
  * comes from their files' footers.
  */
final case class VersionEntry(
    version: Long,
    op: String,
    added: Seq[String],
    removed: Seq[String],
    createdAtMs: Long,
    schema: Option[String] = None,
)

/** A declared ANN index over an embedding column, maintained by DML: every
  * `insert` appends the new rows as a fresh index segment and past
  * `segmentThreshold` segments the index is rebuilt at `shards` segments
  * (Lucene-style compaction). The reference maintains embedding indexes
  * transparently inside its insert/update plans (`plan.py:380-390`,
  * `index/embedding_index.py`); here the declaration lives in table meta so
  * the maintenance hook survives sessions.
  */
final case class IndexDef(
    name: String,
    column: String,
    idCol: String,
    kind: String, // "hnsw"
    path: String, // current segment dir; rebuilds swap to a fresh dir via CAS
    shards: Int,
    m: Int,
    efConstruction: Int,
    segmentThreshold: Int,
    // table version whose effects are fully reflected in the segments —
    // committed through the same CAS as the data it indexes, so a crash
    // between a table commit and index maintenance leaves a LAG (repaired
    // from the version log by the next maintenance pass), never a
    // permanently missing range
    indexedThrough: Long = 0L,
    // rows indexed over all segments (hnsw), logged when a segment is
    // written so a search knows its escalation bound without a job; None
    // in metas written before the field existed (search sums the segments)
    rows: Option[Long] = None,
)

/** Persisted physical-layout policy, applied by `GraftTable.optimize()`
  * (the Delta `OPTIMIZE` + table-properties analog): how to cluster, which
  * columns get bloom filters, and a TARGET FILE SIZE instead of a file
  * count — the scale-honest form, since the right file count at 100 TB is
  * a function of data volume, not something a caller can know up front.
  */
final case class LayoutPolicy(
    clusterBy: Seq[String] = Seq.empty,
    zOrder: Boolean = false,
    bloomFilterCols: Seq[String] = Seq.empty,
    bloomFilterNdv: Long = 0L,
    targetFileBytes: Long = 128L * 1024 * 1024,
)

final case class TableMeta(
    name: String,
    columns: Seq[ColumnDef],
    versions: Seq[VersionEntry],
    snapshots: Map[String, Long],
    nextRowId: Long,
    // optimistic-concurrency token: bumped by every committed mutation
    // (including version-less ones like createSnapshot, which is why the
    // version number alone can't serve as the CAS check)
    commitSeq: Long = 0L,
    // DML-maintained ANN indexes (see IndexDef)
    indexes: Seq[IndexDef] = Seq.empty,
    // monotonic count of reverts ever applied to this table. Version
    // numbers alone can't signal a revert to downstream observers: revert
    // truncates the log and later inserts REUSE the rolled-back numbers,
    // so an observer that compares only currentVersion to its high-water
    // mark can be lapped (revert + enough new writes between two looks).
    // Incremental views store the epoch they synced at alongside their
    // lastSeen mark; any mismatch forces a rebuild regardless of ordering.
    revertEpoch: Long = 0L,
    // primary-key unique constraint over live rows (reference
    // `create_table(primary_key=…)` + the partial unique B-tree index of
    // index/btree.py: duplicates rejected on insert, a deleted key is
    // immediately reusable, enforcement survives reload because it lives
    // here in the persisted meta)
    primaryKey: Seq[String] = Seq.empty,
    // reference `create_table(_is_versioned=False)`: no history is
    // retained — every mutation squashes the version log to the live
    // image and vacuums superseded files; time travel / revert /
    // snapshots refuse
    isVersioned: Boolean = true,
    // declared physical-layout policy for optimize() (see LayoutPolicy)
    layout: Option[LayoutPolicy] = None,
) {
  def currentVersion: Long = if (versions.isEmpty) 0L else versions.last.version

  def userColumns: Seq[ColumnDef] = columns

  /** Schema as of `version` — columns added later or dropped by then don't
    * exist there (schema is versioned alongside data for time travel and
    * revert). Renames are metadata-only and retroactive (Delta column-mapping
    * semantics): history reads show the current name.
    */
  def columnsAt(version: Long): Seq[ColumnDef] =
    columns.filter(_.liveAt(version))

  /** currently-live columns (excludes dropped) */
  def liveColumns: Seq[ColumnDef] = columnsAt(currentVersion)

  /** replay the log: parquet files visible at `version` */
  def activeFiles(version: Long): Seq[String] = {
    var files = Vector.empty[String]
    versions.takeWhile(_.version <= version).foreach { v =>
      files = files.filterNot(v.removed.contains) ++ v.added
    }
    files
  }

  /** computed columns in dependency (topological) order; dependencies come
    * from parsing the expression (`ColumnDef.exprReferences`), so names in
    * string literals don't count and quoted references do.
    */
  def computedInTopoOrder: Seq[ColumnDef] = computedInTopoOrderAt(currentVersion)

  def computedInTopoOrderAt(version: Long): Seq[ColumnDef] = {
    val computed = columnsAt(version).filter(_.computedExpr.isDefined)
    val names = computed.map(_.name).toSet
    def deps(c: ColumnDef): Set[String] =
      ColumnDef.exprReferences(c.computedExpr.get).intersect(names) - c.name
    // Kahn's algorithm
    var remaining = computed
    var ordered = Vector.empty[ColumnDef]
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(c => deps(c).forall(d => ordered.exists(_.name == d)))
      require(ready.nonEmpty, s"cyclic computed-column dependency among ${remaining.map(_.name)}")
      ordered ++= ready
      remaining = blocked
    }
    ordered
  }
}

/** File-based metastore for versioned tables (the reference keeps this in
  * Postgres, `/root/reference/pixeltable/metadata/schema.py`). One JSON file
  * per table under `<warehouse>/<table>/meta.json`; writes go through a temp
  * file + atomic move.
  *
  * Concurrency: mutations commit through `commit` — an optimistic
  * check-and-swap on `TableMeta.commitSeq` under an exclusive lock file —
  * so concurrent writers SERIALIZE instead of clobbering each other's
  * manifest (the reference gets this from Postgres transactions +
  * retry_loop, `catalog/catalog.py`; tested there by
  * `tests/test_concurrent.py`). A loser sees `false` and retries its whole
  * mutation from fresh meta (GraftTable.retryOnConflict).
  */
final class Catalog(val warehouse: String) {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def metaPath(table: String) = Paths.get(warehouse, table, "meta.json")

  def exists(table: String): Boolean =
    Files.exists(metaPath(resolveUserPath(table)))

  def load(table: String): TableMeta = {
    val bytes = Files.readAllBytes(metaPath(table))
    val m = mapper.readValue(bytes, classOf[TableMeta])
    // Map[String, Long] loses its value type to erasure — Jackson produces
    // boxed Integers for small numbers; coerce back to Long. Fields added
    // after a meta file was written deserialize as null; default them.
    m.copy(
      snapshots = m.snapshots.asInstanceOf[Map[String, Any]].map {
        case (k, v) => k -> v.asInstanceOf[Number].longValue()
      },
      indexes = Option(m.indexes).getOrElse(Seq.empty).map(ix => ix.copy(rows =
        Option(ix.rows.asInstanceOf[Option[Any]]).flatten.map {
          case n: Number => n.longValue() })),
      layout = Option(m.layout).flatten,
      versions = m.versions.map(e => e.copy(schema = Option(e.schema).flatten)),
      columns = m.columns.map(c => c.copy(
        comment = Option(c.comment).flatten,
        customMetadata = Option(c.customMetadata).getOrElse(Map.empty),
        mediaValidation = Option(c.mediaValidation).flatten)))
  }

  def save(meta: TableMeta): Unit = {
    val path = metaPath(meta.name)
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s"meta.json.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(meta).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Check-and-swap commit for a mutation that started from commitSeq
    * `expectedSeq`: under the table's meta lock, verify no other writer
    * committed in between, then persist with the token bumped. Returns
    * false on conflict — the caller retries its mutation from fresh meta.
    */
  def commit(expectedSeq: Long, meta: TableMeta): Boolean =
    withFileLock(Paths.get(warehouse, meta.name, "meta.json.lock")) {
      val cur = load(meta.name)
      if (cur.commitSeq != expectedSeq) false
      else { save(meta.copy(commitSeq = expectedSeq + 1)); true }
    }

  /** Per-table WRITER lock: serializes whole mutations (meta load → data
    * write → CAS commit), so the expensive multi-second race window of a
    * heavy write never collides in-process or cross-process on one
    * machine — concurrent writers queue FIFO instead of burning replay
    * attempts. Reentrant per thread (index maintenance commits nest
    * inside an insert's window).
    */
  def withWriterLock[A](table: String)(f: => A): A =
    withFileLock(Paths.get(warehouse, table, "writer.lock"))(f)

  /** Exclusive advisory lock: a process-wide fair `ReentrantLock` keyed by
    * lock-file path serializes same-JVM threads (OS file locks are
    * per-process — a second `FileChannel.lock` in the same JVM throws
    * instead of queueing), then an OS `FileChannel` lock serializes
    * processes. Crash-safe by construction: the OS releases file locks on
    * process death, so there is no stale-lock age heuristic and no steal
    * path — the create/steal/delete races of a lock-FILE protocol (two
    * stealers both deleting, a stalled holder deleting its thief's lock)
    * cannot occur. The lock file persists empty and is never deleted.
    *
    * PORTABILITY: requires POSIX-local (or NFSv4/SMB with lock support)
    * storage for the warehouse. On object stores (S3/GCS) advisory file
    * locks don't exist — deployments there need an external lock service
    * (DynamoDB-style, as Delta's S3 committer uses); the CAS in `commit`
    * still bounds the damage to a retried mutation, never a lost one.
    */
  private def withFileLock[A](lockFile: java.nio.file.Path)(f: => A): A = {
    val key = lockFile.toAbsolutePath.toString
    if (Catalog.heldLocks.get.contains(key)) return f // reentrant
    Files.createDirectories(lockFile.getParent)
    val jvmLock = Catalog.jvmLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock(true))
    jvmLock.lock()
    try {
      val ch = java.nio.channels.FileChannel.open(lockFile,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock()
        Catalog.heldLocks.get.add(key)
        try f
        finally { Catalog.heldLocks.get.remove(key); osLock.release() }
      } finally ch.close()
    } finally jvmLock.unlock()
  }

  // ---------- directory namespace ----------
  // The reference organizes tables in a directory tree addressed by
  // slash-separated paths (`globals.py` create_dir/drop_dir/move/ls,
  // `catalog/dir.py`). Here a path maps directly onto warehouse
  // subdirectories: a TABLE is a dir containing `meta.json`, a DIRECTORY
  // is marked by an empty `.dir` file (so empty dirs survive listing),
  // and the root "" always exists. Namespace mutations serialize under a
  // warehouse-level catalog lock.

  private def catalogLock[A](f: => A): A =
    withFileLock(Paths.get(warehouse, ".catalog.lock"))(f)

  private def dirMarker(path: String) = Paths.get(warehouse, path, ".dir")

  // ---------- user namespaces ----------
  // Reference `catalog.create_user` + `Env.user` (tests/test_user.py):
  // per-user logical roots — the same path names resolve to DISTINCT
  // tables per user; the default user (None) lives at the warehouse
  // root. A user's tree lives under the physical root `@<user>`: the
  // '@' prefix is invalid in normal path segments, so user roots can
  // never collide with ordinary tables or directories, and an open
  // table handle (bound to its physical path at create/open time) keeps
  // working across user switches — exactly the reference's handle
  // semantics.

  @volatile private var currentUserOpt: Option[String] = None

  def currentUser: Option[String] = currentUserOpt

  /** Switch the active user (None = the default root namespace).
    * Unknown users refuse, as in the reference.
    */
  def setUser(user: Option[String]): Unit = {
    user.foreach(u => require(userExists(u), s"Unknown user: $u"))
    currentUserOpt = user
  }

  def userExists(u: String): Boolean =
    Files.exists(Paths.get(warehouse, s"@$u", ".dir"))

  /** Create a user root. Idempotent UNDER THE WAREHOUSE CATALOG LOCK, so
    * the concurrent same-user create race (the reference's PXT-1183
    * repro: two processes past the exists check) collapses to one marker
    * write instead of duplicate roots.
    */
  def createUser(u: String): Unit = catalogLock {
    require(u.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"), s"bad user name '$u'")
    val marker = Paths.get(warehouse, s"@$u", ".dir")
    Files.createDirectories(marker.getParent)
    if (!Files.exists(marker)) Files.createFile(marker)
  }

  /** Logical → physical path under the active user's root. Paths already
    * under a user root (leading `@`) pass through, so internal recursion
    * never double-prefixes.
    */
  def resolveUserPath(path: String): String =
    if (path.startsWith("@")) path
    else currentUserOpt match {
      case Some(u) => if (path.isEmpty) s"@$u" else s"@$u/$path"
      case None => path
    }

  /** Validate a table/dir path: slash-separated segments of word chars,
    * dots and dashes, not starting with a dot (reserves `.dir`,
    * `.catalog.lock`), no empty segments. A leading `@user` segment is
    * the physical form of a user root and is accepted only for users
    * that exist.
    */
  def validatePath(path: String): Unit = {
    require(path.nonEmpty, "empty path")
    require(!path.startsWith("/") && !path.endsWith("/"), s"bad path '$path'")
    path.split('/').zipWithIndex.foreach { case (seg, i) =>
      if (i == 0 && seg.startsWith("@"))
        require(userExists(seg.drop(1)), s"Unknown user: ${seg.drop(1)}")
      else require(seg.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
        s"bad path segment '$seg' in '$path'")
    }
  }

  private def parentOf(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i < 0) "" else path.substring(0, i)
  }

  def isDir(path: String): Boolean = path.isEmpty || Files.exists(dirMarker(path))

  def isTable(path: String): Boolean = exists(path)

  private def requireParent(path: String): Unit = {
    val p = parentOf(path)
    require(isDir(p), s"parent directory '$p' does not exist")
  }

  /** Create a directory (reference `pxt.create_dir`). `ifExists`:
    * error | ignore | replace (must be empty) | replace_force (drops
    * contents). `parents` creates missing ancestors.
    */
  def createDir(path0: String, ifExists: String = "error",
      parents: Boolean = false): Unit = catalogLock {
    val path = resolveUserPath(path0)
    validatePath(path)
    require(!isTable(path), s"'$path' is a table")
    if (isDir(path)) ifExists match {
      case "ignore" => return
      case "replace" =>
        require(dirEntries(path).isEmpty, s"directory '$path' is not empty")
      case "replace_force" => dropDir(path, force = true)
      case _ => throw new IllegalArgumentException(s"directory '$path' already exists")
    }
    if (parents) {
      val segs = path.split('/')
      segs.indices.foreach { i =>
        val p = segs.take(i + 1).mkString("/")
        require(!isTable(p), s"'$p' is a table")
        Files.createDirectories(dirMarker(p).getParent)
        if (!Files.exists(dirMarker(p))) Files.createFile(dirMarker(p))
      }
    } else {
      requireParent(path)
      Files.createDirectories(dirMarker(path).getParent)
      if (!Files.exists(dirMarker(path))) Files.createFile(dirMarker(path))
    }
  }

  /** Immediate children of a directory: (name, isTable) pairs. */
  private def dirEntries(path: String): Seq[(String, Boolean)] = {
    val base = if (path.isEmpty) Paths.get(warehouse) else Paths.get(warehouse, path)
    if (!Files.exists(base)) Seq.empty
    else {
      val s = Files.list(base)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(Files.isDirectory(_))
        .flatMap { p =>
          val n = p.getFileName.toString
          // user roots (@name) are namespace plumbing, not directory
          // entries — the default user's root listing doesn't show them
          if (path.isEmpty && n.startsWith("@")) None
          else if (Files.exists(p.resolve("meta.json"))) Some(n -> true)
          else if (Files.exists(p.resolve(".dir"))) Some(n -> false)
          else None
        }.toSeq.sortBy(_._1)
      finally s.close()
    }
  }

  /** Drop a directory (reference `pxt.drop_dir`): refuses non-empty unless
    * `force`, which removes the whole subtree including tables.
    */
  def dropDir(path0: String, force: Boolean = false,
      ifNotExists: String = "error"): Unit = catalogLock {
    val path = resolveUserPath(path0)
    validatePath(path)
    if (!isDir(path)) {
      if (ifNotExists == "ignore") return
      throw new IllegalArgumentException(s"no such directory: '$path'")
    }
    val entries = dirEntries(path)
    require(force || entries.isEmpty, s"directory '$path' is not empty")
    val dir = Paths.get(warehouse, path)
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally s.close()
  }

  /** Directories under `path` as full paths, sorted (reference
    * `pxt.list_dirs`).
    */
  def listDirs(path0: String = "", recursive: Boolean = true): Seq[String] = {
    val path = resolveUserPath(path0)
    val here = dirEntries(path).collect { case (n, false) =>
      if (path.isEmpty) n else s"$path/$n"
    }
    if (!recursive) here
    else here ++ here.flatMap(d => listDirs(d, recursive = true))
  }.sorted

  /** Tables under `path` as full paths, sorted (reference
    * `pxt.list_tables`).
    */
  def listTablesUnder(path0: String = "", recursive: Boolean = true): Seq[String] = {
    val path = resolveUserPath(path0)
    val entries = dirEntries(path)
    val tables = entries.collect { case (n, true) =>
      if (path.isEmpty) n else s"$path/$n"
    }
    val subdirs = entries.collect { case (n, false) =>
      if (path.isEmpty) n else s"$path/$n"
    }
    (if (recursive) tables ++ subdirs.flatMap(listTablesUnder(_, recursive = true))
     else tables).sorted
  }

  /** Directory contents as a DataFrame — (name, kind, version) rows for the
    * immediate children of `path` (reference `pxt.ls()`; version is null
    * for directories).
    */
  def ls(spark: org.apache.spark.sql.SparkSession, path: String = "")
      : org.apache.spark.sql.DataFrame = {
    val rows = dirEntries(path).map { case (n, table) =>
      val full = if (path.isEmpty) n else s"$path/$n"
      (n, if (table) "table" else "dir",
        if (table) Option(load(full).currentVersion) else None)
    }
    import spark.implicits._
    rows.toDF("name", "kind", "version")
  }

  /** Move/rename a table or directory (reference `pxt.move`). Rewrites the
    * absolute data-file URIs in moved manifests (version log + index
    * paths). Open handles to a moved table are invalidated — their next
    * operation fails to load the old path. `ifExists='ignore'` no-ops when
    * the destination exists; `ifNotExists='ignore'` no-ops when the source
    * doesn't.
    */
  def move(path0: String, newPath0: String, ifExists: String = "error",
      ifNotExists: String = "error"): Unit = catalogLock {
    val path = resolveUserPath(path0)
    val newPath = resolveUserPath(newPath0)
    validatePath(path); validatePath(newPath)
    require(path != newPath, "source and destination are identical")
    require(!(newPath + "/").startsWith(path + "/"),
      s"cannot move '$path' into its own subtree")
    if (!isTable(path) && !isDir(path)) {
      if (ifNotExists == "ignore") return
      throw new IllegalArgumentException(s"no such table or directory: '$path'")
    }
    if (isTable(newPath) || isDir(newPath)) {
      if (ifExists == "ignore") return
      throw new IllegalArgumentException(s"'$newPath' already exists")
    }
    requireParent(newPath)
    // block in-flight mutations on a moved table; dir moves take the lock
    // of every nested table (depth-first via recursion below)
    if (isTable(path)) withFileLock(Paths.get(warehouse, path, "writer.lock")) {
      Files.move(Paths.get(warehouse, path), Paths.get(warehouse, newPath),
        StandardCopyOption.ATOMIC_MOVE)
      rewriteMovedMeta(path, newPath)
      rewriteViewLineage(Map(path -> newPath))
    } else {
      Files.move(Paths.get(warehouse, path), Paths.get(warehouse, newPath),
        StandardCopyOption.ATOMIC_MOVE)
      // rewrite every nested table's manifest
      val renames = listTablesUnder(newPath).map { t =>
        val old = path + t.stripPrefix(newPath)
        rewriteMovedMeta(old, t)
        old -> t
      }
      rewriteViewLineage(renames.toMap)
    }
  }

  /** After a table/dir move, fix VIEW LINEAGE everywhere: a view records its
    * base under a `__last_seen_base_<name>` snapshot key; a stale key after
    * the base moves would make the next refresh miss it, default lastSeen
    * to 0, and RE-EXPAND every base row into duplicates. Metadata-only scan
    * of every table's manifest.
    */
  private def rewriteViewLineage(renames: Map[String, String]): Unit = {
    if (renames.isEmpty) return
    // BOTH lineage key families embed the base name: the high-water mark
    // AND the revert-epoch mark. Missing the epoch key after a move would
    // reset the view's remembered epoch to 0 and force a spurious full
    // rebuild of every view whose base ever reverted (audit r6: move ×
    // revert-epoch).
    val prefixes = Seq(Views.lastSeenPrefix, Views.epochPrefix)
    listTablesUnder("", recursive = true).foreach { t =>
      def fixed(m: TableMeta): Map[String, Long] = m.snapshots.map { kv =>
        prefixes.collectFirst {
          case p if kv._1.startsWith(p) && renames.contains(kv._1.stripPrefix(p)) =>
            (p + renames(kv._1.stripPrefix(p))) -> kv._2
        }.getOrElse(kv)
      }
      // CAS under the view's writer lock — a raw save would clobber any
      // commit that landed since the load and regress commitSeq
      if (fixed(load(t)) != load(t).snapshots) withWriterLock(t) {
        var done = false
        while (!done) {
          val m = load(t)
          done = commit(m.commitSeq, m.copy(snapshots = fixed(m)))
        }
      }
    }
  }

  /** After a physical move, fix the moved manifest: `name` and every
    * absolute file URI in the version log / index defs contains the old
    * path. URIs appear both as plain absolute paths and `file:` URIs, so
    * the rewrite is a substring replace of the old absolute prefix.
    */
  private def rewriteMovedMeta(oldPath: String, newPath: String): Unit = {
    val m = load(newPath).copy(name = newPath) // loads by location; name field is stale
    val oldAbs = Paths.get(warehouse, oldPath).toAbsolutePath.toString + "/"
    val newAbs = Paths.get(warehouse, newPath).toAbsolutePath.toString + "/"
    def fix(s: String) = s.replace(oldAbs, newAbs)
    save(m.copy(
      versions = m.versions.map(v =>
        v.copy(added = v.added.map(fix), removed = v.removed.map(fix))),
      indexes = m.indexes.map(i => i.copy(path = fix(i.path)))))
  }

  /** Ensure a table path can be created here: valid segments, parent dir
    * exists, and nothing already occupies the path.
    */
  def requireCreatable(path: String): Unit = {
    validatePath(path)
    require(!isDir(path), s"'$path' is a directory")
    requireParent(path)
  }

  /** Drop a table (reference `pxt.drop_table`, `globals.py:641`): refuses
    * when dependent views exist unless `force`, which drops the dependents
    * first (recursively — views of views cascade too). Missing tables no-op
    * with `ifNotExists='ignore'` (the default, matching prior behavior).
    */
  def dropTable(table0: String, force: Boolean = false,
      ifNotExists: String = "ignore"): Unit = {
    val table = resolveUserPath(table0)
    if (!exists(table)) {
      if (ifNotExists == "ignore") return
      throw new IllegalArgumentException(s"no such table: '$table'")
    }
    val deps = dependentViews(table)
    if (deps.nonEmpty) {
      require(force, s"table '$table' has dependent views " +
        s"${deps.mkString(", ")}; pass force=true to drop them too")
      deps.foreach(dropTable(_, force = true))
    }
    val dir = Paths.get(warehouse, table)
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally s.close()
    }
    // reference FileCache.clear(tbl_id) on drop: purge this table's
    // cached external media from every JVM-local cache dir (cluster
    // executors purge lazily via their own LRU budgets)
    graft.multimodal.FileCache.clearTable(
      graft.multimodal.FileCache.tableId(table))
  }

  /** Tables whose view lineage points at `table` (metadata-only scan).
    * Scans the WHOLE warehouse regardless of the active user — a view can
    * only reference a base it could resolve, but lineage keys are
    * physical, so the scan must be too.
    */
  def dependentViews(table: String): Seq[String] =
    allTablesPhysical.filter(t => t != table &&
      load(t).snapshots.contains(Views.lastSeenPrefix + table))

  /** Every table in the warehouse by PHYSICAL path (user roots included),
    * bypassing user-path resolution.
    */
  private def allTablesPhysical: Seq[String] = {
    val w = Paths.get(warehouse)
    if (!Files.exists(w)) return Seq.empty
    val s = Files.walk(w)
    try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .asScala
      .filter(p => p.getFileName.toString == "meta.json")
      .map(p => w.relativize(p.getParent).toString.replace('\\', '/'))
      .toSeq.sorted
    finally s.close()
  }

  def listTables(): Seq[String] = {
    val w = Paths.get(warehouse)
    if (!Files.exists(w)) Seq.empty
    else {
      val s = Files.list(w)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(p => Files.exists(p.resolve("meta.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}

object Catalog {
  /** JVM-level mutexes shadowing the OS file locks, keyed by absolute
    * lock-file path (shared across Catalog instances of one warehouse).
    * Fair, so contending writer threads queue FIFO.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** Lock paths held by the current thread — makes `withFileLock` reentrant
    * (nested acquisitions of the same lock are no-ops).
    */
  private val heldLocks = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }
}
