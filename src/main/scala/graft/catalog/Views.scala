package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Views over versioned tables:
  *
  *  - predicate/select views (reference `pxt.create_view(base, ...)`,
  *    `/root/reference/pixeltable/globals.py:286-333`) — logical by default,
  *    materialized on demand;
  *  - component (iterator) views — one-to-many expansion of each base row
  *    via an array-producing SQL expression + posexplode, keyed by
  *    `(base _rowid, _pos)` exactly like the reference's
  *    ComponentIterationNode (`exec/component_iteration_node.py:83-85`);
  *  - incremental maintenance: `refresh` processes only base rows created
  *    since the last processed base version (`_v_min > lastSeen`), the
  *    reference's propagates_insert semantics (`plan.py:761-834`).
  *
  * The iterator expression replaces the reference's Python generator
  * classes: e.g. `string_splitter` ≡ `split(text, '\\s+')`, a chunker ≡
  * `transform(sequence(...), i -> substr(text, ..., ...))`. flatMap-style
  * expansion stays fully distributed (posexplode is a generator in codegen).
  */
object Views {

  val BaseRowId = "_base_rowid"
  val Pos = "_pos"

  /** Logical predicate/select view: no storage, composes into the caller's
    * plan so Catalyst pushes filters/pruning through it.
    */
  def logicalView(base: GraftTable, whereSql: Option[String],
      selectExprs: Seq[(String, String)]): DataFrame = {
    var df = base.read()
    whereSql.foreach(w => df = df.filter(expr(w)))
    if (selectExprs.nonEmpty)
      df = df.select(selectExprs.map { case (alias, e) => expr(e).as(alias) }: _*)
    df
  }

  /** One-to-many component expansion of arbitrary rows: every base row emits
    * one output row per element of `iteratorExprSql` (an array-typed SQL
    * expression), with the element bound as `valueCol` and its index as
    * `_pos`.
    */
  def expand(baseRows: DataFrame, iteratorExprSql: String, valueCol: String): DataFrame =
    baseRows.select(
      (baseRows.columns.map(col) :+
        posexplode(expr(iteratorExprSql)).as(Seq(Pos, valueCol))): _*)

  /** Reference `create_view(..., if_exists=...)` collision directive for
    * both view kinds (`catalog/catalog.py:2872-2958`): `"error"` raises;
    * `"ignore"` returns the EXISTING view handle, but only when the path
    * holds a view of the SAME base (anything else raises, like the
    * reference's type/base check); `"replace"` drops the existing object
    * first (raising if it has dependent views), `"replace_force"` drops
    * dependents too. Returns Some(existing) for the ignore short-circuit.
    */
  private def resolveViewCollision(spark: SparkSession, catalog: Catalog,
      name0: String, base: GraftTable, ifExists: String): Option[GraftTable] = {
    require(Set("error", "ignore", "replace", "replace_force")(ifExists),
      s"ifExists must be one of error|ignore|replace|replace_force, got '$ifExists'")
    val name = catalog.resolveUserPath(name0)
    if (!catalog.exists(name)) return None
    ifExists match {
      case "error" =>
        throw new IllegalArgumentException(s"table $name already exists")
      case "ignore" =>
        val m = catalog.load(name)
        if (!m.snapshots.contains(lastSeenKey(base)))
          throw new IllegalArgumentException(s"path $name already exists " +
            s"and is not a view of ${base.name}")
        Some(GraftTable.open(spark, catalog, name))
      case _ =>
        catalog.dropTable(name, force = ifExists == "replace_force",
          ifNotExists = "error")
        None
    }
  }

  /** Create a materialized component view as its own versioned table.
    * The view's schema = (base _rowid as _base_rowid, _pos, valueCol) +
    * `keepCols` carried from the base.
    */
  def createComponentView(spark: SparkSession, catalog: Catalog, name: String,
      base: GraftTable, iteratorExprSql: String, valueCol: String,
      valueType: String, keepCols: Seq[ColumnDef],
      ifExists: String = "error"): GraftTable = {
    resolveViewCollision(spark, catalog, name, base, ifExists)
      .foreach(existing => return existing)
    val cols = Seq(
      ColumnDef(BaseRowId, "bigint"), ColumnDef(Pos, "int"),
      ColumnDef(valueCol, valueType)) ++ keepCols
    val view = GraftTable.create(spark, catalog, name, cols)
    setMark(view, lastSeenKey(base), 0L, base, base.meta.revertEpoch)
    refreshComponentView(view, base, iteratorExprSql, valueCol, keepCols.map(_.name))
    view
  }

  /** Incremental maintenance: expand only base rows inserted after the last
    * refresh (`_v_min > lastSeen`) and append them to the view store.
    */
  def refreshComponentView(view: GraftTable, base: GraftTable,
      iteratorExprSql: String, valueCol: String, keepCols: Seq[String]): Long =
    refreshComponentViewStatus(view, base, iteratorExprSql, valueCol, keepCols).version

  private def refreshComponentViewStatus(view: GraftTable, base: GraftTable,
      iteratorExprSql: String, valueCol: String,
      keepCols: Seq[String]): GraftTable.UpdateStatus = {
    val (lastSeen, epoch) = healAfterRevert(view, base)
    val baseVersion = base.currentVersion
    if (baseVersion <= lastSeen)
      return GraftTable.UpdateStatus(view.currentVersion, 0L, 0L)
    if (!mightHaveFreshRows(base, lastSeen)) {
      // delete-only / metadata-only window, proven from the version log:
      // skip the empty expand+insert job (it minted an empty-file view
      // version for nothing) and just advance the high-water mark
      setMark(view, lastSeenKey(base), baseVersion, base, epoch)
      return GraftTable.UpdateStatus(view.currentVersion, 0L, 0L)
    }
    val fresh = base.readWithSystem()
      .filter(col(GraftTable.VMin) > lastSeen && col(GraftTable.VMax) === GraftTable.Live)
    val expanded = expand(fresh, iteratorExprSql, valueCol)
      .select((Seq(col(GraftTable.RowId).as(BaseRowId), col(Pos), col(valueCol)) ++
        keepCols.map(col)): _*)
    val st = view.insertStatus(expanded)
    setMark(view, lastSeenKey(base), baseVersion, base, epoch)
    st
  }

  /** Full incremental sync: propagate base DELETEs and UPDATEs in addition
    * to inserts (reference update/delete cascade into views,
    * `plan.py:414-485`). Base rows closed since the last sync get their
    * view expansions deleted; updated base rows (closed + reinserted under
    * the same `_rowid`) are re-expanded by the insert path.
    */
  def syncComponentView(view: GraftTable, base: GraftTable,
      iteratorExprSql: String, valueCol: String, keepCols: Seq[String]): Long =
    syncComponentViewStatus(view, base, iteratorExprSql, valueCol, keepCols)
      .viewVersion

  /** One base table's view-maintenance counts — the reference's
    * cascade_row_count_stats (`catalog/update_status.py`): how many view
    * rows a sync deleted and inserted, each from the Observation/footer
    * machinery of the underlying DML (no extra jobs).
    */
  final case class SyncStats(viewVersion: Long, rowsDeleted: Long,
      rowsInserted: Long,
      // media-cache working-set warnings drained by the sync's own DML ops
      // (reference emit_eviction_warnings: once per top-level operation —
      // a backfill that fetched, evicted and re-fetched media reports here)
      cacheWarnings: Seq[String] = Seq.empty)

  def syncComponentViewStatus(view: GraftTable, base: GraftTable,
      iteratorExprSql: String, valueCol: String,
      keepCols: Seq[String]): SyncStats = {
    val (lastSeen, _) = healAfterRevert(view, base)
    val baseVersion = base.currentVersion
    var delWarnings: Seq[String] = Seq.empty
    var deleted = 0L
    if (baseVersion > lastSeen && mightHaveClosedRows(base, lastSeen)) {
      // rows closed (deleted or replaced) after the last sync — must read
      // history, not the MVCC-visible image, to see them. The closed-rowid
      // set stays distributed: one anti-join-style rewrite, one view version
      // (a driver-side collect + chunked IN-deletes would OOM the driver and
      // mint a version per chunk at scale).
      val closed = base.readHistory()
        .filter(col(GraftTable.VMax) > lastSeen &&
          col(GraftTable.VMax) =!= GraftTable.Live)
        .select(col(GraftTable.RowId))
      if (hasClosedRowsCertainly(base, lastSeen) || !closed.isEmpty) {
        val delSt = view.deleteByKeysStatus(closed, BaseRowId)
        deleted = delSt.numRows
        delWarnings = delSt.cacheWarnings
      }
    }
    val st = refreshComponentViewStatus(view, base, iteratorExprSql,
      valueCol, keepCols)
    SyncStats(st.version, deleted, st.numRows,
      cacheWarnings = delWarnings ++ st.cacheWarnings)
  }

  // ---------- materialized predicate/select views ----------

  /** Create a materialized predicate/select view (the reference's default
    * view kind: `pxt.create_view(base, filter=..., select=...)`) as its own
    * versioned table keyed by `_base_rowid`. Column types are inferred from
    * the select expressions against the base schema.
    */
  def createMaterializedView(spark: SparkSession, catalog: Catalog, name: String,
      base: GraftTable, whereSql: Option[String],
      selectExprs: Seq[(String, String)],
      ifExists: String = "error"): GraftTable = {
    resolveViewCollision(spark, catalog, name, base, ifExists)
      .foreach(existing => return existing)
    val sample = mvTransform(base.readWithSystem().limit(0), whereSql, selectExprs)
    val cols = sample.schema.fields.map(f =>
      ColumnDef(f.name, f.dataType.sql.toLowerCase)).toSeq
    val view = GraftTable.create(spark, catalog, name, cols)
    setMark(view, lastSeenKey(base), 0L, base, base.meta.revertEpoch)
    syncMaterializedView(view, base, whereSql, selectExprs)
    view
  }

  /** Incremental sync of a materialized view: expansions of base rows
    * closed since the last sync are deleted; base rows created since then
    * re-enter through the predicate (a row updated OUT of the predicate is
    * removed and not re-added).
    */
  def syncMaterializedView(view: GraftTable, base: GraftTable,
      whereSql: Option[String], selectExprs: Seq[(String, String)]): Long =
    syncMaterializedViewStatus(view, base, whereSql, selectExprs).viewVersion

  def syncMaterializedViewStatus(view: GraftTable, base: GraftTable,
      whereSql: Option[String],
      selectExprs: Seq[(String, String)]): SyncStats = {
    val (lastSeen, epoch) = healAfterRevert(view, base)
    val baseVersion = base.currentVersion
    if (baseVersion <= lastSeen) return SyncStats(view.currentVersion, 0L, 0L)
    // distributed closed-row propagation — see syncComponentView. The
    // version-log guards skip the probe/insert JOBS for windows the log
    // proves one-sided (insert-only syncs ran a closed-row scan and
    // delete-only syncs an empty expand+insert, one job each for nothing).
    val delSt =
      if (!mightHaveClosedRows(base, lastSeen)) None
      else {
        val closed = base.readHistory()
          .filter(col(GraftTable.VMax) > lastSeen &&
            col(GraftTable.VMax) =!= GraftTable.Live)
          .select(col(GraftTable.RowId))
        if (!hasClosedRowsCertainly(base, lastSeen) && closed.isEmpty) None
        else Some(view.deleteByKeysStatus(closed, BaseRowId))
      }
    val st =
      if (!mightHaveFreshRows(base, lastSeen))
        GraftTable.UpdateStatus(view.currentVersion, 0L, 0L)
      else {
        val fresh = base.readWithSystem()
          .filter(col(GraftTable.VMin) > lastSeen &&
            col(GraftTable.VMax) === GraftTable.Live)
        view.insertStatus(mvTransform(fresh, whereSql, selectExprs))
      }
    setMark(view, lastSeenKey(base), baseVersion, base, epoch)
    SyncStats(st.version, delSt.map(_.numRows).getOrElse(0L), st.numRows,
      cacheWarnings = delSt.toSeq.flatMap(_.cacheWarnings) ++ st.cacheWarnings)
  }

  private def mvTransform(rows: DataFrame, whereSql: Option[String],
      selectExprs: Seq[(String, String)]): DataFrame = {
    var df = rows
    whereSql.foreach(w => df = df.filter(expr(w)))
    df.select((col(GraftTable.RowId).as(BaseRowId) +:
      selectExprs.map { case (alias, e) => expr(e).as(alias) }): _*)
  }

  // ---------- version-log guards (driver-side, zero Spark jobs) ----------
  // A sync window (lastSeen, current] can only contain CLOSED rows if some
  // version in it is a row-closing rewrite (delete/update/batch_update/
  // recompute with files added), and can only contain FRESH rows (_v_min in
  // the window) if some version is a row-opening write (insert, or the
  // rewritten halves of update/batch_update/recompute). The probes are
  // skipped only for ops known not to change row visibility: compact copies
  // rows byte-identical (no new _v_min/_v_max values beyond what their own
  // ops already put in the window) and create and add/drop/rename_column
  // never touch it. Any other op counts as both closing and opening.
  // Unversioned bases squash their log, so the guards stay conservatively
  // permissive there and the data probes run as before.

  private val closingOps = Set("delete", "update", "batch_update", "recompute")
  private val openingOps = Set("insert", "update", "batch_update", "recompute")
  private val neutralOps =
    Set("create", "compact", "add_column", "drop_column", "rename_column")

  private def opsIn(base: GraftTable, lastSeen: Long,
      matches: String => Boolean): Boolean = {
    val m = base.meta
    m.versions.exists(e => e.version > lastSeen &&
      e.version <= m.currentVersion && e.added.nonEmpty && matches(e.op))
  }

  private def mayClose(op: String): Boolean =
    closingOps(op) || !(openingOps(op) || neutralOps(op))

  private def mayOpen(op: String): Boolean =
    openingOps(op) || !(closingOps(op) || neutralOps(op))

  /** false ⇒ provably no closed rows in the window (skip the history scan) */
  private def mightHaveClosedRows(base: GraftTable, lastSeen: Long): Boolean =
    !base.meta.isVersioned || opsIn(base, lastSeen, mayClose)

  /** true ⇒ provably SOME closed rows (skip the isEmpty probe job) */
  private def hasClosedRowsCertainly(base: GraftTable, lastSeen: Long): Boolean =
    base.meta.isVersioned && opsIn(base, lastSeen, closingOps)

  /** false ⇒ provably no rows with `_v_min` in the window (skip the insert) */
  private def mightHaveFreshRows(base: GraftTable, lastSeen: Long): Boolean =
    !base.meta.isVersioned || opsIn(base, lastSeen, mayOpen)

  private def lastSeenKey(base: GraftTable) = s"__last_seen_base_${base.name}"
  private def epochKey(base: GraftTable) = s"__revert_epoch_base_${base.name}"
  private[catalog] val lastSeenPrefix = "__last_seen_base_"
  private[catalog] val epochPrefix = "__revert_epoch_base_"

  /** True for snapshot-map keys that carry view lineage (high-water mark or
    * revert epoch) rather than a user snapshot pin.
    */
  private[catalog] def isLineageKey(k: String): Boolean =
    k.startsWith(lastSeenPrefix) || k.startsWith(epochPrefix)

  /** A base REVERT invalidates incremental view state: the view may hold
    * expansions of rows that no longer exist at any readable base version,
    * and the version log the sync diff walks has been truncated. Detection
    * is ORDER-INDEPENDENT (ADVICE r5): `revert` truncates the log and later
    * inserts REUSE the rolled-back version numbers, so a revert followed by
    * enough new base writes before the next refresh makes
    * `currentVersion >= lastSeen` again and a version-only compare is
    * lapped. The base therefore carries a monotonic `revertEpoch`
    * (TableMeta), and the view stores the epoch it last synced at alongside
    * its high-water mark; any epoch mismatch — regardless of what the
    * version numbers look like — forces the rebuild. The version compare
    * stays as a second tripwire for marks written before epochs existed.
    * The view self-heals with a full rebuild: delete everything, reset the
    * mark, and let the caller's normal incremental pass re-expand the live
    * image. (The reference's own revert/view interaction is an open TODO,
    * `catalog/catalog.py:641`; a rebuild is the conservative correct
    * answer.) Returns (effective lastSeen, base epoch observed BEFORE any
    * base data is read — the caller passes it back to `setMark`).
    */
  private def healAfterRevert(view: GraftTable, base: GraftTable): (Long, Long) = {
    val key = lastSeenKey(base)
    val bm = base.meta
    val lastSeen = view.meta.snapshots.getOrElse(key, 0L)
    val seenEpoch = view.meta.snapshots.getOrElse(epochKey(base), 0L)
    if (bm.revertEpoch == seenEpoch && bm.currentVersion >= lastSeen)
      (lastSeen, bm.revertEpoch)
    else {
      view.delete("true")
      setMark(view, key, 0L, base, bm.revertEpoch)
      (0L, bm.revertEpoch)
    }
  }

  /** CAS-protected lineage-mark update. A raw `catalog.save` here would
    * clobber any commit that landed between the caller's last read and the
    * save — and REGRESS `commitSeq`, breaking the CAS for every in-flight
    * writer. Under the view's writer lock an in-process conflict is
    * impossible; the loop covers out-of-band writers on shared storage.
    */
  private def setMark(view: GraftTable, key: String, value: Long,
      base: GraftTable, epoch: Long): Unit = {
    // the epoch is captured by the caller BEFORE it read any base data and
    // committed in the SAME CAS as the high-water mark: if a revert lands
    // mid-refresh, the stored (pre-revert) epoch mismatches the base's new
    // one and the next sync rebuilds — storing the epoch as-of-now instead
    // would hide exactly that revert
    view.catalog.withWriterLock(view.name) {
      var done = false
      while (!done) {
        val m = view.catalog.load(view.name)
        done = view.catalog.commit(m.commitSeq,
          m.copy(snapshots = m.snapshots +
            (key -> value) + (epochKey(base) -> epoch)))
      }
    }
  }

  /** Views maintained over `base`, anywhere in the warehouse (reference
    * `Table.list_views`, `catalog/table.py:69`): a view records its base
    * under the `__last_seen_base_<name>` snapshot key, so lineage is read
    * straight from table metadata — a driver-side metadata scan.
    */
  def listViews(catalog: Catalog, base: GraftTable): Seq[String] =
    catalog.listTablesUnder("", recursive = true)
      .filter(t => t != base.name &&
        catalog.load(t).snapshots.contains(lastSeenKey(base)))

  /** The base table a view is maintained over, or None for ordinary tables
    * (reference `Table.get_base_table`).
    */
  def baseOf(catalog: Catalog, view: GraftTable): Option[String] =
    view.meta.snapshots.keys.collectFirst {
      case k if k.startsWith(lastSeenPrefix) => k.stripPrefix(lastSeenPrefix)
    }
}
